"""Seeded inputs for the benchmark: graft's ten tables in the schemas the
engine reads (region … embeddings, one parquet file each, one row group),
the document mutations of `maintain`, and the envelope records of
`stream`. Everything is a pure function of (seed, sizes); nothing is
read from outside the checkout.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = (["en"] * 41) + (["zh"] * 15) + (["es"] * 15) + (["fr"] * 15) + (["de"] * 14)
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400_000_000


def _write(table, path):
    pq.write_table(table, path, row_group_size=1 << 30)


def _days(base, offsets):
    return pa.array(np.datetime64(base, "us") + offsets.astype("timedelta64[D]"),
                    pa.timestamp("us"))


def _text(rng, n_words):
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def _near_copy(rng, text):
    """A near-copy: a few words replaced and a marker word appended."""
    ws = text.split()
    for _ in range(max(1, len(ws) // 20)):
        ws[int(rng.integers(0, len(ws)))] = WORDS[int(rng.integers(0, len(WORDS)))]
    return " ".join(ws + ["dup"])


def documents_table(rng, ids, pool=None, dup_share=0.05):
    """Documents with ids `ids`; a `dup_share` of them are near-copies of
    earlier documents (or of `pool`, texts already in the corpus)."""
    texts = []
    for i in range(len(ids)):
        src = pool if pool else texts
        if src and rng.random() < dup_share:
            texts.append(_near_copy(rng, src[int(rng.integers(0, len(src)))]))
        else:
            texts.append(_text(rng, int(rng.integers(10, 101))))
    n = len(ids)
    return pa.table({
        "doc_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)], pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def tables(out, seed, sf, n_docs, n_emb):
    """Writes the ten tables at scale `sf` (sf 0.1 has 600k lineitems)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])

    def n(base):
        return max(10, int(base * sf))

    _write(pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": pa.array(REGIONS)}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
           f"{out}/nation.parquet")
    nc, ns, npart, no, nl, ne = (n(150_000), n(10_000), n(200_000), n(1_500_000),
                                 n(6_000_000), n(1_000_000))
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, nc)]),
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2)),
    }), f"{out}/supplier.parquet")
    _write(pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, npart)]),
        "p_type": pa.array([PART_TYPES[i] for i in rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)),
    }), f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, no), 2)),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, no)),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, no)]),
    }), f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, nl)]),
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2498, nl)),
    }), f"{out}/lineitem.parquet")
    ts = np.sort(rng.integers(0, 30 * DAY_US, ne))
    _write(pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, int(15_000 * sf)), ne).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, ne)]),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)]),
    }), f"{out}/events.parquet")
    _write(documents_table(rng, range(n_docs)), f"{out}/documents.parquet")
    vec = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    }), f"{out}/embeddings.parquet")


def split_documents(data, parts):
    """Turns documents.parquet into a directory of `parts` part files."""
    path = f"{data}/documents.parquet"
    t = pq.read_table(path)
    os.remove(path)
    os.makedirs(path)
    step = -(-t.num_rows // parts)
    for i in range(parts):
        _write(t.slice(i * step, step), f"{path}/part-{i:05d}.parquet")


def mutations(data, seed, share, append_dir, takedown_dir):
    """Stages the two `maintain` mutations of the corpus in `data`:

    - append: `share` of the corpus as new documents in one new part
      file, half of them near-copies of existing documents;
    - takedown: every part file (the appended one included) that holds
      one of a seeded `share` of the documents, rewritten without them.

    Returns the ids taken down."""
    rng = np.random.default_rng([seed, 2])
    docs = f"{data}/documents.parquet"
    names = sorted(os.listdir(docs))
    base = {nm: pq.read_table(f"{docs}/{nm}") for nm in names}
    texts = [t for tb in base.values() for t in tb.column("text").to_pylist()]
    n_base = sum(tb.num_rows for tb in base.values())
    next_id = max(max(tb.column("doc_id").to_pylist()) for tb in base.values()) + 1
    k = max(2, int(round(n_base * share)))
    appended = documents_table(rng, range(next_id, next_id + k), pool=texts, dup_share=0.5)
    new_name = f"part-{len(names):05d}.parquet"
    os.makedirs(append_dir, exist_ok=True)
    _write(appended, f"{append_dir}/{new_name}")
    after = dict(base, **{new_name: appended})
    all_ids = [i for tb in after.values() for i in tb.column("doc_id").to_pylist()]
    gone = set(int(i) for i in rng.choice(all_ids, size=k, replace=False))
    os.makedirs(takedown_dir, exist_ok=True)
    for nm, tb in after.items():
        ids = np.asarray(tb.column("doc_id").to_pylist())
        keep = ~np.isin(ids, list(gone))
        if not keep.all():
            _write(tb.filter(pa.array(keep)), f"{takedown_dir}/{nm}")
    return sorted(gone)


def stream_records(path, seed, n, n_docs):
    """`n` envelope lines, one record each: `["label,text"]`, label 4 iff
    the text mentions "fast" (graft.streaming.TrainMain's rule)."""
    rng = np.random.default_rng([seed, 3])
    pool = [_text(rng, int(rng.integers(10, 101))) for _ in range(n_docs)]
    with open(path, "w") as f:
        for i in range(n):
            t = pool[i % n_docs]
            f.write(json.dumps([("4" if "fast" in t.split() else "0") + "," + t]) + "\n")
