#!/usr/bin/env python3
"""Profile of every `SparkEntry.queries` entry, cold and warm: the
measurement the `suite` workload's query mix is drawn from.

    python3 perfbench/querymix.py --data DIR

Run from the repository root; DIR holds the ten tables (for instance an
sf0.1 generation). One JVM answers every query once over an empty
artifact root (cold: the stores build), then a fresh JVM answers each once
more over the built root (warm), both as the `suite` workload does
(`local[4]`, noop write, caches cleared between queries). It prints per
query the cold and warm wall time, the artifact keys it published and the
ones its plan scanned, then the share of queries that are store-served:
they publish or scan an `ArtifactStore` generation (the `compact_*`
generations of the `Tables` tier do not count). Last, it draws a mix of
as many queries as the suite has (`run.SUITE_QUERIES`) in proportion to
four classes — documents-store (a key of `TakedownApply.DocArtifactKeys`),
other store, compacted table only, plain — and, within each class, at
evenly spaced positions in query number order; it prints the mix's cold
and warm times beside the whole surface's. Its work goes to `.bench_work/querymix/`.
"""
import argparse
import json
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def store_keys(keys):
    return sorted({k for k in keys if not k.startswith("compact_")})


def classify(row, doc_keys):
    keys = row["published"] + row["scanned"]
    if any(k in doc_keys for k in keys):
        return "documents store"
    if keys:
        return "other store"
    return "compacted table" if row["compacted"] else "plain"


def number(name):
    return int(name[1:].split("_", 1)[0])


def mix(rows, size):
    """`size` queries: each class gets its share (largest remainders
    rounded up), taken at evenly spaced positions of the class in query
    number order — a systematic sample that does not depend on timings,
    so another pass over the same inputs draws the same mix."""
    classes = {}
    for r in rows:
        classes.setdefault(r["class"], []).append(r)
    quota = {c: size * len(v) / len(rows) for c, v in classes.items()}
    take = {c: int(q) for c, q in quota.items()}
    for c in sorted(quota, key=lambda c: take[c] - quota[c])[:size - sum(take.values())]:
        take[c] += 1
    picks = []
    for c, v in sorted(classes.items()):
        v = sorted(v, key=lambda r: number(r["name"]))
        picks += [v[int((i + 0.5) * len(v) / take[c])]["name"] for i in range(take[c])]
    return take, picks


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--data", required=True)
    a = ap.parse_args()
    root = os.getcwd()
    cp_file, _ = run.build(root)
    work = os.path.join(root, ".bench_work", "querymix")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    store = os.path.join(work, "store")
    os.makedirs(store)
    eng = run.Engine(cp_file, work)
    data = os.path.abspath(a.data)
    out = {}
    for mode in ("cold", "warm"):
        res, _ = eng.run(mode, {"data": data, "queries": "all", "cores": 4,
                                "out": os.path.join(work, f"{mode}.json")},
                         store, "4g", mode, timeout=1800)
        out[mode] = {q["name"]: q for q in res["queries"]}
        if mode == "cold":
            res_doc_keys = res["doc_keys"]
    rows = []
    for name in sorted(out["cold"]):
        c, w = out["cold"][name], out["warm"][name]
        published = store_keys(g.split("/")[0] for g in c["published"])
        scanned = store_keys(c["reads"] + w["reads"])
        rows.append(dict(name=name, cold_s=c["wall_s"], warm_s=w["wall_s"],
                         ok=c["ok"] and w["ok"], published=published, scanned=scanned,
                         store=bool(published or scanned),
                         compacted=any(k.startswith("compact_") for k in c["reads"] + w["reads"])))
        rows[-1]["class"] = classify(rows[-1], set(res_doc_keys))
    with open(os.path.join(work, "profile.json"), "w") as f:
        json.dump(rows, f, indent=1)
    print(f"{'query':34s} {'cold_s':>8s} {'warm_s':>8s}  store keys published | scanned")
    for r in rows:
        print(f"{r['name']:34s} {r['cold_s']:8.3f} {r['warm_s']:8.3f}  "
              f"{','.join(r['published']) or '-'} | {','.join(r['scanned']) or '-'}"
              f"{'' if r['ok'] else '  FAILED'}")
    for label, sel in (("store-served", [r for r in rows if r["store"]]),
                       ("plain", [r for r in rows if not r["store"]])):
        if sel:
            print(f"{label:13s} {len(sel):4d} of {len(rows)} queries; cold {sum(r['cold_s'] for r in sel):8.1f} s, "
                  f"warm {sum(r['warm_s'] for r in sel):8.1f} s, warm median "
                  f"{statistics.median(r['warm_s'] for r in sel):.3f} s")
    take, picks = mix([r for r in rows if r["ok"]], len(run.SUITE_QUERIES))
    print("classes: " + ", ".join(f"{c} {sum(1 for r in rows if r['class'] == c)} -> {k}"
                                  for c, k in sorted(take.items())))
    print("mix: " + " ".join(picks))
    chosen = [r for r in rows if r["name"] in picks]
    for label, sel in (("all", rows), ("mix", chosen)):
        cold, warm = sum(r["cold_s"] for r in sel), sum(r["warm_s"] for r in sel)
        print(f"{label:4s} {len(sel):4d} queries: cold {cold:8.1f} s, warm {warm:8.1f} s, "
              f"warm/cold {warm / cold:.3f}, store-served {sum(r['store'] for r in sel)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
