#!/usr/bin/env python3
"""graft's benchmark: one command per workload, run from the repository root.

    python3 perfbench/run.py --workload suite --seed 1 --seconds 30 --trace 0

Workloads (see BENCHMARK.json for why each exists):

  suite   The analyst's path. Set-up: an empty artifact root, every suite
          query answered once (the stores build), in one JVM (`cold`).
          Timed: a fresh JVM (`warm`), once Spark itself is warmed up,
          answers every query once over the built root. The traced run adds the operator's legs after the
          timed pass: a seeded 1 % of new documents lands as a new part
          file and the document-store set is re-answered; a seeded 1 % is
          taken down (part files rewritten), the set re-answered and every
          generation built from a pre-takedown corpus invalidated. Each
          re-answer is checked against a from-scratch answer.
  stream  The streaming user's path: an open-loop generator process sends
          "label,text" records over one socket on a fixed rate ladder to
          Ingest.socketLines -> decodeEnvelope -> Run.trainingStream (PA,
          5 s trigger) at local[2]. --seconds is the length of the ladder.

Every input is generated from --seed into .bench_work/ in the checkout;
the engine is built from the checkout's sources (sbt) on the first run and
reused while the sources are unchanged. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}, with the
end-to-end metrics when --trace 0 and the per-layer metrics when --trace 1.
A traced run also writes its spans to .bench_work/traces/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402
from streamgen import TRIGGER_S  # noqa: E402

# suite: 8 of the 200 queries, drawn by perfbench/querymix.py from a cold
# and a warm pass over all of them at sf0.1 (BASELINE.md): 68 of the 200
# publish or scan an ArtifactStore generation, and 3 of the 8 do. Each of
# four classes gets its share — documents store 48 -> 2 (the document-store
# set of the operator legs), other store 20 -> 1, compacted table only
# 32 -> 1, plain 100 -> 4 — at evenly spaced positions in query number order.
SUITE_QUERIES = [
    "q92_lm_quality", "q179_length_outliers", "q159_codebook_drift", "q23_distinct_agg",
    "q36_fingerprint", "q77_semantic_sample", "q118_outlier_audit", "q166_cms_sketch",
]
SF = 0.006                 # lineitem 36k rows, 0.6 MB: above Tables' 512 KiB compaction
                           # floor, which a check of every suite run holds to
N_DOCS = 500
N_EMB = 500
DOC_PARTS = 4
MUTATION_SHARE = 0.01
WARMUP_RECORDS = 3000
LADDER = ((600, 3 / 6), (1200, 1 / 6), (2400, 1 / 6), (4800, 1 / 6))  # rate, share of --seconds
LAG_SLACK_S = 0.25
LATENCY_LIMIT_S = 2 * TRIGGER_S
ENGINE_TIMEOUT_S = 150

E2E = {  # name -> (unit, better)
    "setup_s": ("s", "lower"),
    "answer_s": ("s", "lower"),
    "throughput_per_s": ("1/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}
LAYERS = [
    "queries.construct_s", "queries.execute_s",
    "spark.planning_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.task_busy_s", "spark.task_cpu_s", "spark.task_wait_s", "spark.gc_s",
    "spark.shuffle_write_mb", "spark.spill_mb", "spark.input_mb", "spark.driver_s",
    "Tables.load_s", "Tables.load_cold_s", "Tables.files", "Tables.compacted",
    "ArtifactStore.fp_s", "ArtifactStore.generations", "ArtifactStore.build_s",
    "ArtifactStore.hit_ratio", "ArtifactStore.written_mb", "ArtifactStore.carried_mb",
    "ArtifactStore.carry_ratio", "ArtifactStore.store_mb",
    "maintain.reanswer_append_s", "maintain.reanswer_takedown_s",
    "TakedownApply.invalidate_s", "TakedownApply.invalidated",
    "Run.addBatch_s", "Run.getBatch_s", "Run.latestOffset_s", "Run.queryPlanning_s",
    "Run.walCommit_s", "Run.commitOffsets_s", "Run.batches", "Run.rows_per_batch_p50",
    "Run.backlog_rows", "Run.state_bytes", "Run.sustained_rps", "Run.latency_p99_s",
    "generator.lag_s",
    "Featurize.featurize_s", "Incremental.partialFit_s", "Metrics.binaryCollect_s",
]
LAYER_UNITS = {"mb": "MB", "s": "s", "rps": "rows/s", "bytes": "B"}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_hash(root):
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", "perfbench/harness/build.sbt",
            "perfbench/harness/project", "perfbench/harness/src"]
    for top in tops:
        p = os.path.join(root, top)
        if os.path.isfile(p):
            paths = [p]
        else:
            paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs
                           if "/target" not in d and "/project/project" not in d)
        for f in paths:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compiles graft and the harness with sbt (once per source state) and
    returns the runtime classpath file and the sources' hash."""
    out = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(out, exist_ok=True)
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    digest = source_hash(root)
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        with open(cp_file) as f:
            if all(os.path.exists(e) for e in f.read().strip().split(os.pathsep)):
                return cp_file, digest
    log("building graft and the harness with sbt")
    t0 = time.time()
    with open(os.path.join(out, "sbt.log"), "w") as lf:
        p = subprocess.run(["sbt", "-batch", "compile", "export harness/Runtime/fullClasspath"],
                           cwd=os.path.join(root, "perfbench", "harness"), stdout=subprocess.PIPE,
                           stderr=lf, text=True, timeout=850, stdin=subprocess.DEVNULL)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("/") and "perfbench" in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise BenchError("sbt build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return cp_file, digest


# ------------------------------------------------------------------ processes

class Engine:
    """Launches the harness JVM in one mode and waits for it."""

    def __init__(self, cp_file, work):
        self.work = work
        self.tmp = os.path.join(work, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        self.argfile = os.path.join(work, "jvm.args")
        with open(cp_file) as f:
            cp = f.read().strip()
        with open(self.argfile, "w") as f:
            f.write(f'-cp\n"{cp}"\n')

    def start(self, mode, opts, store, xmx, tag):
        # a fixed-size heap, so that peak resident memory follows what the
        # engine touches rather than when the collector chose to grow
        cmd = ["java", f"-Xms{xmx}", f"-Xmx{xmx}", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={self.tmp}",
                f"-Dspark.local.dir={self.tmp}", f"@{self.argfile}", "perfbench.Main", mode]
        for k, v in opts.items():
            cmd += [f"--{k}", str(v)]
        env = dict(os.environ, SPARK_GRAFT_ARTIFACT_DIR=store)
        logf = open(os.path.join(self.work, f"{tag}.log"), "w")
        t0 = time.time()
        proc = subprocess.Popen(cmd, cwd=self.work, env=env, stdout=logf,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        return proc, logf, t0

    def wait(self, handle, tag, timeout=ENGINE_TIMEOUT_S):
        proc, logf, _ = handle
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            stop(proc)
            rc = None
        logf.close()
        if rc != 0:
            with open(os.path.join(self.work, f"{tag}.log")) as f:
                tail = f.read()[-3000:]
            sys.stderr.write(tail)
            raise BenchError(f"engine `{tag}` {'timed out' if rc is None else f'exited {rc}'}")

    def run(self, mode, opts, store, xmx, tag, timeout=ENGINE_TIMEOUT_S):
        h = self.start(mode, opts, store, xmx, tag)
        self.wait(h, tag, timeout)
        with open(opts["out"]) as f:
            return json.load(f), h[2]


def stop(proc):
    if proc.poll() is None:
        proc.send_signal(signal.SIGTERM)
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tree_mb(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path)
               for f in fs if not os.path.islink(os.path.join(d, f))) / 1e6


def link_tree(src, dst):
    """Copies a data directory as hard links (parquet files are immutable
    once written: the legs replace files, never rewrite them in place)."""
    shutil.copytree(src, dst, copy_function=os.link)


# ------------------------------------------------------------------ suite

def run_suite(ctx):
    work, seed = ctx["work"], ctx["seed"]
    data = os.path.join(work, "data")
    gen.tables(data, seed, SF, N_DOCS, N_EMB)
    gen.split_documents(data, DOC_PARTS)
    trace = ctx["trace"]
    qfile = os.path.join(work, "queries.txt")
    with open(qfile, "w") as f:
        f.write("\n".join(SUITE_QUERIES) + "\n")
    store = os.path.join(work, "store")
    os.makedirs(store)
    eng = ctx["engine"]

    def opts(tag, **kw):
        o = {"data": data, "queries": qfile, "out": os.path.join(work, f"{tag}.json"),
             "trace": int(trace), "run": ctx["run_id"], "cores": 4}
        if trace:
            o["spans"] = os.path.join(work, f"{tag}.spans.jsonl")
        o.update(kw)
        return o

    cold, t_cold = eng.run("cold", opts("cold"), store, "2g", "cold")
    docset_file = os.path.join(work, "docset.txt")
    with open(docset_file, "w") as f:
        f.write("\n".join(cold["docset"]) + "\n")
    warm_kw = {}
    if trace:
        # the operator legs run in the traced run only: with their
        # from-scratch answers they cost more than the rest of a run
        stage_a, stage_t = os.path.join(work, "stage_append"), os.path.join(work, "stage_takedown")
        gone = gen.mutations(data, seed, MUTATION_SHARE, stage_a, stage_t)
        corpora = mutated_corpora(work, data, stage_a, stage_t)
        warm_kw = {"docset": docset_file, "append-stage": stage_a, "takedown-stage": stage_t}
    warm, t_warm = eng.run("warm", opts("warm", **warm_kw), store, "2g", "warm")
    op = warm.get("operator")
    if op:
        refs = reference_answers(ctx, corpora, docset_file)

    # --- checks: the compacted tier serves lineitem; every timed answer
    # equals the empty-store answer; every re-answer equals the
    # from-scratch answer on the same mutated corpus
    findings = []
    attempted, failed = 1, 0
    if warm["layers"].get("Tables.compacted", 0) < 1:
        failed += 1
        findings.append("Tables: no table served from a compacted generation")
    coldq = {q["name"]: q for q in cold["queries"]}
    for q in warm["queries"]:
        attempted += 1
        ref = coldq.get(q["name"], {})
        if not (q["ok"] and ref.get("ok") and q["digest"] == ref.get("digest")):
            failed += 1
            findings.append(f"suite {q['name']}: warm {q['digest'] or q['error']} "
                            f"vs empty-store {ref.get('digest') or ref.get('error')}")
    if op:
        for leg in ("append", "takedown"):
            want = {q["name"]: q for q in refs[leg]}
            res = op[leg]["queries"]
            attempted += max(1, len(res))
            if not res:
                failed += 1
                findings.append(f"{leg} leg: empty document-store set")
            for q in res:
                r = want.get(q["name"], {})
                if not (q["ok"] and r.get("ok") and q["digest"] == r.get("digest")):
                    failed += 1
                    findings.append(f"{leg} {q['name']}: re-answer {q['digest'] or q['error']} "
                                    f"vs from-scratch {r.get('digest') or r.get('error')}")
        if op["takedown"]["survivors"]:
            failed += 1
            findings.append("takedown: pre-takedown generations survived invalidation: " +
                            ", ".join(op["takedown"]["survivors"]))

    # a failed answer counts as slower than any other, never as fast
    walls = [q["wall_s"] for q in warm["queries"]]
    latencies = [q["wall_s"] if q["ok"] else float("inf") for q in warm["queries"]]
    n_ok = sum(1 for q in warm["queries"] if q["ok"])
    setup_s = (cold["setup_end_ms"] / 1e3 - t_cold) + (warm["ready_ms"] / 1e3 - t_warm)
    e2e = {
        "setup_s": setup_s,
        "answer_s": math.exp(statistics.fmean(math.log(x) for x in latencies)),
        "throughput_per_s": n_ok / sum(walls),
        "peak_rss_mb": max(cold["peak_rss_mb"], warm["peak_rss_mb"]),
    }
    extra = {
        "suite_s": (sum(walls), "s"),
        "query_p50_s": (statistics.median(latencies), "s"),
        "query_max_s": (max(latencies), "s"),
        "queries": (len(walls), "count"),
        "docset": (len(cold["docset"]), "count"),
        "store_mb": (tree_mb(store), "MB"),
    }
    layers = {}
    if trace:
        pl, cl, ol = warm["pass_layers"], cold["layers"], op["layers"]
        snaps = op["snapshots"]
        wa, ca = stats.new_bytes(snaps["before"], snaps["append"])
        wt, ct = stats.new_bytes(snaps["append"], snaps["takedown"])
        written, carried = (wa + wt) / 1e6, (ca + ct) / 1e6
        extra.update({
            "reanswer_append_s": (op["append"]["wall_s"], "s"),
            "reanswer_takedown_s": (op["takedown"]["wall_s"], "s"),
            "docs_taken_down": (len(gone), "count"),
        })
        for k in LAYERS:
            if k.startswith(("queries.", "spark.")):
                layers[k] = pl.get(k, 0.0)
        n = len(warm["queries"])
        layers.update({
            "Tables.load_s": warm["layers"].get("Tables.load_s", 0.0),
            "Tables.load_cold_s": cl.get("Tables.load_s", 0.0),
            "Tables.files": warm["layers"].get("Tables.files", 0.0),
            "Tables.compacted": warm["layers"].get("Tables.compacted", 0.0),
            "ArtifactStore.fp_s": ol.get("ArtifactStore.fp_s", 0.0),
            "ArtifactStore.generations": cl.get("ArtifactStore.generations", 0.0),
            "ArtifactStore.build_s": cl.get("ArtifactStore.build_s", 0.0),
            "ArtifactStore.hit_ratio": sum(1 for q in warm["queries"] if not q["published"]) / n,
            "ArtifactStore.written_mb": written,
            "ArtifactStore.carried_mb": carried,
            "ArtifactStore.carry_ratio": carried / (carried + written) if carried + written else 0.0,
            "ArtifactStore.store_mb": extra["store_mb"][0],
            "maintain.reanswer_append_s": op["append"]["wall_s"],
            "maintain.reanswer_takedown_s": op["takedown"]["wall_s"],
            "TakedownApply.invalidate_s": ol.get("TakedownApply.invalidate_s", 0.0),
            "TakedownApply.invalidated": ol.get("TakedownApply.invalidated", 0.0),
        })
        spans = read_spans(os.path.join(work, "cold.spans.jsonl"), "cold") + \
            read_spans(os.path.join(work, "warm.spans.jsonl"), "warm")
        pass_ids = subtree(spans, lambda s: s["name"] == "pass" and s["jvm"] == "warm")
        own = stats.self_times([s for s in spans if s["id"] in pass_ids])
        layers["queries.construct_s"] = own.get("queries.construct", 0.0)
        layers["queries.execute_s"] = own.get("queries.execute", 0.0)
        ctx["spans"] = spans
    return dict(e2e=e2e, extra=extra, layers=layers, attempted=attempted, failed=failed,
                findings=findings)


def mutated_corpora(work, data, stage_a, stage_t):
    """Copies of the corpus as each operator leg leaves it: the append
    leg's part file landed, then the takedown leg's rewrites."""
    corpus_a, corpus_t = os.path.join(work, "ref_append"), os.path.join(work, "ref_takedown")
    link_tree(data, corpus_a)
    for f in os.listdir(stage_a):
        os.link(os.path.join(stage_a, f), os.path.join(corpus_a, "documents.parquet", f))
    link_tree(corpus_a, corpus_t)
    for f in os.listdir(stage_t):
        dst = os.path.join(corpus_t, "documents.parquet", f)
        os.remove(dst)
        os.link(os.path.join(stage_t, f), dst)
    return {"append": corpus_a, "takedown": corpus_t}


def reference_answers(ctx, corpora, docset_file):
    """The from-scratch answers of the document-store set on each mutated
    corpus, each from a fresh JVM over its own empty artifact root. The
    two JVMs run side by side, two cores each."""
    work, eng = ctx["work"], ctx["engine"]
    runs = {}
    for leg, corpus in corpora.items():
        store = os.path.join(work, f"store_ref_{leg}")
        os.makedirs(store)
        out = os.path.join(work, f"ref_{leg}.json")
        runs[leg] = (out, eng.start("ref", {"data": corpus, "queries": docset_file, "out": out,
                                            "cores": 2}, store, "2g", f"ref_{leg}"))
        ctx["procs"].append(runs[leg][1][0])
    for leg, (_, h) in runs.items():
        eng.wait(h, f"ref_{leg}")
    refs = {}
    for leg, (out, _) in runs.items():
        with open(out) as f:
            refs[leg] = json.load(f)["queries"]
    return refs


def read_spans(path, jvm):
    out = []
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                s = json.loads(line)
                s["jvm"] = jvm
                s["id"] = f"{jvm}:{s['id']}"
                s["parent"] = f"{jvm}:{s['parent']}"
                out.append(s)
    return out


def subtree(spans, is_root):
    ids = {s["id"] for s in spans if is_root(s)}
    grew = True
    while grew:
        more = {s["id"] for s in spans if s["parent"] in ids} - ids
        grew = bool(more)
        ids |= more
    return ids


# ------------------------------------------------------------------ stream

def ladder_for(seconds):
    return [(rate, max(TRIGGER_S, round(share * seconds / TRIGGER_S) * TRIGGER_S))
            for rate, share in LADDER]


def run_stream(ctx):
    work, seed = ctx["work"], ctx["seed"]
    ladder = ladder_for(ctx["seconds"])
    # the generator keeps warming the engine at the first rung's rate until
    # it is ready: room for 40 s of that
    n = WARMUP_RECORDS + LADDER[0][0] * 40 + sum(int(r * s) for r, s in ladder)
    records = os.path.join(work, "records.txt")
    gen.stream_records(records, seed, n, 2000)
    sdir = os.path.join(work, "stream")
    os.makedirs(sdir)
    gproc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "streamgen.py"), "--records", records, "--dir", sdir,
         "--warmup", str(WARMUP_RECORDS),
         "--ladder", ",".join(f"{r}:{s}" for r, s in ladder)],
        stdout=open(os.path.join(work, "gen.log"), "w"), stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL)
    ctx["procs"].append(gproc)
    port_file = os.path.join(sdir, "port")
    deadline = time.time() + 30
    while not os.path.exists(port_file):
        if gproc.poll() is not None or time.time() > deadline:
            raise BenchError("generator did not start")
        time.sleep(0.02)
    with open(port_file) as f:
        port = int(f.read())
    o = {"port": port, "dir": sdir, "out": os.path.join(work, "stream.json"), "cores": 2, "trace": int(ctx["trace"]),
         "run": ctx["run_id"]}
    if ctx["trace"]:
        o["spans"] = os.path.join(work, "stream.spans.jsonl")
        o["replay"] = records
    eng = ctx["engine"]
    out, t_launch = eng.run("stream", o, os.path.join(work, "store"), "2g", "stream")
    try:
        gproc.wait(timeout=20)
    except subprocess.TimeoutExpired:
        stop(gproc)
    with open(os.path.join(sdir, "gen.json")) as f:
        g = json.load(f)
    with open(os.path.join(sdir, "engine", "stats_bench.csv")) as f:
        rows = [ln.strip().split(",") for ln in f.read().splitlines()[1:] if ln.strip()]

    findings = []
    batches = sorted((b for b in out["batches"] if b["rows"] > 0), key=lambda b: b["batch"])
    attempted = len(batches) + 1
    failed = 0
    # conservation: one CSV row per non-empty batch, in order, with that
    # batch's record count; every record sent was trained exactly once
    for i, b in enumerate(batches):
        if i >= len(rows) or int(rows[i][0]) != i + 1 or int(rows[i][6]) != b["rows"]:
            failed += 1
            findings.append(f"batch {b['batch']}: {b['rows']} records, CSV row "
                            f"{rows[i] if i < len(rows) else 'missing'}")
    csv_total = sum(int(r[6]) for r in rows)
    if len(rows) != len(batches) or csv_total != g["sent"] or out["error"]:
        failed += 1
        findings.append(f"conservation: sent {g['sent']}, CSV {csv_total} in {len(rows)} rows, "
                        f"{len(batches)} batches, error {out['error']}")

    # per-record latency: generator due time -> end of the batch that trained it
    ends = []  # (first offset, rows, end ms)
    for b in batches:
        ends.append((b["first"], b["rows"], b["start_ms"] + b["duration_ms"]["triggerExecution"]))
    rung_stats = []
    for i, r in enumerate(g["rungs"]):
        lat, backlog = [], []
        rate, t0 = r["rate"], r["start"]
        for first, cnt, end in ends:
            lo, hi = max(first, r["first"]), min(first + cnt, r["first"] + r["count"])
            for off in range(lo, hi):
                lat.append(end / 1e3 - (t0 + (off - r["first"]) / rate))
        t_end = t0 + r["seconds"]
        for first, cnt, end in ends:
            if first < r["first"] + r["count"] and first + cnt > r["first"]:
                # this rung's and earlier records still waiting: a later
                # rung's arrivals are judged against its own rate
                backlog.append(stats.sent_by(end / 1e3, g["warmup"], g["rungs"][:i + 1]) -
                               (first + cnt))
        trained_by_end = max([f + c for f, c, e in ends if e / 1e3 <= t_end] or [0])
        sent_by_end = r["first"] + r["count"]
        valid = r["max_lag_s"] <= LAG_SLACK_S
        p99 = stats.percentile(lat, 99) if lat else float("inf")
        sustained = (valid and len(lat) == r["count"] and p99 <= LATENCY_LIMIT_S and
                     not stats.backlog_grows(backlog, rate, TRIGGER_S))
        rung_stats.append(dict(rate=rate, seconds=r["seconds"], valid=valid, lat=lat,
                               p50=stats.percentile(lat, 50) if lat else float("inf"), p99=p99,
                               backlog=sent_by_end - trained_by_end, sustained=sustained,
                               lag=r["max_lag_s"]))
    base, top = rung_stats[0], rung_stats[-1]
    if not base["valid"] or not top["valid"]:
        raise BenchError("generator ran late beyond its slack; the run is invalid")
    # records trained per second of engine busy time: over the whole ladder
    # (the end-to-end figure: seven batches, from 3,000 to 23,500 records,
    # so one slow batch moves it little), and over the batches holding the
    # top rung's records (the capacity when overloaded)
    def rate_of(bs):
        busy = sum(b["duration_ms"]["triggerExecution"] / 1e3 for b in bs)
        return sum(b["rows"] for b in bs) / busy if busy else 0.0
    r0 = g["rungs"][0]["first"]
    ladder_b = [b for b in batches if b["first"] + b["rows"] > r0]
    tr = g["rungs"][-1]
    top_b = [b for b in ladder_b if b["first"] < tr["first"] + tr["count"]
             and b["first"] + b["rows"] > tr["first"]]
    processing = rate_of(ladder_b)
    capacity = rate_of(top_b)
    sustained = max([r["rate"] for r in rung_stats if r["sustained"]] or [0.0])
    state = os.path.join(sdir, "engine", "model_bench.bin")
    e2e = {
        "setup_s": out["started_ms"] / 1e3 - t_launch + out["warmup_busy_ms"] / 1e3,
        "answer_s": base["p50"],
        "throughput_per_s": processing,
        "peak_rss_mb": out["peak_rss_mb"],
    }
    extra = {
        "stream_sustained_rps": (sustained, "rows/s"),
        "stream_capacity_rps": (capacity, "rows/s"),
        "stream_processing_rps": (processing, "rows/s"),
        "stream_latency_p50_s": (base["p50"], "s"),
        "stream_latency_p99_s": (base["p99"], "s"),
        "stream_latency_samples": (len(base["lat"]), "count"),
        "records_sent": (g["sent"], "count"),
    }
    level = stats.tail_level(len(base["lat"]))
    if level:
        extra[f"stream_latency_p{level:g}_s"] = (stats.percentile(base["lat"], level), "s")
    for r in rung_stats:
        extra[f"rung_{int(r['rate'])}.p99_s"] = (r["p99"], "s")
        extra[f"rung_{int(r['rate'])}.backlog_rows"] = (r["backlog"], "rows")
        extra[f"rung_{int(r['rate'])}.sustained"] = (int(r["sustained"]), "bool")
        extra[f"rung_{int(r['rate'])}.on_schedule"] = (int(r["valid"]), "bool")
    layers = {}
    if ctx["trace"]:
        for k in ("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit",
                  "commitOffsets"):
            layers[f"Run.{k}_s"] = sum(b["duration_ms"].get(k, 0.0) for b in ladder_b) / 1e3
        sizes = [b["rows"] for b in ladder_b]
        layers.update({
            "Run.batches": len(ladder_b),
            "Run.rows_per_batch_p50": statistics.median(sizes) if sizes else 0.0,
            "Run.backlog_rows": top["backlog"],
            "Run.state_bytes": os.path.getsize(state) if os.path.exists(state) else 0,
            "Run.sustained_rps": sustained,
            "Run.latency_p99_s": base["p99"],
            "generator.lag_s": max(r["lag"] for r in rung_stats),
        })
        for k in ("Featurize.featurize_s", "Incremental.partialFit_s", "Metrics.binaryCollect_s"):
            layers[k] = out["replay_layers"].get(k, 0.0)
        for k in LAYERS:
            if k.startswith("spark."):
                layers[k] = out["layers"].get(k, 0.0)
        # replay: each live batch once more, layer by layer; its metrics
        # must equal the live CSV row
        replay = out.get("replay") or []
        attempted += len(replay)
        for i, (rp, row) in enumerate(zip(replay, rows)):
            live = dict(f1=float(row[1]), acc=float(row[3]), precision=float(row[4]),
                        recall=float(row[5]), mse=float(row[7]))
            off = {k: abs(rp[k] - v) for k, v in live.items() if abs(rp[k] - v) > 2e-6}
            if off:
                failed += 1
                findings.append(f"replay batch {i + 1}: differs from the live row on {off}")
        spans = read_spans(o["spans"], "stream")
        for b in batches:  # micro-batch spans from the progress events
            spans.append(dict(id=f"stream:b{b['batch']}", parent="stream:0", name="Run.batch",
                              start_ms=b["start_ms"], jvm="stream",
                              end_ms=b["start_ms"] + b["duration_ms"]["triggerExecution"],
                              counters=dict(b["duration_ms"], rows=b["rows"])))
        ctx["spans"] = spans
    return dict(e2e=e2e, extra=extra, layers=layers, attempted=attempted, failed=failed,
                findings=findings)


# ------------------------------------------------------------------ main

def layer_unit(name):
    suffix = name.rsplit("_", 1)[-1] if "_" in name else ""
    return LAYER_UNITS.get(suffix, "ratio" if name.endswith("ratio") else "count")


def history(root, workload, digest):
    """The untraced `answer_s` figures recorded for these sources (keyed
    by their hash, so a change never mixes with its parent), and the file."""
    path = os.path.join(root, ".bench_work", "history", f"{workload}-{digest[:16]}.jsonl")
    prior = []
    if os.path.exists(path):
        with open(path) as f:
            prior = [json.loads(x)["answer_s"] for x in f if x.strip()]
    return prior, path


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["suite", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "perfbench/harness/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            log(f"{need} not found: run from the root of a graft checkout")
            return 2
    ctx = dict(seed=a.seed, seconds=a.seconds, trace=bool(a.trace), procs=[],
               run_id=f"{a.workload}-seed{a.seed}-trace{a.trace}")
    try:
        cp_file, digest = build(root)
        work = os.path.join(root, ".bench_work", a.workload)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        ctx["work"] = work
        ctx["engine"] = Engine(cp_file, work)
        res = (run_suite if a.workload == "suite" else run_stream)(ctx)
    except (BenchError, subprocess.SubprocessError, OSError, KeyError, ValueError) as e:
        log(f"run failed: {e!r}")
        return 1
    finally:
        for p in ctx["procs"]:
            stop(p)

    prior, hist = history(root, a.workload, digest)
    e2e = res["e2e"]
    if not a.trace:
        os.makedirs(os.path.dirname(hist), exist_ok=True)
        with open(hist, "a") as f:
            f.write(json.dumps(e2e) + "\n")
    print(f"== {a.workload} seed={a.seed} trace={a.trace}")
    for k, v in e2e.items():
        print(f"{k:28s} {v:14.4f} {E2E[k][0]}")
    for k, (v, unit) in res["extra"].items():
        print(f"{k:28s} {v:14.4f} {unit}")
    frac = res["failed"] / res["attempted"]
    print(f"{'failed_frac':28s} {frac:14.4f} ratio  ({res['failed']}/{res['attempted']})")
    for f in res["findings"]:
        print(f"FINDING {f}")
    # a metric that no answer reached (every one failed) is reported as
    # 1e9, never as a fast or missing value
    metrics = {k: {"value": v if math.isfinite(v) else 1e9, "unit": E2E[k][0]}
               for k, v in e2e.items()}
    if a.trace:
        layers = {k: 0.0 for k in LAYERS}
        layers.update(res["layers"])
        # tracing overhead: traced answer_s against the untraced runs of
        # these sources in this checkout; with none yet it is unmeasured
        if prior:
            base = statistics.median(prior)
            print(f"{'trace.overhead_pct':28s} {100.0 * (e2e['answer_s'] - base) / base:14.4f} %  "
                  f"(answer_s traced vs median of {len(prior)} untraced runs of these sources)")
        else:
            print(f"{'trace.overhead_pct':28s} {'unmeasured':>14s}    "
                  "(no untraced run of these sources in this checkout yet)")
        spans = ctx.get("spans", [])
        tdir = os.path.join(root, ".bench_work", "traces")
        os.makedirs(tdir, exist_ok=True)
        tpath = os.path.join(tdir, f"{ctx['run_id']}.jsonl")
        with open(tpath, "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
        print(f"spans: {len(spans)} -> {os.path.relpath(tpath, root)}")
        print("self time by span:")
        for k, v in sorted(stats.self_times(spans).items(), key=lambda kv: -kv[1])[:15]:
            print(f"  {k:32s} {v:10.3f} s")
        for k in LAYERS:
            print(f"{k:28s} {layers[k]:14.4f} {layer_unit(k)}")
        metrics = {k: {"value": layers[k] if math.isfinite(layers[k]) else 1e9,
                       "unit": layer_unit(k)} for k in LAYERS}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
