#!/usr/bin/env python3
"""Paired A/B runner: the parent and the change, each in its own copy,
measured by the same benchmark code in alternating pairs.

    python3 perfbench/ab.py --parent HEAD~1 --change WORKTREE --workload suite \
        --pairs 10 --scratch /tmp/graft-ab

Each side is exported into --scratch (`git archive` of a revision, or the
tracked and untracked-but-not-ignored files of the working tree for
WORKTREE) and given this checkout's perfbench/ directory, so both sides
run identical benchmark code. Pair i runs both sides on seed
--seed-base + i, the parent first in even pairs and the change first in
odd ones. For every end-to-end metric the report gives each side's
median and quartiles, the share of pairs the change won (ties count for
neither side), and a verdict:

  gain         the change won at least 9 of 10 pairs and the medians differ
               by more than the parent's inter-quartile distance;
  regression   the change's median is worse than the parent's by more than
               the metric's bound in BENCHMARK.json;
  unresolved   a side's spread (IQR / median) is wider than the bound and
               the runs do not separate (not every change run beats every
               parent run);
  no change    otherwise.

Failure shares (failed / attempted) are compared too. Nothing is written
outside --scratch.
"""
import argparse
import io
import json
import os
import shutil
import subprocess
import sys
import tarfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def export(repo, rev, dest):
    """Copies revision `rev` of `repo` (or its working tree) into dest."""
    if os.path.exists(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    if rev == "WORKTREE":
        files = subprocess.run(["git", "ls-files", "-co", "--exclude-standard", "-z"],
                               cwd=repo, check=True, stdout=subprocess.PIPE).stdout
        for f in filter(None, files.decode().split("\0")):
            src = os.path.join(repo, f)
            if os.path.isfile(src):
                os.makedirs(os.path.dirname(os.path.join(dest, f)), exist_ok=True)
                shutil.copy2(src, os.path.join(dest, f))
    else:
        blob = subprocess.run(["git", "archive", "--format=tar", rev], cwd=repo, check=True,
                              stdout=subprocess.PIPE).stdout
        with tarfile.open(fileobj=io.BytesIO(blob)) as t:
            t.extractall(dest)
    bench = os.path.join(dest, "perfbench")
    if os.path.exists(bench):
        shutil.rmtree(bench)
    shutil.copytree(HERE, bench, ignore=shutil.ignore_patterns("target", "__pycache__", "project"))
    shutil.copytree(os.path.join(HERE, "harness", "project"),
                    os.path.join(bench, "harness", "project"),
                    ignore=shutil.ignore_patterns("target", "project"))
    shutil.copy2(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"),
                 os.path.join(dest, "BENCHMARK.json"))


def run(side_dir, workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=side_dir, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def verdict(parent, change, better, bound):
    q1p, mp, q3p = stats.quartiles(parent)
    _, mc, _ = stats.quartiles(change)
    won, lost = stats.pair_wins(parent, change, better)
    worse = (mc - mp) / mp if better == "lower" else (mp - mc) / mp
    separated = (max(change) < min(parent)) if better == "lower" else (min(change) > max(parent))
    if won >= 0.9 * len(parent) and abs(mc - mp) > (q3p - q1p):
        return "gain", won, lost
    if worse > bound:
        return "regression", won, lost
    if max(stats.spread(parent), stats.spread(change)) > bound and not separated:
        return "unresolved", won, lost
    return "no change", won, lost


def main():
    ap = argparse.ArgumentParser(description="paired A/B runs of the benchmark")
    ap.add_argument("--parent", default="HEAD~1", help="revision, or WORKTREE")
    ap.add_argument("--change", default="WORKTREE", help="revision, or WORKTREE")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, default=1000)
    ap.add_argument("--scratch", required=True, help="directory for the two copies")
    a = ap.parse_args()
    if a.pairs < 10:
        ap.error("at least 10 pairs")
    repo = os.path.dirname(HERE)
    with open(os.path.join(repo, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bench_seconds = spec["run_seconds"]
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    sides = {"parent": os.path.join(a.scratch, "parent"),
             "change": os.path.join(a.scratch, "change")}
    export(repo, a.parent, sides["parent"])
    export(repo, a.change, sides["change"])
    for wl in a.workload:
        res = {"parent": [], "change": []}
        for i in range(a.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                r = run(sides[side], wl, a.seed_base + i, bench_seconds)
                res[side].append(r)
                print(f"[ab] {wl} pair {i} {side}: "
                      f"{'run failed' if r is None else r['metrics']}", file=sys.stderr)
        ok = [i for i in range(a.pairs) if res["parent"][i] and res["change"][i]]
        print(f"== {wl}: {len(ok)} complete pairs of {a.pairs}")
        for side in ("parent", "change"):
            done = [r for r in res[side] if r]
            att = sum(r["attempted"] for r in done)
            fail = sum(r["failed"] for r in done)
            print(f"{side:7s} failed share {fail}/{att}, {a.pairs - len(done)} runs without a result")
        if len(ok) < 10:
            print("fewer than 10 complete pairs: no verdicts")
            continue
        print(f"{'metric':20s} {'side':7s} {'q1':>12s} {'median':>12s} {'q3':>12s}")
        for name, m in metrics.items():
            pv = [res["parent"][i]["metrics"][name]["value"] for i in ok]
            cv = [res["change"][i]["metrics"][name]["value"] for i in ok]
            for side, vs in (("parent", pv), ("change", cv)):
                q1, med, q3 = stats.quartiles(vs)
                print(f"{name:20s} {side:7s} {q1:12.4f} {med:12.4f} {q3:12.4f}")
            v, won, lost = verdict(pv, cv, m["better"], m["bound"])
            print(f"{name:20s} change won {won}/{len(ok)} (lost {lost}, "
                  f"tied {len(ok) - won - lost}): {v}")


if __name__ == "__main__":
    main()
