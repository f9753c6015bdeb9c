"""Statistics the benchmark and its A/B runner share. Tested by
`perfbench/test_stats.py` (`python3 -m unittest discover -s perfbench`)."""
import math
import statistics


def percentile(values, q):
    """The q-th percentile (0..100) by linear interpolation between
    closest ranks, as numpy's default computes it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_level(n, beyond=10, levels=(99.9, 99.0, 95.0, 90.0, 75.0)):
    """The highest of `levels` that leaves at least `beyond` of `n`
    samples above it, or None when none does."""
    for q in levels:
        if n * (100.0 - q) / 100.0 >= beyond:
            return q
    return None


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / abs(med) if med else math.inf


def pair_wins(parent, change, better):
    """Pairs the change won and lost, given the metric's direction
    ("lower" or "higher"). Ties count for neither side."""
    won = lost = 0
    for p, c in zip(parent, change):
        if c == p:
            continue
        if (c < p) == (better == "lower"):
            won += 1
        else:
            lost += 1
    return won, lost


def backlog_grows(backlogs, rate, trigger_s):
    """True when the engine fell behind the offered rate during a rung.
    `backlogs` are the records sent but not yet trained at the end of
    each micro-batch that held the rung's records. A batch that keeps up
    ends with less than one trigger interval of arrivals waiting; the
    backlog grows when one ends with more, or when it rises across the
    rung by more than half an interval's arrivals."""
    one = rate * trigger_s
    if any(b > one for b in backlogs):
        return True
    return len(backlogs) >= 2 and backlogs[-1] - backlogs[0] > 0.5 * one


def sent_by(t, warmup, rungs):
    """Records due by time t under the generator's schedule: the warm-up
    plus, per rung of `rungs`, those whose due time start + j / rate is
    <= t."""
    n = warmup
    for r in rungs:
        if t >= r["start"]:
            n += min(r["count"], int((t - r["start"]) * r["rate"]) + 1)
    return n


def new_bytes(before, after):
    """(written, carried) bytes among files present in `after` but not in
    `before` (both path -> [bytes, link count]). A new file with one link
    was written; one with more is a hard link to a file of an earlier
    generation, so its bytes were carried rather than written."""
    written = carried = 0
    for p, (size, links) in after.items():
        if p in before:
            continue
        if links > 1:
            carried += size
        else:
            written += size
    return written, carried


def self_times(spans):
    """Self time per span name, in seconds: each span's duration minus the
    part of it its children cover (overlapping children counted once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                    for c in kids.get(s["id"], []))
        covered, cur = 0.0, None
        for a, b in iv:
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        name = s["name"].split("/")[0]
        own = max(0.0, s["end_ms"] - s["start_ms"] - covered) / 1e3
        out[name] = out.get(name, 0.0) + own
    return out
