"""Pure arithmetic of the benchmark: order statistics, span self time,
and the host-state stamp. Kept free of I/O (except the /proc reads in
`host_state`) so tests/test_stats.py can pin it."""
import math
import os


def percentile(values, q):
    """q-th percentile (0..100), linear between closest ranks (the
    numpy default). Raises on an empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def assign_parents(spans):
    """Give every span without a recorded parent the innermost span of
    the same operation whose interval contains its start. Engine spans
    come from listener timestamps in whole milliseconds, so containment
    allows one millisecond of slack. Returns new span dicts."""
    slack = 1_000_000
    out = [dict(s) for s in spans]
    by_op = {}
    for s in out:
        by_op.setdefault(s["op"], []).append(s)
    for s in out:
        if s["parent"]:
            continue
        best = None
        for c in by_op.get(s["op"], ()):
            if c is s or c["id"] == s["id"] or c["name"].startswith(("engine.", "io.")):
                continue
            if c["start_ns"] - slack <= s["start_ns"] <= c["end_ns"] + slack:
                if best is None or c["start_ns"] >= best["start_ns"]:
                    best = c
        if best is not None:
            s["parent"] = best["id"]
    return out


def union_ns(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: self ns}: a span's duration minus the part of its
    interval that its children cover (children clipped to the parent)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ns"], s["end_ns"]
        cover = [(max(a, c["start_ns"]), min(b, c["end_ns"])) for c in kids.get(s["id"], ())]
        out[s["id"]] = (b - a) - union_ns([iv for iv in cover if iv[1] > iv[0]])
    return out


def self_time_table(spans):
    """Rows (name, count, total_s, self_s), largest self time first."""
    own = self_times(spans)
    agg = {}
    for s in spans:
        n, tot, slf = agg.get(s["name"], (0, 0, 0))
        agg[s["name"]] = (n + 1, tot + s["end_ns"] - s["start_ns"], slf + own[s["id"]])
    rows = [(k, n, tot / 1e9, slf / 1e9) for k, (n, tot, slf) in agg.items()]
    return sorted(rows, key=lambda r: -r[3])


def host_state():
    """cpus, cumulative steal jiffies and load1 of this host."""
    steal = None
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        steal = int(fields[8]) if fields[0] == "cpu" and len(fields) > 8 else None
    except OSError:
        pass
    try:
        load1 = os.getloadavg()[0]
    except OSError:
        load1 = None
    return {"cpus": len(os.sched_getaffinity(0)), "steal_jiffies": steal, "load1": load1}
