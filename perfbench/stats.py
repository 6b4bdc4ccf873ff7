"""Statistics the benchmark reports: latency percentiles, failure
accounting, per-layer self time from spans, and the result line."""
import math
import statistics

# A tail percentile needs at least this many samples beyond it.
TAIL_BEYOND = 10
# Counters that combine by maximum, not by sum.
MAX_COUNTERS = ("exec.max_task_over_median", "plan.max_join_rows")


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values):
    """The highest percentile that has at least TAIL_BEYOND samples beyond
    it: the sample at rank n - TAIL_BEYOND (1-based, ascending). Returns
    (value, percentile, samples); with too few samples, (max, 100.0, n)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= TAIL_BEYOND:
        return xs[-1], 100.0, n
    rank = n - TAIL_BEYOND
    return xs[rank - 1], 100.0 * rank / n, n


def failures(requests, run_error=None):
    """(attempted, failed, failed_ratio). A request fails when it raised or
    its output check found it wrong. A failed whole-run check (the final
    store, the recall floor) judges the last request's output, so it fails
    that request if nothing else did."""
    attempted = len(requests)
    failed = sum(1 for r in requests if r.get("error"))
    if run_error and attempted and not requests[-1].get("error"):
        failed += 1
    return attempted, failed, (failed / attempted if attempted else 1.0)


def rows_per_s(requests):
    """Result rows per second of request time."""
    ms = sum(r["ms"] for r in requests)
    return 1000.0 * sum(r["rows"] for r in requests) / ms if ms > 0 else 0.0


def _depths(spans):
    by_id = {s["id"]: s for s in spans}
    depth = {}

    def d(s):
        if s["id"] not in depth:
            p = by_id.get(s["parent"])
            depth[s["id"]] = 0 if p is None else d(p) + 1
        return depth[s["id"]]

    for s in spans:
        d(s)
    return depth


def clip_to_parents(spans):
    """Each span's interval clipped to its parent's (job events carry
    millisecond times and can overhang); an unfinished span ends with its
    parent. Returns new span dicts."""
    by_id = {s["id"]: dict(s) for s in spans}
    depth = _depths(spans)
    order = sorted(by_id.values(), key=lambda s: depth[s["id"]])
    for s in order:
        p = by_id.get(s["parent"])
        if p is None:
            continue
        if s["end_ns"] < 0:
            s["end_ns"] = p["end_ns"]
        s["start_ns"] = min(max(s["start_ns"], p["start_ns"]), p["end_ns"])
        s["end_ns"] = min(max(s["end_ns"], s["start_ns"]), p["end_ns"])
    return list(by_id.values())


def self_times(spans):
    """Milliseconds of each layer's self time: every instant is charged to
    the deepest span open at that instant (the latest-started one among
    equally deep spans), so the layers' self times add up to the roots'
    wall time, and a span's self time is its duration minus the part of it
    that its children cover."""
    spans = clip_to_parents(spans)
    depth = _depths(spans)
    cuts = sorted({t for s in spans for t in (s["start_ns"], s["end_ns"])})
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        open_ = [s for s in spans if s["start_ns"] <= a and s["end_ns"] >= b]
        if not open_:
            continue
        top = max(open_, key=lambda s: (depth[s["id"]], s["start_ns"]))
        out[top["layer"]] = out.get(top["layer"], 0.0) + (b - a) / 1e6
    return out


def by_request(spans):
    reqs = {}
    for s in spans:
        reqs.setdefault(s["request"], []).append(s)
    return reqs


def counters(spans, layer=None, name=None):
    """Sum of every counter over the spans (of one layer or span name);
    the MAX_COUNTERS take the maximum instead."""
    out = {}
    for s in spans:
        if (layer and s["layer"] != layer) or (name and s["name"] != name):
            continue
        for k, v in s["counters"].items():
            if k in MAX_COUNTERS:
                out[k] = max(out.get(k, 0.0), v)
            else:
                out[k] = out.get(k, 0.0) + v
    return out


def duration_ms(spans, name):
    return sum((s["end_ns"] - s["start_ns"]) / 1e6 for s in spans if s["name"] == name)


def ratio(a, b):
    return a / b if b else 0.0


def metric(value, unit):
    v = float(value)
    return {"value": v if math.isfinite(v) else 0.0, "unit": unit}


def result_line(correct, attempted, failed, metrics):
    """The benchmark's last stdout line, as a dict."""
    return {"correct": bool(correct), "attempted": int(attempted),
            "failed": int(failed), "metrics": metrics}
