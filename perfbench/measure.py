"""Summary statistics and the per-layer arithmetic over a raw trace.

The harness records spans (name, start, end, parent, run id) around its
calls into the library, and the Spark jobs, stages and planning phases
those calls caused. Everything derived from them lives here, so it can be
tested without a JVM.
"""

import math
import statistics
from fractions import Fraction

PLANNING_PHASES = ("analysis", "optimization", "planning")


def median(values):
    return statistics.median(values)


def tail_percentile(values):
    """The highest of p50/p90/p99/p99.9 with at least ten samples beyond
    it, as ``(label, value)``, or ``None`` when even p50 has fewer.

    The value is the nearest-rank percentile: rank ``ceil(p * n)``, with
    ``n - rank`` samples beyond it."""
    n = len(values)
    best = None
    for label, p in (("p50", Fraction(1, 2)), ("p90", Fraction(9, 10)),
                     ("p99", Fraction(99, 100)),
                     ("p99.9", Fraction(999, 1000))):
        rank = max(1, math.ceil(p * n))
        if n - rank >= 10:
            best = (label, sorted(values)[rank - 1])
    return best


def summary(values):
    """Median with its sample count, plus the supported tail percentile."""
    out = {"median": median(values), "n": len(values)}
    tail = tail_percentile(values)
    if tail:
        out[tail[0]] = tail[1]
    return out


def quartile_spread(values):
    """(Q3 - Q1) / median, with the quartiles ``statistics.quantiles``
    gives for n=4."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def union_length(intervals):
    """Total length covered by possibly overlapping (start, end) pairs."""
    total = 0
    cur_start = cur_end = None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def driver_gap_s(span, stages):
    """Wall time of ``span`` not covered by any of its stages' intervals
    (clipped to the span), in seconds."""
    lo, hi = span["start_ms"], span["end_ms"]
    covered = union_length((max(lo, s["start_ms"]), min(hi, s["end_ms"]))
                           for s in stages)
    return max(0.0, span["s"] - covered / 1000.0)


def call_measures(trace):
    """Per span id: (name, measures) where the measures are the span's
    wall time ``s``, ``jobs``, ``stages``, ``tasks``, ``planning_s``,
    ``executor_cpu_s``, ``gc_s``, ``shuffle_write_bytes``,
    ``shuffle_records`` and ``driver_gap_s``, its descendants included,
    plus whatever counts the harness attached to the span."""
    spans = trace["spans"]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])

    def subtree(sid):
        out, todo = set(), [sid]
        while todo:
            x = todo.pop()
            out.add(x)
            todo.extend(children.get(x, []))
        return out

    out = {}
    for s in spans:
        ids = subtree(s["id"])
        stages = [st for st in trace["stages"] if st["span"] in ids]
        planning_ms = sum(
            p["end_ms"] - p["start_ms"] for p in trace["phases"]
            if p["phase"] in PLANNING_PHASES
            and s["start_ms"] <= p["start_ms"] <= s["end_ms"])
        m = {k: v for k, v in s.items()
             if k not in ("id", "name", "parent", "run", "start_ms",
                          "end_ms")}
        m.update({
            "jobs": sum(1 for j in trace["jobs"] if j["span"] in ids),
            "stages": len(stages),
            "tasks": sum(st["tasks"] for st in stages),
            "planning_s": planning_ms / 1000.0,
            "executor_cpu_s": sum(st["executor_cpu_ns"]
                                  for st in stages) / 1e9,
            "gc_s": sum(st["gc_ms"] for st in stages) / 1000.0,
            "shuffle_write_bytes": sum(st["shuffle_write_bytes"]
                                       for st in stages),
            "shuffle_records": sum(st["shuffle_records"] for st in stages),
            "driver_gap_s": driver_gap_s(s, stages),
        })
        out[s["id"]] = (s["name"], m)
    return out


def per_layer(trace, wanted):
    """``{"<span name>.<measure>": median over that span's calls}`` for
    every name in ``wanted`` the trace has; the rest are absent."""
    by_name = {}
    for name, m in call_measures(trace).values():
        for k, v in m.items():
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                by_name.setdefault(f"{name}.{k}", []).append(v)
    return {k: median(v) for k, v in by_name.items() if k in wanted}
