"""Pure arithmetic of the benchmark: quantiles, interval coverage, the
per-layer rollup of a traced run, and the spread and bound checks.  No Spark,
no I/O; tests/test_stats.py covers it."""

import statistics

LAYERS = ("sources", "Etl", "Dedup", "EditDistanceJoin", "ConnectedComponents",
          "Linker", "Ann", "StandingIndex")

# Per-span counters rolled up for every layer (suffixes of <layer>.<name>).
LAYER_FIELDS = ("calls", "busy_ms", "construct_ms", "plan_ms", "exec_ms",
                "outside_stage_ms", "jobs", "stages", "tasks", "cpu_ms",
                "gc_ms", "shuffle_mb", "spill_mb", "rows_out")

# Layer metrics that only some layers have.
EXTRA_FIELDS = ("Dedup.keep_ratio", "EditDistanceJoin.shuffle_records_per_pair",
                "ConnectedComponents.rounds", "Ann.files_read",
                "StandingIndex.bytes_per_input_byte", "StandingIndex.files",
                "sources.input_mb", "sources.output_mb", "trace.overhead_pct")

MB = float(1 << 20)


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def percentile(xs, p):
    """The p-th percentile with linear interpolation between closest ranks
    (numpy's default), p in [0, 100]."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    pos = (len(s) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


def relative_spread(values):
    """Interquartile distance over the median, the way the acceptance rule
    takes it: statistics.quantiles(values, n=4)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def within_bound(parent_median, change_median, bound, better):
    """True when the change's median is not worse than the parent's by more
    than ``bound`` (a share of the parent's median)."""
    if better == "lower":
        return change_median <= parent_median * (1 + bound)
    return change_median >= parent_median * (1 - bound)


def merge(intervals):
    """Union of (start, end) intervals as a sorted disjoint list."""
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def subtract(base, cut):
    """Parts of interval ``base`` not covered by the intervals in ``cut``."""
    a, b = base
    out = []
    for c, d in merge(cut):
        if d <= a or c >= b:
            continue
        if c > a:
            out.append((a, c))
        a = max(a, d)
        if a >= b:
            break
    if a < b:
        out.append((a, b))
    return out


def length(intervals):
    return sum(b - a for a, b in intervals)


def self_intervals(span, children):
    """A span's own time: its interval minus what its child spans cover."""
    return subtract((span["start"], span["end"]),
                    [(c["start"], c["end"]) for c in children])


def rollup(raw):
    """Per-layer metrics of a traced run, as {name: value}.  Every count and
    time is divided by the number of traced cycles, so the figures are per
    cycle of the workload and do not depend on how many fitted in the
    window."""
    spans = raw.get("spans", [])
    groups = raw.get("groups", {})
    stages = [(s[1], s[2]) for s in raw.get("stages", [])]
    values = raw.get("values", {})
    ops = max(1, int(values.get("traced_cycles", 0)))
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    acc = {(l, f): 0.0 for l in LAYERS for f in LAYER_FIELDS}
    shuffle_records = {l: 0.0 for l in LAYERS}
    cc_checkpoints = 0
    cc_calls = 0
    for s in spans:
        layer = s["layer"]
        if layer not in LAYERS or s["end"] is None:
            continue
        own = self_intervals(s, kids.get(s["id"], []))
        outside = sum(length(subtract(i, stages)) for i in own)
        busy = length(own)
        g = groups.get(s["group"], {})
        acc[(layer, "calls")] += 1
        acc[(layer, "busy_ms")] += busy
        ce = s.get("construct_end")
        acc[(layer, "construct_ms")] += (ce - s["start"]) if ce is not None else 0.0
        acc[(layer, "outside_stage_ms")] += outside
        acc[(layer, "exec_ms")] += busy - outside
        acc[(layer, "plan_ms")] += g.get("plan_ms", 0.0)
        for f in ("jobs", "stages", "tasks", "cpu_ms", "gc_ms"):
            acc[(layer, f)] += g.get(f, 0)
        acc[(layer, "shuffle_mb")] += g.get("shuffle_bytes", 0) / MB
        acc[(layer, "spill_mb")] += g.get("spill_bytes", 0) / MB
        acc[(layer, "rows_out")] += max(0, s.get("rows_out", -1))
        shuffle_records[layer] += g.get("shuffle_records", 0)
        if layer == "ConnectedComponents" and g.get("jobs", 0):
            cc_calls += 1
            cc_checkpoints += sum(1 for n in g.get("job_names", [])
                                  if n.startswith("localCheckpoint at ConnectedComponents"))

    out = {"%s.%s" % k: v / ops for k, v in acc.items()}
    edj_rows = acc[("EditDistanceJoin", "rows_out")]
    out["EditDistanceJoin.shuffle_records_per_pair"] = (
        shuffle_records["EditDistanceJoin"] / edj_rows if edj_rows else 0.0)
    out["ConnectedComponents.rounds"] = (
        max(0, cc_checkpoints - cc_calls) / cc_calls if cc_calls else 0.0)
    out["Dedup.keep_ratio"] = float(values.get("dedup_keep_ratio", 0.0))
    out["Ann.files_read"] = float(values.get("ann_files_read", 0.0))
    out["StandingIndex.bytes_per_input_byte"] = float(
        values.get("standing_bytes_per_input_byte", 0.0))
    out["StandingIndex.files"] = float(values.get("standing_files", 0.0))
    out["sources.input_mb"] = sum(g.get("input_bytes", 0) for k, g in groups.items() if k) / MB / ops
    out["sources.output_mb"] = sum(g.get("output_bytes", 0) for k, g in groups.items() if k) / MB / ops
    out["trace.overhead_pct"] = overhead_pct(raw.get("samples", {}))
    return out


def overhead_pct(samples):
    """Tracing overhead from the interleaved cycles of one traced run: the
    median traced cycle over the median untraced cycle, minus one, in
    percent.  The run's first cycle (untraced, and slower as a JVM's first)
    is left out."""
    untraced = samples.get("cycle", [])[1:]
    if not untraced or not samples.get("cycle@traced"):
        return 0.0
    return 100.0 * (median(samples["cycle@traced"]) / median(untraced) - 1.0)
