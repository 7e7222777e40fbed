"""Pure reductions from a run's raw record to the reported metrics.

The JVM side records per-operation times and, in traced runs, spans with
the Spark counts keyed to them; everything here is arithmetic on those
records, so it is unit-tested without Spark (perfbench/tests).
"""
import math
import statistics

TAIL_BEYOND = 10


def tail(values, beyond=TAIL_BEYOND):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, samples above it). A tail lies above the
    median: with too few samples for such a percentile to sit above it
    (fewer than 2 * beyond + 2), the maximum is returned as the 100th
    with none above it.
    """
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    i = n - beyond - 1
    if i <= (n - 1) / 2:
        return s[-1], 100.0, 0
    return s[i], 100.0 * (i + 1) / n, beyond


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    end = -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def self_times(spans):
    """span id -> its duration minus the part its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered = union_length(clip([(c["start_ms"], c["end_ms"]) for c in kids.get(s["id"], [])], lo, hi))
        out[s["id"]] = (hi - lo) - covered
    return out


def subtree(spans, root_id):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    by_id = {s["id"]: s for s in spans}
    while todo:
        i = todo.pop()
        out.append(by_id[i])
        todo += [c["id"] for c in kids.get(i, [])]
    return out


def wall(s):
    return s["end_ms"] - s["start_ms"]


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(rec):
    """Metrics a user of the system sees, from an untraced run; the tail
    and the throughput go to the record only (see perfbench/README.md).

    A failed or wrong operation counts as missing every latency limit:
    it enters the latency samples as the whole measured window.
    """
    ops = rec["ops"]
    worst = rec["loop_s"] * 1000.0
    ms = [o["ms"] if o["ok"] else worst for o in ops]
    ok = sum(1 for o in ops if o["ok"])
    t, pct, above = tail(ms)
    metrics = {
        "setup_s": rec["setup_s"],
        "op_p50_ms": statistics.median(ms),
        "op_tail_ms": t,
        "op_cpu_ms": statistics.median(o["cpu_ms"] for o in ops),
        "ops_per_s": ok / (sum(o["ms"] for o in ops) / 1000.0),
        "stored_bytes_per_input_byte": statistics.median(rec["stored_ratios"]),
    }
    return metrics, {"percentile": pct, "samples": len(ms), "samples_above": above}


def per_layer(rec):
    """Per-layer metrics from a traced run, each a mean per operation
    unless named as a ratio; layers the workload does not run read 0."""
    spans = rec["spans"]
    named = lambda prefix: [s for s in spans if s["name"].startswith(prefix)]
    roots = named("op.")
    n = len(roots)
    trees = [subtree(spans, r["id"]) for r in roots]

    def per_op(key):
        return sum(sum(s[key] for s in t) for t in trees) / n if n else 0.0

    def gap(root, tree):
        jobs = clip([(a, b) for s in tree for a, b in s["jobs"]], root["start_ms"], root["end_ms"])
        return wall(root) - union_length(jobs)

    def skew(s):
        ms = s["task_ms"]
        med = statistics.median(ms) if ms else 0
        return max(ms) / med if med > 0 else 0.0

    def attr_sum(spans_, key):
        return sum(s["attrs"].get(key, 0.0) for s in spans_)

    parse = named("probe.parse_only")
    repair = named("probe.parse_repair")
    passes = named("op.osm_etl")
    sink = named("sink.writeParquet")
    geo = [s for g in named("probe.geo_within_split") for s in subtree(spans, g["id"])]
    batches = named("op.ingest")
    cands = named("probe.candidates")

    def per_batch(name):
        return sum(wall(s) for s in named(name)) / len(batches) if batches else 0.0

    def ratio(a, b):
        return a / b if b else 0.0

    m = {
        "sources.parse_ms": mean(wall(s) for s in parse),
        "sources.tasks": mean(s["tasks"] for s in parse),
        "sources.task_skew": statistics.median([skew(s) for s in parse]) if parse else 0.0,
        "sources.elements": mean(s["attrs"].get("elements", 0.0) for s in parse),
        "repairs.ms": (mean(wall(s) for s in repair) - mean(wall(s) for s in parse)) if repair else 0.0,
        "repairs.changed_frac": ratio(attr_sum(repair, "addresses_changed"), attr_sum(repair, "addresses_seen")),
        "sink.write_ms": (mean(wall(s) for s in passes) - mean(wall(s) for s in repair)) if repair else 0.0,
        "sink.bytes": mean(s["attrs"].get("bytes", 0.0) for s in sink),
        "sink.files": mean(s["attrs"].get("files", 0.0) for s in sink),
        "spark.planning_ms": per_op("planning_ms"),
        "spark.jobs": sum(len(s["jobs"]) for t in trees for s in t) / n if n else 0.0,
        "spark.stages": per_op("stages"),
        "spark.tasks": per_op("tasks"),
        "spark.driver_gap_ms": mean(gap(r, t) for r, t in zip(roots, trees)),
        "spark.task_cpu_ms": per_op("cpu_ms"),
        "spark.input_bytes": per_op("input_bytes"),
        "spark.shuffle_bytes": per_op("shuffle_bytes"),
        "spark.spill_bytes": per_op("spill_bytes"),
        "plans.pip_rows_read_per_match": ratio(sum(s["scan_rows"] for s in geo), attr_sum(geo, "pip_matches")),
        "dedup.probe_ms": per_batch("dedup.probe"),
        "dedup.append_ms": per_batch("dedup.append"),
        "dedup.candidates_per_dup": ratio(attr_sum(cands, "candidates"), attr_sum(cands, "duplicates")),
        "dedup.skipped_buckets": mean(s["attrs"].get("skipped_buckets", 0.0) for s in cands),
        "ann.search_ms": per_batch("ann.search"),
        "jvm.gc_ms": mean(r["gc_ms"] for r in roots),
        "jvm.jit_ms": mean(r["jit_ms"] for r in roots),
        "trace.overhead_ms": tracing_overhead(rec["ops"]),
    }
    return m, self_time_by_layer(spans, roots)


def tracing_overhead(ops):
    """Traced minus untraced median op time, averaged over op names that
    ran both ways (traced runs alternate traced and untraced rounds)."""
    diffs = []
    for name in sorted({o["name"] for o in ops}):
        on = [o["ms"] for o in ops if o["name"] == name and o["traced"] and o["ok"]]
        off = [o["ms"] for o in ops if o["name"] == name and not o["traced"] and o["ok"]]
        if on and off:
            diffs.append(statistics.median(on) - statistics.median(off))
    return mean(diffs)


def self_time_by_layer(spans, roots):
    """Mean self time per operation of every span name under the op roots."""
    own = self_times(spans)
    ids = {s["id"] for r in roots for s in subtree(spans, r["id"])}
    out = {}
    for s in spans:
        if s["id"] in ids:
            out[s["name"]] = out.get(s["name"], 0.0) + own[s["id"]]
    return {k: v / len(roots) for k, v in sorted(out.items())} if roots else {}
