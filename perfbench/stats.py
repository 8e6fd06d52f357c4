"""Pure functions that turn the harness's raw measurements into metrics.

Kept free of I/O so `perfbench/tests` can pin them down.
"""
import math
import statistics


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it. For n samples, ceil((1 - p/100) * n) - 1
    samples lie strictly above the result when all are distinct, so p90
    of 100 samples has 10 samples beyond it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def geomean(values):
    """Geometric mean of positive samples."""
    if not values:
        raise ValueError("geometric mean of no samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def covered(intervals, lo, hi):
    """Length of the union of `intervals` ([start, end] pairs) clipped
    to [lo, hi]; overlapping intervals count once."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the time its children cover (each child
    clipped to the span, overlaps counted once)."""
    return (span["end"] - span["start"]) - covered(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def span_self_times(spans):
    """Self time per span name, summed, for one query's span list (each
    span names its parent by name; names are unique within a query)."""
    out = {}
    for sp in spans:
        kids = [c for c in spans if c["parent"] == sp["name"]]
        out[sp["name"]] = out.get(sp["name"], 0.0) + self_time(sp, kids)
    return out


LAYER_SUMS = (
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.delay_ms",
    "scheduler.tasks_failed", "scheduler.stages_skipped",
    "executor.run_ms", "executor.cpu_ms", "executor.deser_ms", "executor.gc_ms",
    "scan.input_mb", "scan.records",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_ms", "shuffle.records",
    "spill.disk_mb", "spill.mem_mb",
    "storage.blocks_written", "storage.block_mb",
    "streaming.state_rows", "streaming.state_mb",
)

# streaming progress durationMs key -> per-layer metric
BATCH_FIELDS = {
    "addBatch": "streaming.add_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "latestOffset": "streaming.latest_offset_ms",
    "getBatch": "streaming.get_batch_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
    "stateCommit": "streaming.state_commit_ms",
}

AGGREGATES = ("sum_builtin", "sum_custom", "sum_coercing")

# work counts a traced run can repeat exactly (same seed, same code)
COUNTS = ("scheduler.jobs", "scheduler.stages", "scheduler.tasks",
          "streaming.batches", "storage.blocks_written")


def row_medians(queries):
    """Each row's median wall (ms) over its executions, by row name. The
    latency metrics are taken over these, one value per row, so a
    burst of host steal during one execution moves a row's value only when
    it hits most of that row's executions."""
    by_row = {}
    for q in queries:
        by_row.setdefault(q["name"], []).append(q["wall_ms"])
    return {name: statistics.median(w) for name, w in sorted(by_row.items())}


def end_to_end(out):
    """End-to-end metrics of an untraced run, over the timed loop (the
    warm-up executions are excluded)."""
    timed = [q for q in out["queries"] if not q.get("warmup")]
    walls = list(row_medians(timed).values())
    ok = sum(1 for q in timed if q["ok"])
    return {
        "setup_s": statistics.median(s["total_ms"] for s in out["setups"]) / 1000.0,
        "query_gmean_s": geomean(walls) / 1000.0,
        "query_p90_s": percentile(walls, 90) / 1000.0,
        "queries_per_s": ok / (out["loop_ms"] / 1000.0),
    }


def per_layer(out):
    """Per-layer metrics of a traced run: totals over the traced
    executions of its single pass, plus set-up medians, plan shape, the
    micro-batch distribution and the tracing overhead."""
    traced = [q for q in out["queries"] if q["traced"]]
    untraced = [q for q in out["queries"] if not q["traced"] and not q.get("warmup")]
    m = {k: 0.0 for k in LAYER_SUMS}
    m.update({v: 0.0 for v in BATCH_FIELDS.values()})
    m.update({"catalyst.analysis_ms": 0.0, "catalyst.optimization_ms": 0.0,
              "catalyst.planning_ms": 0.0, "driver.gap_ms": 0.0,
              "ops.build_ms": 0.0, "ext.build_ms": 0.0, "streaming.run_ms": 0.0,
              "udaf.non_codegen_aggs": 0.0, "executor.peak_mem_mb": 0.0})
    batch_walls, frac = [], []
    for q in traced:
        layer = q.get("layer", {})
        for k in LAYER_SUMS:
            m[k] += layer.get(k, 0.0)
        m["executor.peak_mem_mb"] = max(m["executor.peak_mem_mb"],
                                        layer.get("executor.peak_mem_mb", 0.0))
        for b in layer.get("batches", []):
            batch_walls.append(b.get("triggerExecution", 0.0))
            for key, name in BATCH_FIELDS.items():
                m[name] += b.get(key, 0.0)
        spans = q.get("spans", [])
        by_name = {s["name"]: s for s in spans}
        for phase in ("analysis", "optimization", "planning"):
            if phase in by_name:
                m[f"catalyst.{phase}_ms"] += by_name[phase]["end"] - by_name[phase]["start"]
        if "query" in by_name:
            qs = by_name["query"]
            jobs = [(j["start"], j["end"]) for j in layer.get("jobs", [])]
            m["driver.gap_ms"] += (qs["end"] - qs["start"]) - covered(jobs, qs["start"], qs["end"])
        module = q.get("module")
        if module in ("ops", "ext"):
            m[f"{module}.build_ms"] += q.get("build_ms", 0.0)
        elif module == "streaming":
            m["streaming.run_ms"] += q.get("build_ms", 0.0)
        m["udaf.non_codegen_aggs"] += q.get("non_codegen_aggs", 0)
        if "codegen_frac" in q:
            frac.append(q["codegen_frac"])
    m["streaming.batches"] = float(len(batch_walls))
    m["streaming.batch_p50_ms"] = statistics.median(batch_walls) if batch_walls else 0.0
    m["streaming.batch_p90_ms"] = percentile(batch_walls, 90) if batch_walls else 0.0
    m["plan.codegen_frac"] = statistics.mean(frac) if frac else 0.0
    m["driver.peak_rss_mb"] = out["peak_rss_mb"]
    m["engine.warmup_s"] = out["warmup_ms"] / 1000.0
    m["engine.build_s"] = statistics.median(s["build_ms"] for s in out["setups"]) / 1000.0
    m["engine.register_s"] = statistics.median(s["register_ms"] for s in out["setups"]) / 1000.0
    medians = row_medians(untraced)
    for agg in AGGREGATES:
        m[f"udaf.{agg}_ms"] = medians.get(agg, 0.0)
    # traced minus untraced wall of the same query, the two run back to
    # back in alternating order
    diffs = [t["wall_ms"] - u["wall_ms"] for t, u in zip(traced, untraced)
             if t["name"] == u["name"]]
    m["trace.overhead_ms"] = statistics.median(diffs) if diffs else 0.0
    return m


def unit(name):
    """Unit of a metric, read off its name."""
    if name == "queries_per_s":
        return "1/s"
    for suffix, u in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_frac", "ratio")):
        if name.endswith(suffix):
            return u
    return "count"


def exact_counts(a, b):
    """Names of the work counts that two same-seed traced runs repeat
    exactly."""
    return [k for k in COUNTS if k in a and k in b and a[k] == b[k]]
