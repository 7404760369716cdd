"""Reduces one harness record to the benchmark's metrics.

A record holds, per timed operation, its span (start, end of the builder
call, end) and, in a traced run, the jobs, stages, query executions and
streaming progress the listeners saw while it ran. The span tree is

    workload -> pass -> operation -> {build, execute} -> job -> stage

and every per-layer metric is recorded per operation and summed per pass;
a run reports the median over its traced passes.
"""
import hashlib
import math
import statistics

QUERY_KINDS = ("query", "window", "readback")


# ---------------------------------------------------------------- spans

def union_ms(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of `intervals`, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_ms(span, children):
    """A span's duration minus the part of it its children cover.
    Children may overlap each other and may stick out of the span."""
    a, b = span
    return (b - a) - union_ms(children, a, b)


# ---------------------------------------------------------- percentiles

def percentile(values, q):
    """The q-quantile (0 < q < 1) of `values`. A tail percentile (q above
    the median) is None unless at least ten samples lie beyond it, so p90
    needs 100 samples; the median needs one."""
    n = len(values)
    if n == 0 or (q > 0.5 and n * (1 - q) < 10 - 1e-9):
        return None
    s = sorted(values)
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values):
    return statistics.median(values) if values else None


# -------------------------------------------------------------- digests

def digest(rows):
    """Order-independent digest of a result: each row's repr, sorted."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


# -------------------------------------------------------------- metrics

def op_ms(op):
    return op["end_ms"] - op["start_ms"]


def timed_passes(record):
    return [p for p in record["passes"] if p["pass"] >= record["first_timed_pass"]]


def feed_rates(record, passes, feed_rows):
    """Median over `passes` of feed rows per second of the stream drain
    and of the MergeTree append (`ingest_rows_per_s`, `append_rows_per_s`);
    empty without a feed."""
    if not feed_rows:
        return {}
    out = {}
    for name, kind in (("ingest_rows_per_s", "drain"), ("append_rows_per_s", "append")):
        rates = []
        for p in passes:
            ms = sum(op_ms(o) for o in record["ops"]
                     if o["pass"] == p["pass"] and o["kind"] == kind)
            if ms > 0:
                rates.append(feed_rows / (ms / 1000.0))
        if rates:
            out[name] = median(rates)
    return out


def end_to_end(record, setup_start_ms, feed_rows=None):
    """The untraced run's end-to-end metrics, and its counts (with the
    feed rates, which are per-layer metrics but logged here too)."""
    passes = timed_passes(record)
    ops = [o for o in record["ops"] if o["pass"] >= record["first_timed_pass"]]
    lat = [op_ms(o) for o in ops if o["kind"] in QUERY_KINDS and o["ok"]]
    return {
        "setup_s": (record["first_timed_ms"] - setup_start_ms) / 1000.0,
        "wall_s": median([(p["end_ms"] - p["start_ms"]) / 1000.0 for p in passes]),
        "query_p50_ms": median(lat),
    }, {"passes": len(passes), "query_samples": len(lat),
        **{k: round(v, 1) for k, v in feed_rates(record, passes, feed_rows).items()}}


GRAFT_EXECS = ("GlobalOffsetExec", "GlobalRankExec", "GlobalRunningAggExec",
               "GroupedOffsetExec", "GroupedRankExec", "GroupedRunningAggExec",
               "RangeSlidingAggExec", "SlidingAggExec", "TopKFinalExec",
               "TopKPartialExec")

STAGE_SUMS = ("task_run_ms", "task_deser_ms", "gc_ms", "result_bytes",
              "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_fetch_wait_ms",
              "spill_mem_bytes", "spill_disk_bytes", "input_bytes", "input_rows",
              "output_bytes", "output_rows")

PER_LAYER = (
    # query builders
    "build_ms", "build_jobs",
    # Catalyst phases and the graft rules' physical nodes
    "analysis_ms", "optimizer_ms", "planner_ms", "graft_nodes",
    *("graft_nodes." + e for e in GRAFT_EXECS),
    # driver side of execution
    "driver_gap_ms", "result_bytes",
    # scheduler
    "jobs", "stages", "tasks", "single_task_stages",
    # executors
    "task_run_ms", "task_cpu_ms", "task_deser_ms", "gc_ms", "slot_util",
    "max_task_share", "peak_exec_mem_bytes",
    # shuffle and spill
    "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_fetch_wait_ms",
    "spill_mem_bytes", "spill_disk_bytes",
    # scans
    "input_bytes", "input_rows",
    # streaming sink and state
    "batches", "batch_p50_ms", "sink_write_ms", "sink_retries",
    "stream_get_batch_ms", "stream_plan_ms", "stream_add_batch_ms", "stream_wal_ms",
    "state_rows", "state_bytes", "output_bytes", "output_rows", "append_ms",
    "ingest_rows_per_s", "append_rows_per_s",
    # sources
    "source_rows", "task_failures",
    # span self times
    "self_ms.pass", "self_ms.build", "self_ms.job", "self_ms.stage",
    # the workload JVM
    "peak_rss_mb",
    # the benchmark itself
    "trace_overhead", "sentinel_ms",
)


def op_layers(op):
    """Per-layer metrics of one traced operation."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    t0, tb, t1 = op["start_ms"], op["build_end_ms"], op["end_ms"]
    jobs, stages = op.get("jobs", []), op.get("stages", [])
    m["build_ms"] = tb - t0
    m["build_jobs"] = sum(1 for j in jobs if j["start_ms"] < tb)
    m["analysis_ms"] = op.get("analysis_ms", 0)
    for q in op.get("qes", []):
        m["analysis_ms"] += q["analysis_ms"]
        m["optimizer_ms"] += q["optimizer_ms"]
        m["planner_ms"] += q["planner_ms"]
        for cls, n in q["graft_nodes"].items():
            m["graft_nodes"] += n
            if "graft_nodes." + cls in m:
                m["graft_nodes." + cls] += n
    m["jobs"] = len(jobs)
    m["stages"] = len(stages)
    m["tasks"] = sum(s["tasks"] for s in stages)
    m["single_task_stages"] = sum(1 for s in stages if s["tasks"] == 1)
    for k in STAGE_SUMS:
        m[k] = float(sum(s[k] for s in stages))
    m["task_cpu_ms"] = sum(s["task_cpu_ns"] for s in stages) / 1e6
    m["task_failures"] = sum(s["failed_tasks"] for s in stages)
    m["peak_exec_mem_bytes"] = max((s["peak_exec_mem_bytes"] for s in stages), default=0)
    wall = t1 - t0
    m["max_task_share"] = (max((s["max_task_ms"] for s in stages), default=0) / wall
                           if wall > 0 else 0.0)

    job_iv = [(j["start_ms"], j["end_ms"]) for j in jobs]
    stage_iv = {s["id"]: (s["start_ms"], s["end_ms"]) for s in stages}
    # an operation is covered by its build and execute spans, so its own
    # self time is zero; the execute span's self time is the driver gap
    m["driver_gap_ms"] = self_ms((tb, t1), job_iv)
    m["self_ms.build"] = self_ms((t0, tb), job_iv)
    m["self_ms.job"] = sum(
        self_ms((j["start_ms"], j["end_ms"]),
                [stage_iv[s] for s in j["stages"] if s in stage_iv])
        for j in jobs)
    m["self_ms.stage"] = sum(b - a for a, b in stage_iv.values())

    prog = op.get("progress", [])
    if op["kind"] == "drain":
        m["batches"] = len(prog)
        m["sink_write_ms"] = op["sink_write_ms"]
        m["sink_retries"] = op["sink_retries"]
        m["stream_get_batch_ms"] = sum(p["get_batch_ms"] for p in prog)
        m["stream_plan_ms"] = sum(p["plan_ms"] for p in prog)
        m["stream_add_batch_ms"] = sum(p["add_batch_ms"] for p in prog)
        m["stream_wal_ms"] = sum(p["wal_ms"] for p in prog)
        m["state_rows"] = max((p["state_rows"] for p in prog), default=0)
        m["state_bytes"] = max((p["state_bytes"] for p in prog), default=0)
        m["source_rows"] = sum(p["input_rows"] for p in prog)
    if op["kind"] == "append":
        m["append_ms"] = wall
    return m


# Metrics of a pass that are not sums over its operations.
MAX_OVER_OPS = ("max_task_share", "peak_exec_mem_bytes", "state_rows", "state_bytes")


def pass_layers(pas, ops, cpus, feed_rows):
    """Per-layer metrics of one traced pass."""
    per_op = [op_layers(o) for o in ops]
    m = {}
    for k in PER_LAYER:
        vals = [x[k] for x in per_op]
        m[k] = max(vals, default=0.0) if k in MAX_OVER_OPS else float(sum(vals))
    wall = pas["end_ms"] - pas["start_ms"]
    m["slot_util"] = m["task_run_ms"] / (wall * cpus) if wall > 0 else 0.0
    m["self_ms.pass"] = self_ms((pas["start_ms"], pas["end_ms"]),
                                [(o["start_ms"], o["end_ms"]) for o in ops])
    return m


def per_layer(record, feed_rows=None):
    """The traced run's per-layer metrics: medians over traced passes."""
    passes = timed_passes(record)
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    rows = []
    for p in traced:
        ops = [o for o in record["ops"] if o["pass"] == p["pass"]]
        rows.append(pass_layers(p, ops, record["cpus"], feed_rows))
    out = {k: median([r[k] for r in rows]) or 0.0 for k in PER_LAYER}
    # micro-batch times are pooled over the run's traced passes
    batch_ms = [b["trigger_ms"] for o in record["ops"] if o["traced"]
                for b in o.get("progress", [])]
    out["batch_p50_ms"] = percentile(batch_ms, 0.5) or 0.0

    # the feed rates are end-to-end figures: read from the listener-free
    # passes, like the untraced run's
    out.update(feed_rates(record, plain, feed_rows))

    # traced and untraced passes come in balanced blocks (untraced,
    # traced, traced, untraced), so a linear warm-up drift cancels out
    # of the difference of their means
    def wall(ps):
        return statistics.mean([p["end_ms"] - p["start_ms"] for p in ps])
    if traced and plain:
        out["trace_overhead"] = wall(traced) / wall(plain) - 1.0
    out["sentinel_ms"] = median(record["sentinel_ms"]) or 0.0
    out["peak_rss_mb"] = record["peak_rss_mb"]
    return out, {"passes": len(passes), "traced_passes": len(traced)}
