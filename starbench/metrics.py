"""Pure functions that turn a run record into the benchmark's metrics.

Nothing here touches Spark or the file system, so the unit tests in
test_starbench.py exercise it directly.
"""
import math
import re
import statistics

# A metric or workload name: starts with a letter or digit, at most 64 of
# letters, digits, '_', '.', '-'.
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")

# graft modules a Spark job can be charged to, by the package of the first
# user frame in its call site (graft.Tables is its own layer)
MODULES = ("tables", "sources", "operators", "pipeline", "queries", "other")

# DAG task id -> per-layer metric name
PIPELINE_TASKS = {
    "core.dim_customers": "pipeline.dim_customers_s",
    "core.dim_parts": "pipeline.dim_parts_s",
    "core.dim_dates": "pipeline.dim_dates_s",
    "core.fact_orders": "pipeline.fact_orders_s",
    "datamart.sales_summary": "pipeline.sales_summary_s",
    "datamart.customer_analytics_state": "pipeline.customer_state_s",
    "datamart.customer_analytics": "pipeline.customer_analytics_s",
}

SLOTS = 4  # local[4]


def valid_name(name):
    return bool(NAME_RE.match(name))


def valid_unit(unit):
    return bool(UNIT_RE.match(unit))


def percentile(values, p):
    """The p-th percentile (0 < p < 100) by linear interpolation between
    closest ranks, the convention of statistics.quantiles(method='inclusive')."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values, candidates=(99.9, 99, 95, 90, 75, 50)):
    """The highest candidate percentile that has at least ten samples
    strictly above it, as (p, value); None when even the median has fewer
    than ten samples beyond it."""
    for p in candidates:
        v = percentile(values, p)
        if sum(1 for x in values if x > v) >= 10:
            return p, v
    return None


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals` (clipped)."""
    segs = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
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


def self_time(span, children):
    """A span's wall time minus the part of it its children cover."""
    return (span["end"] - span["start"]) - covered(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


PLATFORM = ("org.apache.spark.", "scala.", "java.", "java.base/", "jdk.", "sun.")


def module_of(call_site_long):
    """The graft module a job is charged to: the package of the first
    non-Spark, non-JDK frame of its call site (the frame Spark's short call
    site names) when that frame is graft code, else 'other'. Jobs that AQE
    or a broadcast submit from a pool thread have no such graft frame."""
    for line in (call_site_long or "").split("\n"):
        line = line.strip()
        if not line or line.startswith(PLATFORM):
            continue
        m = re.match(r"^([\w.$]+)\.[\w$<>]+\(", line)
        parts = m.group(1).split(".") if m else []
        if len(parts) < 2 or parts[0] != "graft":
            return "other"
        if len(parts) == 2:  # a class directly in package graft
            return "tables" if parts[1].rstrip("$") == "Tables" else "other"
        return parts[1] if parts[1] in MODULES else "other"
    return "other"


def is_schema_job(call_site):
    """Jobs whose call site is in graft's table loader: parquet footer
    schema inference."""
    return "Tables.scala" in (call_site or "")


def op_wall_s(o):
    return (o["end"] - o["start"]) / 1000.0


def typical_op(ops, value=op_wall_s):
    """The geometric mean over op kinds of each kind's median `value`: the
    median op for a one-kind workload, and for a query mix a figure in
    which every query weighs the same however slow it is. Failed ops are
    left out unless every op failed."""
    kinds = {}
    for o in [o for o in ops if o["ok"]] or ops:
        kinds.setdefault(o["kind"], []).append(value(o))
    meds = [statistics.median(v) for v in kinds.values()]
    return math.exp(sum(math.log(max(m, 1e-9)) for m in meds) / len(meds))


def e2e(ops, setup_s, peak_rss_kb):
    """End-to-end metrics of an untraced run."""
    return {
        "setup_s": setup_s,
        "op_cpu_s": typical_op(ops, lambda o: o["cpu_s"]),
        "peak_rss_mb": peak_rss_kb / 1024.0,
    }


def overhead_frac(ops):
    """(traced op wall - untraced op wall) / untraced op wall, taking for
    each op kind the median of each side and summing over the kinds that
    have both."""
    t, u = 0.0, 0.0
    for kind in sorted({o["kind"] for o in ops}):
        tr = [(o["end"] - o["start"]) for o in ops if o["kind"] == kind and o["traced"] and o["ok"]]
        un = [(o["end"] - o["start"]) for o in ops if o["kind"] == kind and not o["traced"] and o["ok"]]
        if tr and un:
            t += statistics.median(tr)
            u += statistics.median(un)
    return (t - u) / u if u > 0 else 0.0


def op_span_ids(ops, spans):
    """Map each traced op record (by its id) to the id of its op span, the
    one op span that starts inside the record's interval."""
    out = {}
    for s in spans:
        if s["kind"] != "op":
            continue
        for o in ops:
            if o["traced"] and o["start"] <= s["start"] <= o["end"]:
                out[o["id"]] = s["id"]
    return out


def per_layer(ops, spans, plans, storage):
    """Per-layer metrics of a traced run: means per traced op unless the
    name says otherwise."""
    traced = [o for o in ops if o["traced"] and o["ok"]]
    n = max(1, len(traced))
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    op_spans = {s["id"]: s for s in spans if s["kind"] == "op"}
    jobs = [s for s in spans if s["kind"] == "job"]
    stages = [s for s in spans if s["kind"] == "stage"]
    span_of = op_span_ids(ops, spans)
    out = {}

    # graft.pipeline: DAG task spans and the DAG's own time around them
    tasks = [s for s in spans if s["kind"] == "task"]
    for tid, name in PIPELINE_TASKS.items():
        out[name] = sum(s["end"] - s["start"] for s in tasks if s["name"] == tid) / 1000.0 / n
    pipe_ops = [s for s in op_spans.values() if any(c["kind"] == "task" for c in by_parent.get(s["id"], []))]
    out["pipeline.dag_self_s"] = sum(
        self_time(s, [c for c in by_parent.get(s["id"], []) if c["kind"] == "task"])
        for s in pipe_ops) / 1000.0 / n

    # graft.queries + graft.operators: build and exec spans per half
    for group in ("star", "curation"):
        gops = [o for o in traced if o["group"] == group]
        gn = max(1, len(gops))
        ids = {span_of[o["id"]] for o in gops if o["id"] in span_of}
        b = [s for s in spans if s["kind"] == "build" and s["op"] in ids]
        e = [s for s in spans if s["kind"] == "exec" and s["op"] in ids]
        bids = {s["id"] for s in b}
        out[f"queries.build_s.{group}"] = sum(s["end"] - s["start"] for s in b) / 1000.0 / gn
        out[f"queries.exec_s.{group}"] = sum(s["end"] - s["start"] for s in e) / 1000.0 / gn
        out[f"queries.build_jobs.{group}"] = sum(1 for j in jobs if j["parent"] in bids) / gn

    # graft.Tables: footer schema inference jobs
    sj = [j for j in jobs if is_schema_job(j.get("call_site"))]
    out["tables.schema_jobs"] = len(sj) / n
    out["tables.schema_s"] = sum(j["end"] - j["start"] for j in sj) / 1000.0 / n

    # graft.sources storage: warehouse diff per op, generations per op
    out["storage.files_written"] = sum(o.get("files_written", 0) for o in traced) / n
    out["storage.mb_written"] = sum(o.get("bytes_written", 0) for o in traced) / 2**20 / n
    out["storage.generations"] = storage.get("generations_per_op", 0.0)

    # Catalyst + graft.plans: phase times of the executions inside traced ops
    windows = [(o["start"], o["end"]) for o in traced]
    mine = [p for p in plans if any(a <= p.get("optimization_start", -1) <= b for a, b in windows)]
    for phase, name in (("optimization", "plans.optimizer_ms"), ("planning", "plans.planning_ms")):
        out[name] = sum(p.get(phase + "_ms", 0.0) for p in mine) / n

    # Spark execution
    wall = sum(o["end"] - o["start"] for o in traced) / 1000.0
    run_s = sum(s["run_ms"] for s in stages) / 1000.0
    out["spark.jobs"] = len(jobs) / n
    out["spark.stages"] = len(stages) / n
    out["spark.tasks"] = sum(s["tasks"] for s in stages) / n
    out["spark.failed_tasks"] = sum(s["failed_tasks"] for s in stages) / n
    out["spark.exec_run_s"] = run_s / n
    out["spark.exec_cpu_s"] = sum(s["cpu_ns"] for s in stages) / 1e9 / n
    out["spark.gc_s"] = sum(s["gc_ms"] for s in stages) / 1000.0 / n
    out["spark.sched_delay_s"] = sum(s["sched_delay_ms"] for s in stages) / 1000.0 / n
    out["spark.slot_busy_frac"] = run_s / (wall * SLOTS) if wall > 0 else 0.0
    for key, name in (("input_bytes", "spark.input_mb"), ("shuffle_write_bytes", "spark.shuffle_write_mb"),
                      ("shuffle_read_bytes", "spark.shuffle_read_mb"), ("spill_bytes", "spark.spill_mb"),
                      ("output_bytes", "spark.output_mb")):
        out[name] = sum(s[key] for s in stages) / 2**20 / n
    out["spark.job_time_s"] = sum(
        covered([(j["start"], j["end"]) for j in jobs if j["op"] == s["id"]], s["start"], s["end"])
        for s in op_spans.values()) / 1000.0 / n
    for m in MODULES:
        out[f"spark.jobs.{m}"] = sum(1 for j in jobs if module_of(j.get("call_site_long")) == m) / n

    out["trace.overhead_frac"] = overhead_frac(ops)
    return out
