"""Turns a run record (written by perfbench.Main) into the benchmark's
metrics: percentiles, span self time, the per-layer split and the
attempted/failed tally. Pure functions, no I/O; see tests/test_analysis.py.
"""

FAMILIES = ["relational", "text", "dedup", "similarity", "graph", "multimodal", "pipeline"]
MODELS = [
    "unter_grun_pickups_in_bronx",
    "total_pickups_in_may_by_base",
    "top_3_base_names_by_total_pickups",
    "top_3_pickup_dates_per_base",
    "pickup_count_vs_average_per_base",
    "pickup_percentile_by_base_per_month",
]
SPARK_KEYS = ["jobs", "stages", "tasks", "sched_delay_s", "planning_s", "codegen_compiles",
              "codegen_compile_s", "gc_s", "spill_bytes", "shuffle_bytes"]
FAMILY_KEYS = ["wall_s", "jobs", "stages", "tasks", "shuffle_bytes", "planning_s"]

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "pass_s": "s",
}


def _unit(name):
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_frac", "_amp", "_rate")):
        return "ratio"
    if name.endswith("_mb"):
        return "MiB"
    return "count"


PER_LAYER = (
    ["latency.op_p50_s", "latency.op_p75_s",
     "ingest.wall_s", "ingest.jobs", "ingest.rows_per_s", "ingest.write_amp",
     "ingest.increment_wall_s",
     "checks.wall_s", "checks.jobs", "checks.fact_scans",
     "models.wall_s", "models.jobs", "models.input_bytes", "models.shuffle_bytes"]
    + [f"models.{m}.wall_s" for m in MODELS]
    + ["incremental.increment_s", "incremental.apply_s", "incremental.jobs_per_increment", "incremental.write_amp",
       "incremental.files_written", "incremental.fullbuild_s"]
    + [f"operators.{f}.{k}" for f in FAMILIES for k in FAMILY_KEYS]
    + [f"spark.{k}" for k in SPARK_KEYS] + ["spark.busy_frac"]
    + ["trace_overhead_s", "trace_job_mismatches", "error_rate", "peak_rss_mb", "peak_heap_mb",
       "calibration.cpu_loop_s", "calibration.spark_job_s"]
)
PER_LAYER_UNITS = {n: _unit(n) for n in PER_LAYER}


def percentile(values, q):
    """The q-quantile (0..1) by linear interpolation between closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 0.5)


def duration(span):
    return span["end"] - span["start"]


def self_times(spans):
    """Span id -> its duration minus the durations of its direct children."""
    own = {s["id"]: duration(s) for s in spans}
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= duration(s)
    return own


def passes(attempts, size):
    """Wall totals of consecutive whole passes of `size` attempts."""
    walls = [a["wall_s"] for a in attempts]
    return [sum(walls[i:i + size]) for i in range(0, len(walls) - size + 1, size)]


def outcome(record):
    """(attempted, failed): every attempt and every gate counts once."""
    traced = record.get("traced") or {}
    attempts = list(record["attempts"]) + traced.get("attempts", []) + traced.get("other", [])
    gates = list(record["gates"]) + traced.get("gates", [])
    failed = sum(1 for a in attempts if a.get("error")) \
        + sum(1 for g in gates if g["expected"] != g["actual"])
    return len(attempts) + len(gates), failed


def end_to_end(record):
    size = int(record["facts"].get("pass_size", 1))
    return {
        "setup_s": median(record["setup_s"]),
        "pass_s": median(passes(record["attempts"], size)),
    }


def _named(spans, name):
    return [s for s in spans if s["name"] == name]


def _children(spans, parent):
    return [s for s in spans if s["parent"] == parent["id"]]


def per_layer(record):
    """Every per-layer metric; a layer the workload never calls reads 0."""
    out = {n: 0.0 for n in PER_LAYER}
    # per-operation latency of the untraced loop (a build, or one query)
    walls = [a["wall_s"] for a in record["attempts"]]
    out["latency.op_p50_s"] = percentile(walls, 0.5)
    out["latency.op_p75_s"] = percentile(walls, 0.75)
    traced = record["traced"]
    spans = traced["spans"]
    facts = record["facts"]
    cores = traced["cores"]
    wl = record["workload"]
    c = lambda s, k: s["counters"].get(k, 0.0)  # noqa: E731

    def med(name, key=None):
        xs = _named(spans, name)
        return median([duration(s) if key is None else c(s, key) for s in xs]) if xs else 0.0

    if wl == "uber_build":
        out["ingest.wall_s"] = med("ingest")
        out["ingest.jobs"] = med("ingest", "jobs")
        out["ingest.rows_per_s"] = facts["fact_rows"] / out["ingest.wall_s"]
        out["ingest.write_amp"] = med("ingest", "output_bytes") / facts["csv_bytes"]
        out["checks.wall_s"] = med("checks")
        out["checks.jobs"] = med("checks", "jobs")
        out["checks.fact_scans"] = med("checks", "fact_scans")
        groups = [[k for k in _children(spans, p) if k["name"].startswith("models.")]
                  for p in _named(spans, "build.parts")]
        out["models.wall_s"] = median([sum(duration(k) for k in g) for g in groups])
        for key in ("jobs", "input_bytes", "shuffle_bytes"):
            out[f"models.{key}"] = median([sum(c(k, key) for k in g) for g in groups])
        for m in MODELS:
            out[f"models.{m}.wall_s"] = med(f"models.{m}")
        if _named(spans, "increment"):
            out["incremental.increment_s"] = med("increment")
            out["ingest.increment_wall_s"] = med("ingest_increment")
            out["incremental.apply_s"] = med("apply")
            out["incremental.jobs_per_increment"] = med("increment", "jobs")
            out["incremental.write_amp"] = \
                med("apply", "output_bytes") / facts["increment_csv_bytes"]
            out["incremental.files_written"] = facts["files_written_per_increment"]
            out["incremental.fullbuild_s"] = med("fullbuild")
        entry = "build"
    else:
        per_pass = []
        for p in _named(spans, "pass"):
            sums = {f: {k: 0.0 for k in FAMILY_KEYS} for f in FAMILIES}
            for q in _children(spans, p):
                fam = q["name"].split(".")[1]
                sums[fam]["wall_s"] += duration(q)
                for k in FAMILY_KEYS[1:]:
                    sums[fam][k] += c(q, k)
            per_pass.append(sums)
        for f in FAMILIES:
            for k in FAMILY_KEYS:
                out[f"operators.{f}.{k}"] = median([s[f][k] for s in per_pass])
        entry = "pass"

    # Spark runtime per entry-point call, as the untraced loop makes it
    entries = _named(spans, entry)
    for k in SPARK_KEYS:
        out[f"spark.{k}"] = median([c(s, k) for s in entries])
    out["spark.busy_frac"] = median([c(s, "task_run_s") / (duration(s) * cores) for s in entries])

    out["trace_overhead_s"] = median([s["tracer_s"] for s in entries])
    # entry point vs the public calls it is made of: two separate executions,
    # whose adaptive plans can differ by a job, so a mismatch is reported
    # here rather than failing the run
    out["trace_job_mismatches"] = sum(
        1 for j in traced["job_checks"] if j["entry_jobs"] != j["parts_jobs"])
    attempted, failed = outcome(record)
    out["error_rate"] = failed / attempted
    out["peak_rss_mb"] = record["peak_rss_mb"]
    out["peak_heap_mb"] = record["peak_heap_mb"]
    cal = record["calibration"]
    out["calibration.cpu_loop_s"] = median([x["cpu_loop_s"] for x in cal])
    out["calibration.spark_job_s"] = median([x["spark_job_s"] for x in cal])
    return out
