"""Per-layer metrics of a traced run, computed from its spans file.

Each traced pass is one sample: per-pass totals for time and volume, per
query means for counts, and ratios over the pass. A metric's value is the
median over the run's traced passes. The tracing overhead is the median
traced pass time minus the median untraced pass time of the same run.
"""
import json
import statistics

MB = 1024.0 * 1024.0

# name -> unit, in the order BENCHMARK.json lists them
UNITS = {
    "queries.build_s": "s/pass",
    "queries.action_s": "s/pass",
    "queries.eager_jobs": "jobs/query",
    "queries.leaked_cache_entries": "entries/query",
    "spark.jobs": "jobs/query",
    "spark.stages": "stages/query",
    "spark.tasks": "tasks/query",
    "spark.task_s": "s/pass",
    "spark.sched_delay_s": "s/pass",
    "spark.busy_frac": "ratio",
    "spark.shuffle_write_mb": "MB/pass",
    "spark.shuffle_read_mb": "MB/pass",
    "spark.shuffle_records_per_out_row": "ratio",
    "spark.stage_skew": "ratio",
    "spark.spill_mb": "MB/pass",
    "spark.gc_s": "s/pass",
    "spark.failed_tasks": "tasks/pass",
    "streaming.batches": "batches/pass",
    "streaming.batch_p50_s": "s",
    "streaming.overhead_s": "s/pass",
    "streaming.state_rows": "rows/pass",
    "streaming.state_mb": "MB/pass",
    "sources.read_mb": "MB/pass",
    "sources.write_mb": "MB/pass",
    "sources.records_written": "records/pass",
    "trace.overhead_s": "s/pass",
}


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def pass_metrics(queries, leaves, cores):
    """One traced pass: its query spans and their build/action spans."""
    n = max(1, len(queries))
    tot = lambda k, kind=None: sum(s.get(k, 0.0) for s in leaves
                                   if kind is None or s["kind"] == kind)
    wall = tot("dur_s")
    rows = sum(max(0, q.get("rows", 0)) for q in queries)
    skews = []
    for q in queries:
        per_query = [s["stage_skew"] for s in leaves
                     if s["parent"] == q["id"] and "stage_skew" in s]
        if per_query:
            skews.append(max(per_query))
    batches = [b for s in leaves for b in s.get("batch_s", [])]
    return {
        "queries.build_s": tot("dur_s", "build"),
        "queries.action_s": tot("dur_s", "action"),
        "queries.eager_jobs": tot("jobs", "build") / n,
        "queries.leaked_cache_entries":
            sum(q.get("leaked_cache_entries", 0) for q in queries) / n,
        "spark.jobs": tot("jobs") / n,
        "spark.stages": tot("stages") / n,
        "spark.tasks": tot("tasks") / n,
        "spark.task_s": tot("task_s"),
        "spark.sched_delay_s": tot("sched_delay_s"),
        "spark.busy_frac": tot("task_s") / (wall * cores) if wall else 0.0,
        "spark.shuffle_write_mb": tot("shuffle_write_bytes") / MB,
        "spark.shuffle_read_mb": tot("shuffle_read_bytes") / MB,
        "spark.shuffle_records_per_out_row":
            tot("shuffle_write_records") / max(1, rows),
        "spark.stage_skew": statistics.median(skews) if skews else 1.0,
        "spark.spill_mb": tot("spill_bytes") / MB,
        "spark.gc_s": tot("gc_s"),
        "spark.failed_tasks": tot("failed_tasks"),
        "streaming.batches": tot("batches"),
        "streaming.batch_p50_s": statistics.median(batches) if batches else 0.0,
        "streaming.overhead_s": tot("batch_overhead_s"),
        "streaming.state_rows": tot("state_rows"),
        "streaming.state_mb": tot("state_bytes") / MB,
        "sources.read_mb": tot("input_bytes") / MB,
        "sources.write_mb": tot("output_bytes") / MB,
        "sources.records_written": tot("output_records"),
    }


def pass_times(res, traced):
    out = {}
    for e in res["execs"]:
        if e["traced"] == traced:
            out[e["pass"]] = out.get(e["pass"], 0.0) + e["build_s"] + e["action_s"]
    return list(out.values())


def per_layer(spans_path, res):
    spans = load(spans_path)
    cores = int(res["cores"])
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    samples = []
    for p in (s for s in spans if s["kind"] == "pass"):
        queries = [q for q in children.get(p["id"], []) if q["kind"] == "query"]
        leaves = [c for q in queries for c in children.get(q["id"], [])]
        samples.append(pass_metrics(queries, leaves, cores))
    metrics = {k: statistics.median(s[k] for s in samples) for k in samples[0]}
    traced, plain = pass_times(res, True), pass_times(res, False)
    metrics["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
    detail = {"traced_passes": len(traced), "untraced_passes": len(plain),
              "traced_pass_s": statistics.median(traced),
              "untraced_pass_s": statistics.median(plain), "spans": len(spans)}
    return {k: (v, UNITS[k]) for k, v in metrics.items()}, detail
