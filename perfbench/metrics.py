"""Metric names, units and their computation.

``END_TO_END`` and ``PER_LAYER`` are the benchmark's contract: every
workload reports every name (a layer a workload does not use reports 0).
"""

from __future__ import annotations

from common import median, percentile
from curation_heavy import QUERIES as CURATION_QUERIES
from tracing import self_times, spark_counters

SCALES = {"etl_driver": 0.01, "curation_heavy": 0.005}
SETUP_REPEATS = 3
WARMUP_UNITS = 1
# Nearest-rank tail percentile per workload. One unit of work gives 12
# jobs or 2 queries, too few to leave ten samples beyond any tail, so
# the tail is p75 (3 jobs beyond) and, for the curation queries, the
# slowest one.
TAIL_PERCENTILE = {"etl_driver": 75, "curation_heavy": 100}

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
}

# Public operator functions the curation queries call (graph,
# similarity, linkage); spans of other operator functions are kept in
# the trace file only.
OPERATOR_FUNCTIONS = [
    "graph.connected_components",
    "graph.star_connected_components",
    "similarity.label_propagation",
    "similarity.seeded_cell_assign",
    "similarity.pairwise_cosine",
    "linkage.edit_distance_self_join",
    "linkage.deletion_keys",
]

_LAYER_TIMES = [
    "dependencies.layered_jobs",
    "metastore.record",
    "pipelines.ingest_query_to_lake",
    "pipelines.ingest_csv_to_lake",
    "readers.read_csv",
    "readers.read_delta",
    "writers.write_parquet",
    "writers.write_delta_append",
    "delta_log.append_commit",
    "delta_log.overwrite_commit",
    "delta_log.write_checkpoint",
    "incremental.write_incremental",
    "incremental.merge_upsert",
    "recon.recon_report",
    "recon.count_reconciliation",
    "recon.table_sizes",
    "runner.run_layers",
]

PER_LAYER = {
    "session.get_spark_s": "s",
    **{f"{n}_s": "s" for n in _LAYER_TIMES},
    "dependencies.layers": "count",
    "runner.critical_path_s": "s",
    "runner.wall_over_critical": "ratio",
    "runner.barrier_idle_s": "slot-s",
    "runner.slot_busy_frac": "ratio",
    "metastore.records": "count",
    "readers.read_delta_calls": "count",
    "writers.output_mb": "MB",
    "writers.files": "count",
    "delta_log.commits": "count",
    "delta_log.files_live": "count",
    "delta_log.log_mb": "MB",
    "incremental.rows_rewritten_per_row_changed": "ratio",
    "cdc.batch_p50_s": "s",
    "cdc.batch_p75_s": "s",
    "cdc.read_p50_s": "s",
    "cdc.write_amp": "ratio",
    "cdc.space_amp": "ratio",
    "report.total_s": "s",
    "report.driver_only_s": "s",
    **{f"query.{q}_s": "s" for q in CURATION_QUERIES},
    **{f"{f}_s": "s" for f in OPERATOR_FUNCTIONS},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.driver_only_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.peak_cached_mb": "MB",
    "spark.cached_mb_end": "MB",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


def end_to_end(setup_s, walls, op_times, tail, peak_rss_mb) -> dict:
    return {
        "setup_s": setup_s,
        "wall_s": median(walls),
        "op_p50_s": median(op_times),
        "op_tail_s": percentile(op_times, tail),
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(
    wl,
    tracer,
    event_log,
    session_s,
    walls,
    peak_cached_mb,
    cached_mb_end,
) -> dict:
    """Per-layer metrics of the traced iterations, per iteration (one
    flow, stream or pass). Annotates each span with its self time and
    its Spark counters for the trace file."""
    spans = tracer.spans
    roots = [s["id"] for s in spans if s.get("kind") == "iteration"]
    n = max(1, len(roots))
    own = self_times(spans)
    totals, per_span = spark_counters(spans, event_log, roots)
    for s in spans:
        s["self_s"] = own[s["id"]]
        if s["id"] in per_span:
            s["spark"] = per_span[s["id"]]
    out = {k: 0.0 for k in PER_LAYER}
    out["session.get_spark_s"] = session_s
    for s in spans:
        key = f"{s['name']}_s"
        if key in out and s.get("kind") == "layer":
            out[key] += (s["end"] - s["start"]) / n
    count = lambda name: sum(1 for s in spans if s["name"] == name) / n  # noqa: E731
    out["metastore.records"] = count("metastore.record")
    out["readers.read_delta_calls"] = count("readers.read_delta")
    writes = [s for s in spans if s["name"] == "writers.write_parquet"]
    out["writers.output_mb"] = sum(s.get("bytes", 0) for s in writes) / 1e6 / n
    out["writers.files"] = sum(s.get("files", 0) for s in writes) / n
    reports = [s for s in spans if s["name"].startswith("job:report_")]
    out["report.total_s"] = sum(s["end"] - s["start"] for s in reports) / n
    out["report.driver_only_s"] = (
        sum(
            per_span[s["id"]]["driver_only_s"]
            if s["id"] in per_span
            else s["end"] - s["start"]
            for s in reports
        )
        / n
    )
    for q in CURATION_QUERIES:
        times = [s["end"] - s["start"] for s in spans if s["name"] == f"query:{q}"]
        if times:
            out[f"query.{q}_s"] = median(times)
    for k, v in totals.items():
        out[f"spark.{k}"] = v / n
    out["spark.peak_cached_mb"] = peak_cached_mb
    out["spark.cached_mb_end"] = cached_mb_end
    out.update(wl.layer_metrics())
    out["trace.wall_s"] = median(walls)
    out["trace.overhead_s"] = tracer.own_s / n
    return out
