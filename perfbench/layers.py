"""Where the traced run puts its spans, and the per-layer metrics it
reports. Layers are named after the package modules they time."""

from __future__ import annotations

import functools
import statistics

from layer_trace import COUNTERS, jobs_in, layer_counters
from workloads import CATALOG_LAYERS, HEAVY_QUERIES, parquet_files

COUNTED_LAYERS = CATALOG_LAYERS + ("sources", "quality", "incremental")
STREAMING_UNITS = {
    "streaming.batch_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.rows_in": "count",
    "streaming.rows_dropped_late": "count",
}


class IngestRows:
    """Bronze row counts as ``runner.ingest`` reports them after each
    load: the whole history, since each day adds its own partition."""

    def __init__(self):
        self.rows = 0

    def wrap(self, original):
        @functools.wraps(original)
        def ingest(*args, **kwargs):
            counts = original(*args, **kwargs)
            self.rows += sum(counts.values())
            return counts

        return ingest


class MergeBytes:
    """Parquet bytes each MERGE writes, and the net growth of its target,
    read from the target directory before and after the call."""

    def __init__(self):
        self.rewritten = 0
        self.growth = 0

    def wrap(self, original):
        @functools.wraps(original)
        def merge_upsert(spark, table, incoming):
            before = parquet_files(table.path)
            original(spark, table, incoming)
            after = parquet_files(table.path)
            self.rewritten += sum(n for p, n in after.items() if p not in before)
            self.growth += sum(after.values()) - sum(before.values())

        return merge_upsert


def install(tracer) -> tuple[IngestRows, MergeBytes]:
    """Rebind the module attributes through which the program calls the
    ``sources``, ``plans``, ``quality`` and ``incremental`` layers. The
    catalog spans are opened by the catalog workload around its own
    calls."""
    from openaq_data_pipeline_spark import incremental, quality
    from openaq_data_pipeline_spark.plans import runner
    from openaq_data_pipeline_spark.streaming import pipeline

    ingested, merges = IngestRows(), MergeBytes()
    tracer.rebind(runner, "ingest", "sources", wrap=ingested.wrap)
    tracer.rebind(runner, "transform", "plans.transform")
    tracer.rebind(quality, "run_suite", "quality")
    tracer.rebind(incremental, "high_watermark", "incremental")
    # the batch path looks merge_upsert up in incremental, the stream's
    # foreachBatch in streaming.pipeline, which imported it by name
    for module in (incremental, pipeline):
        tracer.rebind(module, "merge_upsert", "incremental", wrap=merges.wrap)
    return ingested, merges


def _streaming(progress: list[dict]) -> dict[str, float]:
    if not progress:
        return dict.fromkeys(STREAMING_UNITS, 0.0)

    def median_ms(*keys):
        return statistics.median(
            sum(p["durationMs"].get(k, 0) for k in keys) for p in progress
        ) / 1000.0

    def state(key):
        return [sum(op.get(key, 0) for op in p["stateOperators"]) for p in progress]

    return {
        "streaming.batch_s": median_ms("triggerExecution"),
        "streaming.add_batch_s": median_ms("addBatch"),
        "streaming.planning_s": median_ms("queryPlanning"),
        "streaming.wal_commit_s": median_ms("walCommit", "commitOffsets"),
        "streaming.state_rows": max(state("numRowsTotal")),
        "streaming.state_bytes": max(state("memoryUsedBytes")),
        "streaming.rows_in": sum(p["numInputRows"] for p in progress),
        "streaming.rows_dropped_late": sum(state("numRowsDroppedByWatermark")),
    }


def per_layer(workload, tracer, jobs, ingested: IngestRows, merges: MergeBytes) -> dict:
    """Every per-layer metric as ``name -> (value, unit)``; a layer the
    workload does not reach reports 0."""
    m = {}
    for layer in COUNTED_LAYERS:
        spans = [s for s in tracer.spans if s.name == layer]
        for k, v in layer_counters(spans, jobs).items():
            m[f"{layer}.{k}"] = (v, COUNTERS[k])
    for q in HEAVY_QUERIES:
        c = layer_counters([s for s in tracer.spans if s.name == f"query.{q}"], jobs)
        m[f"query.{q}.wall_s"] = (c["wall_s"], "s")
        m[f"query.{q}.jobs"] = (c["jobs"], "count")
    m["catalog.build_s"] = (tracer.total("catalog.build"), "s")
    m["catalog.exec_s"] = (tracer.total("catalog.exec"), "s")
    m["plans.transform_s"] = (tracer.total("plans.transform"), "s")
    m["sources.rows_in"] = (ingested.rows, "count")
    m["quality.checks_failed"] = (workload.checks_failed, "count")
    # rows the incremental layer's jobs read (bronze slice and target) per
    # row they wrote: near O(day) when flat across days, O(history) if rising
    merge_jobs = [j for s in tracer.spans if s.name == "incremental" for j in jobs_in(s, jobs)]
    read = sum(j.input_records for j in merge_jobs)
    written = sum(j.output_records for j in merge_jobs)
    m["incremental.rows_scanned_per_row_merged"] = (read / written if written else 0.0, "ratio")
    # parquet bytes the MERGEs wrote per byte their targets grew
    m["incremental.bytes_rewritten_per_byte_new"] = (
        merges.rewritten / merges.growth if merges.growth > 0 else 0.0, "ratio")
    for k, v in _streaming(workload.progress).items():
        m[k] = (v, STREAMING_UNITS[k])
    return m
