"""The workloads: what each generates, warms up, times and checks.

Each workload runs closed-loop with one client: the next op starts when
the previous one returns. An op is one catalog query or one pipeline day.
A *pass* is the workload's fixed unit of work (a sweep of the query set,
a run of pipeline days from the same starting state), so passes of one
run are equal work and their wall times compare.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import time

from lake import CHECK_NULL_VALUE, CHECK_ORPHAN, Lake
from tables import write_tables

# The query set of catalog_sweep: one query of each catalog module, three
# of them among the heaviest (a Python-worker codec, an iterative graph job
# and an n-gram model). A sweep of all 50 catalog queries takes about 64 s
# warm and 97 s cold at this input size on 4 cores, which does not fit the
# benchmark's run budget.
CATALOG_QUERIES = (
    "revenue_by_order",  # queries_core
    "sequence_packing",  # queries_curation
    "lm_trigram_backoff",  # queries_corpus, heavy
    "pagerank_entities",  # queries_ext, heavy
    "audio_flac_decode",  # queries_staged, heavy
)
HEAVY_QUERIES = ("lm_trigram_backoff", "pagerank_entities", "audio_flac_decode")
CATALOG_LAYERS = (
    "queries_core",
    "queries_corpus",
    "queries_curation",
    "queries_ext",
    "queries_staged",
)

N_LOCATIONS = 300  # about 32,000 measurement rows per logical day
DAILY_TIMED_DAYS = 1  # days per pass, after the warm-up day


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def parquet_files(path: str) -> dict[str, int]:
    return {
        p: os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    }


class Workload:
    """Common bookkeeping: ops attempted and failed, failure notes, and
    the layer counts a workload that skips a layer reports as 0."""

    name = ""

    def __init__(self, tmp: str, seed: int):
        self.tmp = tmp
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.checks_failed = 0  # quality checks with failures in the last op
        self.progress: list[dict] = []  # StreamingQuery progress of the last pass

    def fail(self, note: str) -> None:
        self.failed += 1
        self.notes.append(note)

    def input_bytes(self) -> int:
        return 0

    def stored_bytes(self) -> int:
        return 0


class CatalogSweep(Workload):
    """The catalog query set on seeded TPC-H-ish tables, in an order the
    seed shuffles on every pass; each op builds one query and executes it
    into Spark's no-op sink."""

    name = "catalog_sweep"
    pass_seconds = 15.0  # nominal, measured on 4 cores

    def setup(self, spark) -> None:
        from openaq_data_pipeline_spark.catalog import registry

        self.sf_dir = os.path.join(self.tmp, "tables")
        write_tables(self.sf_dir, self.seed)
        by_name = {q.name: q for q in registry()}
        self.queries = [by_name[n] for n in CATALOG_QUERIES]
        self.rng = random.Random(self.seed)
        self._warm_up(spark)

    def _warm_up(self, spark) -> None:
        """One untimed sweep that collects each result and compares it
        with its DuckDB oracle under the catalog tests' normalization."""
        from tests.oracle_harness import compare, run_oracle

        for q in self.rng.sample(self.queries, len(self.queries)):
            self.attempted += 1
            try:
                df = q.build(spark, self.sf_dir)
                problems = compare(df, run_oracle(q.oracle, self.sf_dir))
            except Exception as exc:  # a failing query is counted, not fatal
                self.fail(f"{q.name}: {exc!r}"[:300])
                continue
            finally:
                spark.catalog.clearCache()
            if problems:
                self.fail(f"{q.name}: oracle mismatch {problems[0]}"[:300])

    def _op(self, spark, tracer, q) -> None:
        layer = q.build.__module__.rsplit(".", 1)[-1]
        with tracer.span(layer), tracer.span(f"query.{q.name}"):
            with tracer.span("catalog.build"):
                df = q.build(spark, self.sf_dir)
            with tracer.span("catalog.exec"):
                df.write.format("noop").mode("overwrite").save()

    def prepare_pass(self, spark) -> None:
        pass

    def run_pass(self, spark, tracer) -> list[float]:
        lat = []
        for q in self.rng.sample(self.queries, len(self.queries)):
            self.attempted += 1
            tracer.op = self.attempted
            t0 = time.perf_counter()
            try:
                self._op(spark, tracer, q)
            except Exception as exc:
                self.fail(f"{q.name}: {exc!r}"[:300])
            lat.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
        return lat

    def check(self, spark) -> None:
        pass


class OpenAQDaily(Workload):
    """The reference DAG one logical day at a time, plus its streaming
    path: ``runner.ingest`` → ``runner.build`` (transform +
    REFERENCE_SUITE) → ``incremental.incremental_mart`` for both marts →
    an AvailableNow drain of the day's new bronze files through
    ``streaming.pipeline`` (raw → stg with watermark and dedup → hourly
    air-quality mart → foreachBatch MERGE) with a checkpoint kept across
    days. The warm-up runs the first day; each pass restores the
    warehouse it left and runs the next day."""

    name = "openaq_daily"
    pass_seconds = 15.0  # nominal, measured on 4 cores

    def setup(self, spark) -> None:
        lake = Lake(os.path.join(self.tmp, "lake"), self.seed, N_LOCATIONS)
        self.days = [lake.write_day(i) for i in range(1 + DAILY_TIMED_DAYS)]
        # the stream checkpoint records absolute file paths, so every day
        # runs in the same directory and passes restore a copy into it
        self.wh = os.path.join(self.tmp, "wh")
        self.base = os.path.join(self.tmp, "wh_after_day1")
        self._op(spark, 0)
        shutil.copytree(self.wh, self.base)

    def _op(self, spark, index: int) -> None:
        from openaq_data_pipeline_spark import incremental
        from openaq_data_pipeline_spark.operators import marts
        from openaq_data_pipeline_spark.plans import runner

        day = self.days[index]
        # bronze, and so every count below, holds all days up to this one
        history = self.days[: index + 1]
        planted = {k: sum(d.planted[k] for d in history) for k in (CHECK_NULL_VALUE, CHECK_ORPHAN)}
        records = sum(d.records for d in history)
        paths = runner.PipelinePaths(
            root=self.wh,
            lake_locations=day.locations_glob,
            lake_measurements=day.measurements_glob,
        )
        self.attempted += 1
        try:
            ingested = sum(runner.ingest(spark, paths).values())
            models, results, _ = runner.build(
                spark, paths, freshness=False, raise_on_failure=False
            )
            for name, fn, spec in (
                ("mart_location_air_quality", marts.mart_location_air_quality,
                 incremental.AIR_QUALITY_TABLE_SPEC),
                ("mart_location_weather", marts.mart_location_weather,
                 incremental.WEATHER_TABLE_SPEC),
            ):
                table = incremental.IncrementalTable(
                    path=os.path.join(self.wh, "gold", name), **spec
                )
                incremental.incremental_mart(
                    spark, fn, models["int_valid_measurements"],
                    models["int_sensors_enriched"], table,
                )
            self._drain(spark, paths)
        except Exception as exc:
            self.fail(f"day {day.date}: {exc!r}"[:300])
            return
        got = {r.check.name: r.failures for r in results}
        want = {name: planted.get(name, 0) for name in got}
        self.checks_failed = sum(1 for v in got.values() if v)
        if got != want:
            diff = {k: (got[k], want[k]) for k in got if got[k] != want[k]}
            self.fail(f"day {day.date}: quality counts (got, planted) {diff}"[:300])
        elif ingested != records:
            self.fail(f"day {day.date}: bronze holds {ingested} rows, the lake {records}")

    def _stream_table(self):
        from openaq_data_pipeline_spark.incremental import (
            AIR_QUALITY_TABLE_SPEC,
            IncrementalTable,
        )

        return IncrementalTable(
            path=os.path.join(self.wh, "stream", "mart_location_air_quality"),
            **AIR_QUALITY_TABLE_SPEC,
        )

    def _drain(self, spark, paths) -> None:
        """One AvailableNow drain. All of a day's files go in one
        micro-batch: each bronze file spans the whole day, so a second
        batch of the same day would fall behind the watermark."""
        from openaq_data_pipeline_spark.plans import runner
        from openaq_data_pipeline_spark.streaming import pipeline as sp

        enriched = runner.transform(spark, paths)["int_sensors_enriched"]
        raw = sp.stream_raw_measurements(spark, paths.bronze_measurements)
        mart = sp.stream_mart_air_quality(sp.stream_stg_measurements(raw), enriched)
        query = sp.write_stream_merge(
            mart, self._stream_table(), os.path.join(self.wh, "stream", "checkpoint")
        )
        finished = query.awaitTermination(60)
        if not finished:
            query.stop()
        self.progress += query.recentProgress
        if not finished or query.exception() is not None:
            raise RuntimeError(f"stream drain: {query.exception() or 'timed out'}")

    def prepare_pass(self, spark) -> None:
        shutil.rmtree(self.wh)
        shutil.copytree(self.base, self.wh)
        self.progress = []

    def run_pass(self, spark, tracer) -> list[float]:
        lat = []
        for index in range(1, len(self.days)):
            t0 = time.perf_counter()
            tracer.op = index
            self._op(spark, index)
            lat.append(time.perf_counter() - t0)
        return lat

    def check(self, spark) -> None:
        """Every op checks its quality counts. Here the streamed mart must
        equal the batch mart over the same bronze input: row count,
        distinct keys and every pivot column's rounded sum."""
        from pyspark.sql import functions as F

        from openaq_data_pipeline_spark.incremental import PART_COL
        from openaq_data_pipeline_spark.operators.marts import AIR_QUALITY_PIVOT
        from openaq_data_pipeline_spark.plans import runner

        def summary(df):
            row = df.agg(
                F.count(F.lit(1)),
                F.count_distinct("air_quality_record_id"),
                *[F.round(F.sum(c), 4) for c in AIR_QUALITY_PIVOT],
            ).first()
            return tuple(row)

        self.attempted += 1
        try:
            got = summary(spark.read.parquet(self._stream_table().path).drop(PART_COL))
            batch = runner.transform(spark, runner.PipelinePaths(root=self.wh))
            want = summary(batch["mart_location_air_quality"])
        except Exception as exc:
            self.fail(f"stream check: {exc!r}"[:300])
            return
        if got != want:
            self.fail(f"stream mart {got} != batch mart {want}"[:300])

    def input_bytes(self) -> int:
        return sum(d.input_bytes for d in self.days)

    def stored_bytes(self) -> int:
        return sum(
            dir_bytes(os.path.join(self.wh, sub)) for sub in ("bronze", "gold", "stream")
        ) - dir_bytes(os.path.join(self.wh, "stream", "checkpoint"))


WORKLOADS = {w.name: w for w in (CatalogSweep, OpenAQDaily)}
