"""Batch runner: lake → bronze → staging → intermediate → gold.

Replaces the reference's two Airflow DAGs (SURVEY §3.1-3.2):
``01_openaq_ingestion`` becomes :func:`ingest` (NDJSON lake → bronze
parquet, count-based branching) and ``02_openaq_transformation``
becomes :func:`transform` (the whole dbt model graph as one lazy
DataFrame lineage — Catalyst sees every layer end-to-end, strictly
more optimization scope than the reference's per-model BigQuery
jobs). Branch operators (``dags/01:104-117``) become plain ``if
count > 0`` driver logic.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from openaq_data_pipeline_spark import schemas
from openaq_data_pipeline_spark.operators.intermediate import (
    int_sensors_enriched,
    int_valid_measurements,
)
from openaq_data_pipeline_spark.operators.marts import (
    dim_locations,
    mart_location_air_quality,
    mart_location_weather,
)
from openaq_data_pipeline_spark.operators.staging import (
    stg_locations,
    stg_measurements,
    stg_sensors,
)
from openaq_data_pipeline_spark.sources.bronze import load_bronze


@dataclass
class PipelinePaths:
    root: str
    lake_locations: str = ""
    lake_measurements: str = ""
    bronze_locations: str = field(default="")
    bronze_measurements: str = field(default="")

    def __post_init__(self):
        self.bronze_locations = self.bronze_locations or os.path.join(
            self.root, "bronze", "raw_locations"
        )
        self.bronze_measurements = self.bronze_measurements or os.path.join(
            self.root, "bronze", "raw_measurements"
        )


def ingest(spark: SparkSession, paths: PipelinePaths, mode: str = "overwrite") -> dict[str, int]:
    """Lake NDJSON → date-partitioned bronze parquet (S9), clustered
    like the reference (measurements sorted within partitions on
    ``[_audit_sensor_id, _audit_extracted_at]``, ``dags/01:191``).
    Returns row counts (the reference's branch signal, A6)."""
    counts = {}
    counts["raw_locations"] = load_bronze(
        spark,
        paths.lake_locations,
        schemas.RAW_LOCATIONS,
        paths.bronze_locations,
        mode=mode,
    )
    counts["raw_measurements"] = load_bronze(
        spark,
        paths.lake_measurements,
        schemas.RAW_MEASUREMENTS,
        paths.bronze_measurements,
        cluster_by=["_audit_sensor_id", "_audit_extracted_at"],
        mode=mode,
    )
    return counts


def transform(spark: SparkSession, paths: PipelinePaths) -> dict[str, DataFrame]:
    """The full dbt-graph equivalent as lazy DataFrames.

    Nothing materializes here — callers pick which outputs to write
    (or test). All eight models share the two bronze scans; Catalyst
    dedups/pipelines the common subplans per action.
    """
    raw_locations = spark.read.schema(schemas.RAW_LOCATIONS).parquet(
        paths.bronze_locations
    )
    raw_measurements = spark.read.schema(schemas.RAW_MEASUREMENTS).parquet(
        paths.bronze_measurements
    )

    locations = stg_locations(raw_locations)
    sensors = stg_sensors(raw_locations)
    measurements = stg_measurements(raw_measurements)
    valid = int_valid_measurements(measurements)
    enriched = int_sensors_enriched(sensors, locations)

    return {
        "raw_locations": raw_locations,
        "raw_measurements": raw_measurements,
        "stg_openaq__locations": locations,
        "stg_openaq__sensors": sensors,
        "stg_openaq__measurements": measurements,
        "int_valid_measurements": valid,
        "int_sensors_enriched": enriched,
        "dim_locations": dim_locations(enriched),
        "mart_location_air_quality": mart_location_air_quality(valid, enriched),
        "mart_location_weather": mart_location_weather(valid, enriched),
    }


def build(
    spark: SparkSession,
    paths: PipelinePaths,
    freshness: bool = True,
    raise_on_failure: bool = True,
):
    """The reference's ``dbt source freshness && dbt build`` contract
    (``dags/02_openaq_transformation.py:41-47``): transform the full
    model graph, then run the complete ported test manifest
    (quality.REFERENCE_SUITE). Staging models are persisted for the
    duration of the suite — each is referenced by several checks and
    both marts, so caching turns ~8 recomputations of the silver
    lineage into one."""
    from openaq_data_pipeline_spark import quality as Q

    models = transform(spark, paths)
    cached = [
        models[m]
        for m in (
            "stg_openaq__locations",
            "stg_openaq__sensors",
            "stg_openaq__measurements",
        )
    ]
    for df in cached:
        df.persist()
    try:
        freshness_results = []
        if freshness:
            for src in ("raw_locations", "raw_measurements"):
                freshness_results.append(
                    Q.source_freshness(models[src], source=src)
                )
        results = Q.run_suite(models, Q.REFERENCE_SUITE, Q.REFERENCE_SINGULARS)
        if raise_on_failure:
            Q.assert_suite(results)
            stale = [f for f in freshness_results if f.status == "error"]
            if stale:
                raise Q.QualitySuiteError(
                    f"stale sources: {[(f.source, f.age_hours) for f in stale]}"
                )
        return models, results, freshness_results
    finally:
        for df in cached:
            df.unpersist()
