#!/usr/bin/env python
"""Supplementary plan captures for queries whose builder ends in
localCheckpoint(eager=True) (index-building demonstrations): the
driver-facing explain shows only the checkpoint scan, so this script
captures the formatted plans of their INTERNAL stages (IVF-PQ
assignment and encoding, one classifier GD round, trigram LM counts)
into <outdir>/<stage>_internal_<suffix>.txt.

Usage: python scripts/explain_internals.py <outdir> [suffix]
  e.g. python scripts/explain_internals.py plans/r16 after
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from pyspark.sql import functions as F

from openaq_data_pipeline_spark.catalog import fan_out, load
from openaq_data_pipeline_spark.session import get_spark


def explain_str(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit("usage: python scripts/explain_internals.py <outdir> [suffix]")
    outdir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "after"
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 32))
    spark = get_spark(
        app_name="explain-internals",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )

    out: dict[str, str] = {}

    # --- ann_topk_ivf_pq internals: assignment + training update ----
    from openaq_data_pipeline_spark.operators.similarity import (
        _attach_ivf_cands,
        ivf_assign,
        pq_encode,
    )

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    cent_rows = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in e.orderBy("vec_id").limit(16).collect()
    ]
    out["ann_ivf_assign"] = explain_str(
        ivf_assign(e, cent_rows, "vec_id", "embedding", 6)
    )
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1_000_000, 0).cast("long"),
    )
    base = e.select(qv.alias("__q"), F.col("embedding"))
    assigned = _attach_ivf_cands(base, cent_rows, "embedding", 6).select(
        (-F.array_max(F.col("__cands"))["negcell"]).alias("cell_id"),
        F.col("__q"),
    )
    out["ann_ivf_train_update"] = explain_str(
        assigned.groupBy("cell_id").agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.element_at(F.col("__q"), d + 1)).alias(f"s{d}")
                for d in range(64)
            ],
        )
    )
    book_rows = [
        (s, j, [float(x) for x in r[1]][s * 8 : (s + 1) * 8])
        for j, r in enumerate(e.orderBy("vec_id").limit(16).collect())
        for s in range(8)
    ]
    out["ann_pq_encode"] = explain_str(
        pq_encode(e, book_rows, m=8, dim=64, id_col="vec_id", vec_col="embedding")
    )

    # --- quality_classifier internals: one GD round ------------------
    from openaq_data_pipeline_spark.operators.classifier import hashed_features

    d = fan_out(load(spark, sf_dir, "documents")["documents"])
    feats = hashed_features(d.select("doc_id", "text"), 128)
    labels = d.select(
        "doc_id", F.when(F.col("doc_id") % 3 == 0, 1.0).otherwise(0.0).alias("y")
    )
    doc_rows = (
        feats.groupBy("doc_id")
        .agg(F.collect_list(F.struct(F.col("feature"), F.col("x"))).alias("__fx"))
        .join(labels, "doc_id")
        .select("doc_id", "__fx", "y")
    )
    w_row = spark.createDataFrame([([0.0] * 129,)], "__w array<double>")
    margin = F.aggregate(
        F.col("__fx"),
        F.lit(0.0),
        lambda acc, s: acc
        + s["x"] * F.element_at(F.col("__w"), (s["feature"] + 1).cast("int")),
    )
    resid = (1.0 / (1.0 + F.exp(-margin)) - F.col("y")).alias("__r")
    out["classifier_gd_round"] = explain_str(
        doc_rows.crossJoin(F.broadcast(w_row))
        .select(resid, F.explode(F.col("__fx")).alias("__s"))
        .groupBy(F.col("__s.feature").alias("feature"))
        .agg(F.sum(F.col("__s.x") * F.col("__r")).alias("g"))
    )

    # --- lm_trigram_backoff training internals ------------------------
    from openaq_data_pipeline_spark.operators.lm import train_trigram_lm

    train = d.filter(F.col("doc_id") % 2 == 0)
    tri, bi, uni, n = train_trigram_lm(train, "text", "doc_id")
    out["lm_train_counts"] = explain_str(tri)

    for name, txt in out.items():
        path = os.path.join(outdir, f"{name}_internal_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
