"""Similarity search and embedding near-dup over array<float> columns.

Tiers (BASELINE.json north star):

- **brute-force cosine top-k** — exact baseline. The dot product is
  a builtin-function fold (``zip_with`` + ``aggregate``): stays in
  Catalyst, no Python. Cost O(|queries|·|corpus|·d): right for
  moderate query sets at any corpus size (queries broadcast; the
  corpus scan stays partition-parallel and never shuffles until the
  per-query top-k, which is a window over query_id — k-bounded).
- **LSH-bucketed ANN** — the scale path: random-hyperplane signatures
  (deterministic, seeded) bucket the corpus; queries only score
  their own bucket ∪ neighboring probes. Signature computation is a
  vectorized Pandas UDF (one matmul per Arrow batch) — the idiomatic
  Spark shape for numeric kernels the builtin functions can't
  express efficiently.

Float determinism: cosine sums run in float64 in ascending index
order in both Spark's ``aggregate`` fold and DuckDB's list functions;
outputs are rounded to 6 dp and ordered with explicit id tiebreaks.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

NEARDUP_SEED = 42


def _fold_sum(arr) -> F.Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def cosine_expr(a, b) -> F.Column:
    """Cosine similarity of two array<float> columns, computed in
    float64 with an index-ordered fold (engine-reproducible)."""
    da = F.transform(a, lambda x: x.cast("double"))
    db = F.transform(b, lambda x: x.cast("double"))
    dot = _fold_sum(F.zip_with(da, db, lambda x, y: x * y))
    na = F.sqrt(_fold_sum(F.transform(da, lambda x: x * x)))
    nb = F.sqrt(_fold_sum(F.transform(db, lambda x: x * x)))
    return dot / (na * nb)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.
    Output: (query_id, rank, neighbor_id, cosine_sim). Self-matches
    excluded. Deterministic: rank orders by rounded sim desc, then
    neighbor id."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr(F.col("q_vec"), F.col("c_vec")), round_dp).alias(
                "cosine_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"),
                "neighbor_id", "cosine_sim")
    )


def lsh_signatures(
    df: DataFrame,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int = NEARDUP_SEED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, table_id, bucket) — multi-table sign-plane LSH
    signatures, the same md5-derived ±1 plane family the near-dup
    path uses (:func:`_sign_planes`), so oracles regenerate the full
    plane tensor in SQL instead of inlining float literals.

    L independent tables of ``n_planes`` planes each: a pair
    colliding in ANY table becomes a candidate, giving recall
    1−(1−p^b)^L (p = 1−θ/π). One vectorized Arrow batch per
    partition; projections use the same dimension-sequential float64
    accumulation as every cosine kernel here, so bucket signs are
    bit-reproducible against DuckDB's list_dot_product."""
    planes = _sign_planes(dim, n_tables, n_planes, seed)
    flat = planes.reshape(n_tables * n_planes, dim).T.copy()  # (dim, L*b)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    def sign_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            acc = np.zeros((len(pdf), flat.shape[1]))
            for kk in range(dim):
                acc += mat[:, kk : kk + 1] * flat[kk]
            bits = acc >= 0  # (n, L*b)
            frames = []
            for t in range(n_tables):
                chunk = bits[:, t * n_planes : (t + 1) * n_planes]
                frames.append(
                    pd.DataFrame(
                        {
                            id_col: pdf[id_col],
                            "table_id": t,
                            "bucket": chunk.dot(weights).astype(np.int64),
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return df.select(id_col, vec_col).mapInPandas(
        sign_batches, schema=f"{id_col} long, table_id int, bucket long"
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int | None = None,
    n_tables: int | None = None,
    seed: int = NEARDUP_SEED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.40,
    recall: float = 0.90,
    max_tables: int = 64,
    target_bucket: int = 8,
) -> DataFrame:
    """Approximate top-k: score only candidates sharing an LSH bucket
    in ≥1 table. At scale the (table, bucket) equi-join replaces the
    cross join — each query touches ~L·|corpus|/2^b candidates.

    (b, L) derive from the corpus size via :func:`neardup_lsh_params`
    unless BOTH are given (VERDICT r3 #4: a fixed b means candidate
    volume grows as n²/2^b — the knob must track the corpus; the
    same derivation the near-dup path uses, so the oracle reproduces
    it from count(*)). ``threshold``/``recall`` set the derivation's
    operating point: any neighbor with cosine ≥ ``threshold`` is
    retrieved with probability ≥ ``recall`` — a conservative floor
    for top-k retrieval. Recall vs brute force is asserted in
    tests/test_extensions.py."""
    if (n_planes is None) != (n_tables is None):
        raise ValueError(
            "pass BOTH n_planes and n_tables or NEITHER: a caller's plane "
            "count with a table count derived for a different operating "
            "point voids the 1-(1-p^b)^L recall bound"
        )
    if n_planes is None:
        n_planes, n_tables = neardup_lsh_params(
            corpus.count(),
            threshold=threshold,
            recall=recall,
            max_tables=max_tables,
            target_bucket=target_bucket,
        )
    sig_c = lsh_signatures(corpus, dim, n_planes, n_tables, seed, id_col, vec_col)
    sig_q = lsh_signatures(queries, dim, n_planes, n_tables, seed, id_col, vec_col)
    cand = (
        sig_c.alias("c")
        .join(
            F.broadcast(sig_q).alias("q"),
            (F.col("c.table_id") == F.col("q.table_id"))
            & (F.col("c.bucket") == F.col("q.bucket"))
            & (F.col(f"c.{id_col}") != F.col(f"q.{id_col}")),
        )
        .select(
            F.col(f"q.{id_col}").alias("query_id"),
            F.col(f"c.{id_col}").alias("neighbor_id"),
        )
        .distinct()
    )
    q_vec = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    c_vec = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        cand.join(F.broadcast(q_vec), "query_id")
        .join(c_vec, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr(F.col("q_vec"), F.col("c_vec")), 6).alias(
                "cosine_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"),
                "neighbor_id", "cosine_sim")
    )


def _centroids_df(spark, cent_rows) -> DataFrame:
    """Tiny (cell_id, c_vec, c_norm) centroid table. Norms use the
    same left-fold float64 sum as every other cosine here, so
    downstream similarities are bit-reproducible across engines.
    Built via createDataFrame — centroids ride a broadcast, NOT plan
    literals (a literal centroid array blows codegen up by
    n_cells × dim constants and the compile time swamps execution)."""
    cents = spark.createDataFrame(
        [(int(cid), [float(x) for x in vec]) for cid, vec in cent_rows],
        "cell_id long, c_vec array<double>",
    )
    return cents.select(
        "cell_id",
        "c_vec",
        F.sqrt(_fold_sum(F.transform("c_vec", lambda x: x * x))).alias("c_norm"),
    )


def _cents_arr_df(spark, cent_rows) -> DataFrame:
    """ONE-row (``__cents``: array<struct<cell_id, c_vec, c_norm>>)
    variant of :func:`_centroids_df`, sorted by cell_id, for the
    r16 attach-and-scan assignment path: the whole centroid table
    rides a single broadcast ROW, so scoring a vector against every
    cell is a per-row array ``transform`` — no ×n_cells row
    expansion, no per-vector argmax groupBy, and therefore NO
    corpus shuffle at assignment time (guide §2.4). Norms use the
    same left-fold float64 sum as :func:`_centroids_df`, so every
    similarity stays bit-identical to the crossJoin formulation.
    Centroids remain DATA (broadcast), never plan literals — the
    codegen-size caveat on :func:`_centroids_df` still applies."""
    base = spark.createDataFrame(
        [([
            (int(cid), [float(x) for x in vec])
            for cid, vec in sorted(cent_rows)
        ],)],
        "__c0 array<struct<cell_id:bigint,c_vec:array<double>>>",
    )
    return base.select(
        F.transform(
            F.col("__c0"),
            lambda s: F.struct(
                s["cell_id"].alias("cell_id"),
                s["c_vec"].alias("c_vec"),
                F.sqrt(
                    _fold_sum(F.transform(s["c_vec"], lambda x: x * x))
                ).alias("c_norm"),
            ),
        ).alias("__cents")
    )


def _ivf_cands_col(v_col, vn_col, round_dp) -> F.Column:
    """array<struct<sim, negcell>> — the rounded cosine of one
    vector (pre-projected ``__v``/``__vn`` columns) against every
    centroid of the attached ``__cents`` row. Element arithmetic is
    exactly :func:`_ivf_scored`'s per-row expression, so
    ``array_max`` over it ≡ the old ``max(struct(sim, -cell))``
    aggregate and ``reverse(array_sort(...))`` ≡ the old
    collect_list argsort — bit-identical, shuffle-free."""
    return F.transform(
        F.col("__cents"),
        lambda s: F.struct(
            F.round(
                _fold_sum(F.zip_with(v_col, s["c_vec"], lambda x, y: x * y))
                / (vn_col * s["c_norm"]),
                round_dp,
            ).alias("sim"),
            (-s["cell_id"]).alias("negcell"),
        ),
    )


def _attach_ivf_cands(
    df: DataFrame, cent_rows, vec_col: str, round_dp: int
) -> DataFrame:
    """``df`` + ``__cands`` (see :func:`_ivf_cands_col`), via the
    one-row broadcast attach. Pure projection over the input — every
    df column rides through."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.withColumn("__v", v).withColumn(
        "__vn", F.sqrt(_fold_sum(F.transform(F.col("__v"), lambda x: x * x)))
    )
    attached = base.crossJoin(
        F.broadcast(_cents_arr_df(df.sparkSession, cent_rows))
    )
    return attached.withColumn(
        "__cands", _ivf_cands_col(F.col("__v"), F.col("__vn"), round_dp)
    ).drop("__v", "__vn", "__cents")


def _ivf_scored(
    df: DataFrame, cents: DataFrame, id_col: str, vec_col: str, round_dp: int
) -> DataFrame:
    """(id, cell_id, sim): rounded cosine of every vector against every
    centroid — a broadcast nested-loop over n_cells rows. Map-side
    only; O(n_cells) work per vector with a constant-size plan."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(
        F.col(id_col),
        v.alias("__v"),
        F.sqrt(_fold_sum(F.transform(v, lambda x: x * x))).alias("__vn"),
    )
    dot = _fold_sum(F.zip_with(F.col("__v"), F.col("c_vec"), lambda x, y: x * y))
    return base.crossJoin(F.broadcast(cents)).select(
        F.col(id_col),
        F.col("cell_id"),
        F.round(dot / (F.col("__vn") * F.col("c_norm")), round_dp).alias("sim"),
    )


def ivf_assign(
    df: DataFrame,
    cent_rows,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    cents: DataFrame | None = None,
) -> DataFrame:
    """(id, cell_id): assign every vector to its nearest centroid by
    rounded cosine (ties → lowest centroid id) — the IVF build step.
    ``max(struct(sim, -cell_id))`` is the argmax: it partial-aggregates
    map-side, so the only shuffle moves ONE row per vector. At 100 TB
    the cell_id column then partitions/buckets the index."""
    # r16: one-row broadcast attach + array argmax — a pure
    # projection (no ×n_cells expansion, no per-vector groupBy, no
    # corpus shuffle); `cents` is accepted for API compatibility but
    # unused (it was only ever the same cent_rows pre-built)
    del cents
    return _attach_ivf_cands(
        df.select(F.col(id_col), F.col(vec_col)), cent_rows, vec_col, round_dp
    ).select(
        F.col(id_col),
        (-F.array_max(F.col("__cands"))["negcell"]).alias("cell_id"),
    )


def ivf_probe_cells(
    df: DataFrame,
    cent_rows,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    cents: DataFrame | None = None,
) -> DataFrame:
    """(query_id, cell_id) — the ``nprobe`` nearest cells per query
    vector (sim desc, cell asc): slice of the descending-sorted
    per-query (sim, negcell) list, aggregated map-side like
    :func:`ivf_assign` (one shuffled row per query)."""
    # r16: same attach-and-sort shape as ivf_assign — projection, not
    # collect_list aggregate; `cents` accepted for API compat, unused
    del cents
    top = F.slice(F.reverse(F.array_sort(F.col("__cands"))), 1, nprobe)
    return _attach_ivf_cands(
        df.select(F.col(id_col), F.col(vec_col)), cent_rows, vec_col, round_dp
    ).select(
        F.col(id_col).alias("query_id"),
        F.explode(F.transform(top, lambda s: -s["negcell"])).alias("cell_id"),
    )


IVF_Q_SCALE = 1_000_000


def ivf_train_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    q_scale: int = IVF_Q_SCALE,
    init_rows=None,
) -> list[tuple[int, list[float]]]:
    """Deterministic Lloyd (k-means) refinement of the IVF coarse
    quantizer — replaces the r3 "toy" quantizer (16 lowest-id vectors
    used as-is) with trained cells while staying bit-reproducible in
    any engine:

    - init: the ``n_cells`` lowest-id corpus vectors (seed-free);
    - assignment: the existing rounded-cosine argmax
      (:func:`ivf_assign` — ties to the lowest cell id);
    - update: each centroid component is the EXACT mean of its
      members' components quantized to the 1/q_scale grid —
      ``sum(round(x·q) as long)`` is an order-independent integer
      sum (no float-add order dependence to mirror), and the final
      ``CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) · q)`` is one IEEE
      division any engine reproduces. Quantizing a quantizer's
      training input at 1e-6 is semantically free;
    - empty cells keep their previous centroid (mirrored by the
      oracle's coalesce).

    Each iteration is one map-side assignment plus one (cell, dim)
    aggregate — corpus shuffles ONE quantized long per (vector, dim),
    partial-aggregated map-side; the per-iteration collect is the
    bounded n_cells centroid table (watermark class). Returns
    ``cent_rows`` for :func:`_centroids_df` / :func:`ivf_topk`."""
    spark = corpus.sparkSession
    if init_rows is None:
        init_rows = (
            corpus.select(id_col, vec_col)
            .orderBy(F.col(id_col))
            .limit(n_cells)
            .collect()
        )
    cent_rows = sorted(
        (int(r[0]), [float(x) for x in r[1]]) for r in init_rows[:n_cells]
    )
    dim = len(cent_rows[0][1]) if cent_rows else 0
    for _ in range(n_iters):
        # r16 shape: assignment is the attach-and-argmax PROJECTION
        # (see _attach_ivf_cands — no ×n_cells expansion, no
        # per-vector groupBy), and the quantized-mean update is ONE
        # partial-aggregable groupBy(cell) with a static per-dim SUM
        # column set (state = n_cells × dim longs per task) — the
        # posexplode → (cell, dim) shuffle → collect_list re-assembly
        # is gone. Per iteration: one corpus scan, one tiny shuffle,
        # one bounded collect. Arithmetic is unchanged: same rounded
        # cosine argmax, same exact integer sums, and the final
        # s/(n·q_scale) division is the identical IEEE double op the
        # old in-plan expression performed.
        qv = F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * q_scale, 0).cast("long"),
        )
        base = corpus.select(qv.alias("__q"), F.col(vec_col))
        assigned = _attach_ivf_cands(base, cent_rows, vec_col, round_dp).select(
            (-F.array_max(F.col("__cands"))["negcell"]).alias("cell_id"),
            F.col("__q"),
        )
        agg_rows = (
            assigned.groupBy("cell_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(F.element_at(F.col("__q"), d + 1)).alias(f"s{d}")
                    for d in range(dim)
                ],
            )
            .collect()
        )
        got = {
            int(r["cell_id"]): [
                float(r[f"s{d}"]) / (float(r["n"]) * float(q_scale))
                for d in range(dim)
            ]
            for r in agg_rows
        }
        cent_rows = [(cid, got.get(cid, vec)) for cid, vec in cent_rows]
    return cent_rows


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int = 16,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    train_iters: int = 0,
) -> DataFrame:
    """IVF-flat approximate top-k cosine search — the second ANN scale
    path next to :func:`lsh_topk`, and (unlike random-hyperplane LSH)
    fully deterministic and SQL-expressible, so it is hash-checked
    against the DuckDB oracle rather than rows-only.

    Coarse quantizer: the ``n_cells`` lowest-id corpus vectors seed
    the cells; ``train_iters`` > 0 runs that many deterministic Lloyd
    refinements (:func:`ivf_train_centroids` — exact quantized-mean
    updates, bit-reproducible cross-engine) so cells track the actual
    vector distribution instead of whichever vectors had low ids.
    Corpus vectors are assigned to their nearest cell (map-only);
    each query probes its ``nprobe`` nearest cells and scores only
    those cells' members with the exact fold cosine. Collecting
    ``n_cells`` centroid rows to the driver is a bounded, deliberate
    collect (same class as the high-watermark scalar): the centroids
    then broadcast to every executor, so assignment never shuffles
    the corpus."""
    if train_iters > 0:
        cent_rows = ivf_train_centroids(
            corpus, n_cells, train_iters, id_col, vec_col, round_dp
        )
    else:
        cent_rows = sorted(
            (int(r[0]), list(r[1]))
            for r in corpus.select(id_col, vec_col)
            .orderBy(F.col(id_col))
            .limit(n_cells)
            .collect()
        )
    cents = _centroids_df(corpus.sparkSession, cent_rows)
    assign = ivf_assign(
        corpus, cent_rows, id_col, vec_col, round_dp, cents=cents
    ).withColumnRenamed(id_col, "neighbor_id")
    probes = ivf_probe_cells(
        queries, cent_rows, nprobe, id_col, vec_col, round_dp, cents=cents
    )
    # no distinct needed: assign has one row per neighbor, probes one
    # row per (query, cell) — the equi-join cannot duplicate a pair
    cand = (
        assign.join(F.broadcast(probes), "cell_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    q_vec = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    c_vec = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        cand.join(F.broadcast(q_vec), "query_id")
        .join(c_vec, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr(F.col("q_vec"), F.col("c_vec")), round_dp).alias(
                "cosine_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"),
                "neighbor_id", "cosine_sim")
    )


def _normed(df: DataFrame, id_col: str, vec_col: str, id_alias: str, v_alias: str):
    """Project (id, float64 vector, L2 norm) once per vector so the
    O(n²) pair scan folds each pair exactly once. The norm is the
    same sqrt(Σx²) the naive formula computes — values unchanged."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return df.select(
        F.col(id_col).alias(id_alias),
        v.alias(v_alias),
        F.sqrt(_fold_sum(F.transform(v, lambda x: x * x))).alias(f"{v_alias}_norm"),
    )


def neardup_param_table(
    threshold: float = 0.40,
    recall: float = 0.90,
    max_tables: int = 64,
    min_planes: int = 4,
    max_planes: int = 12,
) -> tuple[int, dict[int, int]]:
    """Classic random-hyperplane LSH tuning, frozen once in Python so
    the DuckDB oracle can inline identical integer literals (never
    recompute transcendentals cross-engine — a last-ulp acos/log
    difference at a ceil() boundary would silently change the
    candidate set).

    p = P[one plane agrees] = 1 − θ/π at the similarity threshold;
    a pair is a candidate if ALL b planes of ANY of L tables agree,
    so recall at the threshold edge is 1 − (1 − p^b)^L. Returns
    ``b_thresh`` — the largest plane count whose required table count
    L(b) = ⌈ln(1−recall)/ln(1−p^b)⌉ fits ``max_tables`` — plus the
    {b: L(b)} lookup for every usable b. Deeper hashes prune harder
    (candidates/table ∝ n²/2^b) but demand exponentially more tables
    at low thresholds; this picks the hardest prune the table budget
    affords without giving up the recall target."""
    p = 1.0 - math.acos(threshold) / math.pi

    def tables_for(b: int) -> int:
        return math.ceil(math.log(1.0 - recall) / math.log(1.0 - p**b))

    b_thresh = min_planes
    for cand in range(max_planes, min_planes - 1, -1):
        if tables_for(cand) <= max_tables:
            b_thresh = cand
            break
    lookup = {
        b: min(max_tables, tables_for(b)) for b in range(min_planes, b_thresh + 1)
    }
    return b_thresh, lookup


def neardup_lsh_params(
    n: int,
    threshold: float = 0.40,
    recall: float = 0.90,
    max_tables: int = 64,
    min_planes: int = 4,
    max_planes: int = 12,
    target_bucket: int = 8,
) -> tuple[int, int]:
    """(n_planes, n_tables) for a corpus of ``n`` vectors: the
    threshold/recall-driven depth from :func:`neardup_param_table`,
    additionally clamped so 2^b never wildly exceeds n/target_bucket
    (hashing 500 vectors into 4096 buckets wastes tables: candidates
    are already singleton-bucket sparse at far shallower depth).
    The occupancy clamp is pure integer math (bit_length), so the
    oracle reproduces it from count(*) with a CASE ladder."""
    b_thresh, lookup = neardup_param_table(
        threshold, recall, max_tables, min_planes, max_planes
    )
    b_occ = max(min_planes, (max(n, 1) // target_bucket).bit_length())
    b = min(b_thresh, b_occ)
    return b, lookup[b]


def _sign_planes(
    dim: int, n_tables: int, n_planes: int, seed: int = NEARDUP_SEED
) -> np.ndarray:
    """(n_tables, n_planes, dim) ±1.0 hyperplanes, each coefficient
    the top MD5 hex digit of "{seed}|{table}|{plane}|{dim}" (≥ '8' →
    +1). Sign projections are the SimHash family — collision
    probability ≈ 1 − θ/π like Gaussian planes — and, unlike Gaussian
    planes, any engine regenerates them from md5+substr: the oracle
    derives the full tensor in SQL instead of inlining hundreds of KB
    of float literals. Prefix-stable by construction: table t / plane
    j never changes as the derived (b, L) grow."""
    arr = np.empty((n_tables, n_planes, dim), dtype=np.float64)
    for t in range(n_tables):
        for j in range(n_planes):
            for k in range(dim):
                h = hashlib.md5(f"{seed}|{t}|{j}|{k}".encode()).hexdigest()[0]
                arr[t, j, k] = 1.0 if h >= "8" else -1.0
    return arr


def lsh_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    n_planes: int | None = None,
    n_tables: int | None = None,
    seed: int = NEARDUP_SEED,
    recall: float = 0.90,
    max_tables: int = 64,
    target_bucket: int = 8,
) -> DataFrame:
    """Bucketed near-dup pairs: LSH candidate generation + exact
    within-candidate cosine verify — the 100 TB default path.

    Candidates are the pairs colliding on a (table_id, bucket) key of
    the multi-table sign-plane signatures (:func:`_sign_planes`) —
    never a cross join, never a driver collect. (b, L) are derived
    per-corpus by :func:`neardup_lsh_params` unless given (VERDICT r2:
    a fixed b means candidate volume grows as n²/2^b — the knob must
    track the corpus). Every candidate is exactly re-scored with a
    vectorized float64 kernel whose add order matches the Catalyst
    fold and DuckDB's list functions bit-for-bit, so precision is 1.0
    and the output hash-checks; recall at the threshold is the
    standard 1−(1−p^b)^L bound (asserted against the exact scan in
    tests/test_extensions.py).

    Scale shape — two Arrow stages around ONE shuffle:

    1. tag: each vector computes its L bucket ids map-side and is
       emitted once per table, carrying its vector (n·L rows);
    2. repartition on (table_id, bucket) — the only shuffle, n·L
       rows of (id, bucket, vector);
    3. bucket kernel: per (table, bucket) group, one blocked float64
       gram matrix scores every member pair (Σ_buckets m² work — the
       LSH-bounded candidate volume), emitting pairs ≥ threshold−ε;
    4. exact JVM round + threshold filter + distinct over the tiny
       surviving pair set (a true pair appears once per colliding
       table; random collisions are near-unique already).

    No self-join, no pre-verify distinct over the full candidate
    set, no per-pair vector join: r2's join-based topology moved
    every candidate pair through a distinct plus two joins carrying
    both vectors (~15× this plan's bytes). applyInPandas would give
    the same kernel per group but pays a per-group Python roundtrip
    (thousands of tiny buckets); mapInPandas over hash-partitioned
    data re-groups locally in pandas instead."""
    if (n_planes is None) != (n_tables is None):
        raise ValueError(
            "pass BOTH n_planes and n_tables or NEITHER: a caller's plane "
            "count with a table count derived for a different operating "
            "point voids the 1-(1-p^b)^L recall bound"
        )
    if n_planes is None:
        n_planes, n_tables = neardup_lsh_params(
            df.count(),
            threshold=threshold,
            recall=recall,
            max_tables=max_tables,
            target_bucket=target_bucket,
        )
    planes = _sign_planes(dim, n_tables, n_planes, seed)
    flat = planes.reshape(n_tables * n_planes, dim).T.copy()  # (dim, L*b)
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    vec_type = df.schema[vec_col].dataType.simpleString()
    # ε covers every raw value that could round UP across the
    # threshold at round_dp; the exact F.round + filter happens
    # JVM-side below, identical to the oracle's round(...) >= t
    eps = 10.0 ** (-round_dp)

    def tag(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            acc = np.zeros((len(pdf), flat.shape[1]))
            # dimension-sequential accumulation == list_dot_product's
            # add order: bucket signs are bit-reproducible vs DuckDB
            for k in range(dim):
                acc += mat[:, k : k + 1] * flat[k]
            bits = acc >= 0
            frames = []
            for t in range(n_tables):
                chunk = bits[:, t * n_planes : (t + 1) * n_planes]
                frames.append(
                    pd.DataFrame(
                        {
                            id_col: pdf[id_col],
                            "table_id": t,
                            "bucket": chunk.dot(weights).astype(np.int64),
                            vec_col: pdf[vec_col],
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    tagged = df.select(id_col, vec_col).mapInPandas(
        tag, schema=f"{id_col} long, table_id int, bucket long, {vec_col} {vec_type}"
    )
    spark = df.sparkSession
    grouped = tagged.repartition(
        spark.sparkContext.defaultParallelism, "table_id", "bucket"
    )

    def bucket_pairs(batches):
        frames = [pdf for pdf in batches if len(pdf)]
        if not frames:
            return
        part = pd.concat(frames, ignore_index=True)
        for _, g in part.groupby(["table_id", "bucket"], sort=False):
            m = len(g)
            if m < 2:
                continue
            order = np.argsort(g[id_col].to_numpy(), kind="stable")
            ids = g[id_col].to_numpy()[order]
            mat = np.stack(g[vec_col].to_numpy()[order]).astype(np.float64)
            nsq = np.zeros(m)
            for k in range(dim):
                nsq += mat[:, k] * mat[:, k]
            nrm = np.sqrt(nsq)
            # blocked gram matrix, dimension-sequential adds: every
            # pair dot is bit-identical to the index-ordered fold;
            # block width bounds memory on a skew-heavy bucket
            bs = 2048
            for j0 in range(0, m, bs):
                j1 = min(j0 + bs, m)
                sub = mat[j0:j1]
                acc = np.zeros((m, j1 - j0))
                for k in range(dim):
                    acc += mat[:, k : k + 1] * sub[:, k][None, :]
                sim = acc / (nrm[:, None] * nrm[j0:j1][None, :])
                ii, jj = np.nonzero(sim >= threshold - eps)
                keep = ii < (jj + j0)  # strict upper triangle, global j
                if not keep.any():
                    continue
                yield pd.DataFrame(
                    {
                        "id_a": ids[ii[keep]],
                        "id_b": ids[jj[keep] + j0],
                        "raw_sim": sim[ii[keep], jj[keep]],
                    }
                )

    pairs = grouped.mapInPandas(
        bucket_pairs, schema="id_a long, id_b long, raw_sim double"
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(F.col("raw_sim"), round_dp).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .distinct()
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    method: str = "lsh",
    dim: int | None = None,
    n_planes: int | None = None,
    n_tables: int | None = None,
    seed: int = NEARDUP_SEED,
    recall: float = 0.90,
) -> DataFrame:
    """(id_a, id_b, cosine_sim) pairs with similarity ≥ threshold —
    embedding-based near-duplicate detection.

    ``method="lsh"`` (default): bucketed candidates + exact verify
    (:func:`lsh_near_dup_pairs`) — the only method that survives
    100 TB (no all-pairs scan, no driver collect). Requires ``dim``.
    (b, L) derive from corpus size + threshold unless given.
    Approximate in recall only; every returned pair is exactly
    scored.

    ``method="matmul"`` — exact all-pairs, SMALL-CORPUS OPT-IN: the
    full corpus is collected to the driver and broadcast as a dense
    normalized matrix; each Arrow batch scores against it with one
    float64 matmul (~50× the per-pair expression fold). O(n·d)
    driver memory — refuse at scale.

    ``method="fold"`` — exact all-pairs, SMALL-CORPUS OPT-IN:
    pure-Catalyst crossJoin + zip_with fold; O(n²) compute. The
    cross-check baseline (tests assert both exact methods agree at
    ``round_dp``, and that lsh ⊆ exact with recall ≥ floor).
    """
    if method == "lsh":
        if dim is None:
            raise ValueError("method='lsh' requires dim (embedding width)")
        return lsh_near_dup_pairs(
            df, threshold, dim, id_col, vec_col, round_dp,
            n_planes, n_tables, seed, recall,
        )
    if method == "fold":
        a = _normed(df, id_col, vec_col, "id_a", "va")
        b = _normed(df, id_col, vec_col, "id_b", "vb")
        dot = _fold_sum(F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y))
        return (
            a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                F.round(dot / (F.col("va_norm") * F.col("vb_norm")), round_dp).alias(
                    "cosine_sim"
                ),
            )
            .filter(F.col("cosine_sim") >= threshold)
        )

    spark = df.sparkSession
    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((ids, mat))

    def score(batches):
        all_ids, all_mat = bc.value
        for pdf in batches:
            b_ids = pdf[id_col].to_numpy(dtype=np.int64)
            b_mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            b_mat /= np.linalg.norm(b_mat, axis=1, keepdims=True)
            sims = np.round(b_mat @ all_mat.T, round_dp)
            keep = (sims >= threshold) & (b_ids[:, None] < all_ids[None, :])
            r, c = np.nonzero(keep)
            yield pd.DataFrame(
                {"id_a": b_ids[r], "id_b": all_ids[c], "cosine_sim": sims[r, c]}
            )

    return df.select(id_col, vec_col).mapInPandas(
        score, schema="id_a long, id_b long, cosine_sim double"
    )


def quantize_embeddings(
    df: DataFrame, vec_col: str, id_col: str, levels: int = 255
) -> DataFrame:
    """Per-dimension affine int8 quantization of an embedding column —
    the storage/serving compression step of a large-scale vector
    pipeline (4× smaller than float32; the uniform scalar-quantization
    baseline of the FAISS/ScaNN literature).

    Per dimension d the corpus min/max define the affine grid; each
    value maps to q = min(levels, floor((x − mn_d)·levels / span_d))
    (span 0 → 0). The float math is fixed-order IEEE double
    arithmetic on order-independent inputs (min/max), so any engine
    reproduces it bit-for-bit — floor avoids round()'s cross-engine
    midpoint ambiguity.

    Returns (id, n_dims, q_sum, q_min, q_max, q_fp): exact-integer
    summaries plus the MD5 of the comma-joined codes — the
    hash-checkable witness of the full quantized vector.

    Scale design (100 TB): pass 1 is a posexplode into a per-dim
    min/max aggregate — map-side partial over ``dim`` keys (one tiny
    shuffle of n_dims rows per task); the dim grids are then folded
    into two arrays on a single row and broadcast-cross-joined, so
    pass 2 quantizes with a pure per-row ``transform`` — no second
    explode, no reassembly shuffle, scan-speed over the corpus.
    """
    x = F.col("__x")
    stats = (
        df.select(F.posexplode(F.col(vec_col)).alias("dim", "__xf"))
        .select("dim", F.col("__xf").cast("double").alias("__x"))
        .groupBy("dim")
        .agg(F.min(x).alias("mn"), F.max(x).alias("mx"))
    )
    grids = stats.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mn"))), lambda s: s["mn"]
        ).alias("__mn"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mx"))), lambda s: s["mx"]
        ).alias("__mx"),
    )

    def _q(xv, i):
        mn = F.element_at(F.col("__mn"), i + 1)
        mx = F.element_at(F.col("__mx"), i + 1)
        span = mx - mn
        return (
            F.when(span == 0.0, F.lit(0))
            .otherwise(
                F.least(
                    F.lit(levels),
                    F.floor(
                        (xv.cast("double") - mn) * F.lit(float(levels)) / span
                    ),
                )
            )
            .cast("long")
        )

    q = F.transform(F.col(vec_col), _q)
    return (
        df.crossJoin(F.broadcast(grids))
        .select(F.col(id_col), q.alias("__q"))
        .select(
            F.col(id_col),
            F.size("__q").cast("long").alias("n_dims"),
            F.aggregate(
                "__q", F.lit(0).cast("long"), lambda acc, v: acc + v
            ).alias("q_sum"),
            F.array_min("__q").cast("long").alias("q_min"),
            F.array_max("__q").cast("long").alias("q_max"),
            F.md5(
                F.concat_ws(
                    ",", F.transform("__q", lambda v: v.cast("string"))
                )
            ).alias("q_fp"),
        )
    )


def binary_quantize_embeddings(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    word_bits: int = 32,
) -> DataFrame:
    """(id, w0..wN) — 1-bit sign quantization of an embedding column
    packed into ``word_bits``-bit integer words (r15: the 32×
    memory-compression tier below int8 — the binary-embedding /
    Hamming-rerank scheme of the retrieval literature). Threshold is
    EXACTLY 0.0: a pure comparison, no computed per-dim center, so
    any engine reproduces every bit (a mean/median threshold would
    hinge on float-reduction order at the margin — center upstream
    if the corpus is biased). Packing is a STATIC sum of
    ``dim`` codegen CASE terms — no explode, no shuffle, scan-speed.

    ``word_bits`` defaults to 32 so packed words stay in the
    positive BIGINT range on every SQL engine (64-bit packing would
    put bit 63 in the sign position with engine-specific overflow
    spellings)."""
    if word_bits > 62:
        raise ValueError("word_bits must keep words sign-safe (<63)")
    n_words = (dim + word_bits - 1) // word_bits
    words = []
    for w in range(n_words):
        terms = [
            F.when(
                F.col(vec_col)[i] > 0.0,
                F.lit(1 << (i - w * word_bits)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            for i in range(w * word_bits, min(dim, (w + 1) * word_bits))
        ]
        acc = terms[0]
        for t in terms[1:]:
            acc = acc + t
        words.append(acc.alias(f"w{w}"))
    return df.select(F.col(id_col), *words)


def hamming_topk(
    corpus_bits: DataFrame,
    query_bits: DataFrame,
    n_words: int,
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by Hamming distance over packed binary codes:
    (query_id, rank, neighbor_id, hamming). The whole distance is
    ``sum(bit_count(cw ^ qw))`` — integer codegen, no floats
    anywhere, so ranks are engine-exact; ties break by neighbor id.

    Scale shape: queries broadcast (the serving pattern — query sets
    are small), the corpus side is one scan + per-query TakeOrdered;
    the bit-sliced corpus is 32× smaller than float32, which is the
    point — a 100 TB float corpus probes from a ~3 TB bit slice.
    For billion-row corpora compose with the banded pigeonhole
    (:func:`~openaq_data_pipeline_spark.operators.dedup
    .simhash_near_dup_pairs`'s 16-bit band equi-join) to prune
    candidates before this exact rerank."""
    q = query_bits.select(
        F.col(id_col).alias("query_id"),
        *[F.col(f"w{w}").alias(f"qw{w}") for w in range(n_words)],
    )
    c = corpus_bits.select(
        F.col(id_col).alias("neighbor_id"),
        *[F.col(f"w{w}") for w in range(n_words)],
    )
    dist = None
    for w in range(n_words):
        term = F.bit_count(
            F.col(f"w{w}").bitwiseXOR(F.col(f"qw{w}"))
        ).cast("long")
        dist = term if dist is None else dist + term
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", dist.alias("hamming"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            "neighbor_id",
            "hamming",
        )
    )


# --- persisted IVF index (r6): the ANN tier's Bm25Index analogue --------


from dataclasses import dataclass as _dataclass  # noqa: E402
import uuid as _uuid  # noqa: E402


@_dataclass(frozen=True)
class IvfIndex:
    """Handle for a PERSISTED IVF-flat index — what a production ANN
    service keeps between query sessions, and the similarity-tier
    analogue of :class:`~.retrieval.Bm25Index` / the incremental
    dedup indexes. Two tables:

    - ``{name}_cells`` — (neighbor_id, c_vec, cell_id): every
      indexed vector WITH its embedding, BUCKETED on ``cell_id`` so
      probe-side work is cell-pruned and the scoring join reads
      vectors from the index, never from the corpus (plan-pinned:
      a probe's inputFiles contain no corpus parquet).
    - ``{name}_centroids`` — (cell_id, centroid): the FROZEN coarse
      quantizer (n_cells rows). Appended batches assign against
      these exact centroids, which is what makes probe-vs-inline
      equivalence provable; re-training on append would silently
      reshuffle the cells (a production re-index, not an append).

    ``storage="int8"`` (VERDICT r6 next #4) stores per-vector
    MAX-ABS-symmetric int8 codes (``c_codes array<tinyint>``) instead
    of the input's float arrays — the dominant storage/IO cost of
    the float index at 100 TB of embeddings. Measured 3.64× smaller
    on a 2000×64 high-entropy fixture (tests/test_ann_index.py):
    the engine's embeddings tables store float32 elements, so the
    asymptotic cut is 4× (it would be 8× against a float64
    upstream). Scoring stays cosine:
    symmetric quantization preserves direction, and the per-vector
    scale CANCELS out of cosine(codes_a, codes_b), so no scale needs
    joining at probe time. With ``rescore=True`` a third table
    ``{name}_rescore`` — (neighbor_id, c_vec), bucketed on
    neighbor_id — keeps full-precision vectors for an exact re-rank
    of the top-k′ int8 candidates (k′ = ``rescore_factor``·k): the
    probe scans 4×-smaller cells, then touches only candidate rows
    of the side table (broadcast candidate join — index side stays
    exchange-free). Storage with rescore is ~5/4 of the float index;
    the win is probe IO, which is what scales with query load.
    """

    name: str
    nprobe: int = 4
    round_dp: int = 6
    n_buckets: int = 8
    location: str | None = None
    storage: str = "float"  # "float" | "int8"
    rescore: bool = False
    rescore_factor: int = 3

    @property
    def rescore_table(self) -> str:
        return f"{self.name}_rescore"

    @property
    def cells_table(self) -> str:
        return f"{self.name}_cells"

    @property
    def centroids_table(self) -> str:
        return f"{self.name}_centroids"

    def _path(self, suffix: str) -> str | None:
        return f"{self.location}/{suffix}" if self.location else None

    def drop(self, spark=None) -> None:
        """No-residue contract, as the other persisted indexes."""
        import shutil

        from pyspark.sql import SparkSession

        spark = spark or SparkSession.getActiveSession()
        if spark is not None:
            for t in (self.cells_table, self.centroids_table, self.rescore_table):
                spark.sql(f"DROP TABLE IF EXISTS {t}")
        if self.location:
            shutil.rmtree(self.location, ignore_errors=True)

    def __enter__(self) -> "IvfIndex":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self.drop()


def _index_centroid_rows(spark, index: IvfIndex):
    """Bounded collect of the frozen quantizer (n_cells rows)."""
    return sorted(
        (int(r["cell_id"]), list(r["centroid"]))
        for r in spark.table(index.centroids_table).collect()
    )


def build_ivf_index(
    corpus: DataFrame,
    index: IvfIndex,
    n_cells: int = 16,
    train_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init_rows=None,
) -> list[tuple[int, list[float]]]:
    """Train (or seed, train_iters=0) the coarse quantizer on
    ``corpus``, assign every vector, and persist both tables.
    Returns the trained centroid rows so composite builders
    (:func:`build_ivf_pq_index`) need not re-collect them from the
    freshly written table."""
    cent_rows = _ivf_seed_or_train(
        corpus, n_cells, train_iters, id_col, vec_col, index.round_dp,
        init_rows,
    )
    _ivf_write_tables(corpus, index, cent_rows, id_col, vec_col)
    return cent_rows


def _ivf_seed_or_train(
    corpus, n_cells, train_iters, id_col, vec_col, round_dp, init_rows=None
):
    """Training half of :func:`build_ivf_index` (r17 split, guide
    §2.6: the composite IVF-PQ builder overlaps the table writes that
    depend on these rows with the PQ side's training)."""
    if train_iters > 0:
        return ivf_train_centroids(
            corpus, n_cells, train_iters, id_col, vec_col, round_dp,
            init_rows=init_rows,
        )
    if init_rows is None:
        init_rows = (
            corpus.select(id_col, vec_col)
            .orderBy(F.col(id_col))
            .limit(n_cells)
            .collect()
        )
    return sorted((int(r[0]), list(r[1])) for r in init_rows[:n_cells])


def _ivf_write_tables(corpus, index, cent_rows, id_col, vec_col) -> None:
    """Persistence half of :func:`build_ivf_index`: centroid table +
    the corpus-assignment cells table (bucketed)."""
    spark = corpus.sparkSession
    cents = spark.createDataFrame(
        [(cid, vec) for cid, vec in cent_rows],
        "cell_id long, centroid array<double>",
    )
    w = cents.write.mode("overwrite").format("parquet")
    if index.location:
        w = w.option("path", index._path("centroids"))
    w.saveAsTable(index.centroids_table)
    spark.catalog.refreshTable(index.centroids_table)
    _append_cells(corpus, index, cent_rows, id_col, vec_col, mode="overwrite")


def append_ivf_index(
    batch: DataFrame,
    index: IvfIndex,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Assign a new batch against the FROZEN centroids and append its
    cells (ids globally unique — caller's contract)."""
    cent_rows = _index_centroid_rows(batch.sparkSession, index)
    _append_cells(batch, index, cent_rows, id_col, vec_col, mode="append")


def ivf_drift_metrics(spark, index: IvfIndex) -> DataFrame:
    """(cell_id, n_vecs, mean_cos_residual) per OCCUPIED cell of a
    persisted IVF index — the quantizer-drift observability face
    (VERDICT r10 next #5): appends run under a FROZEN quantizer by
    design, so distribution shift shows up as per-cell fill skew and
    growing residuals (1 − cosine(vector, its cell's centroid)) long
    before anyone measures recall by hand. One partial-aggregable
    pass over the cells table with the centroid table broadcast; for
    ``storage="int8"`` the residual is code-space cosine (the
    per-vector scale cancels, same contract as probe scoring)."""
    from openaq_data_pipeline_spark.catalog import exact_ratio_spark

    cells = spark.table(index.cells_table)
    cents = spark.table(index.centroids_table)
    vec = F.col("c_codes") if index.storage == "int8" else F.col("c_vec")
    # per-row residual rounded into integer fixed point BEFORE the
    # mean: integer sums are order-insensitive, so the metric is
    # engine-exact and bit-stable across partitionings (the same
    # convention as the IVF trainer's IVF_Q_SCALE accumulators)
    k = 10 ** index.round_dp
    res_fp = F.greatest(  # cosine's float error can graze 1+ε
        F.lit(0).cast("long"),
        F.round(
            (1.0 - cosine_expr(vec, F.col("centroid"))) * k
        ).cast("long"),
    )
    return (
        cells.join(F.broadcast(cents), "cell_id")
        .groupBy("cell_id")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(res_fp).alias("__sum_fp"),
        )
        .select(
            "cell_id",
            "n_vecs",
            exact_ratio_spark(
                F.col("__sum_fp"), F.col("n_vecs") * k,
                out_scale=index.round_dp,
            ).alias("mean_cos_residual"),
        )
    )


def ivf_drift_summary(spark, index: IvfIndex) -> DataFrame:
    """One row — (n_cells, n_cells_used, n_vecs, max_fill, fill_skew,
    mean_residual, max_cell_residual) — the dashboard scalar face of
    :func:`ivf_drift_metrics`. ``fill_skew`` = max cell fill over the
    mean fill across OCCUPIED cells (1.0 = perfectly balanced); a
    drifted append stream shows up as skew and residual rising
    together. Thresholding + :func:`rebuild_ivf_index` is the
    rebuild-and-swap loop."""
    per_cell = ivf_drift_metrics(spark, index)
    n_cells = spark.table(index.centroids_table).count()
    return per_cell.agg(
        F.lit(n_cells).alias("n_cells"),
        F.count(F.lit(1)).alias("n_cells_used"),
        F.sum("n_vecs").alias("n_vecs"),
        F.max("n_vecs").alias("max_fill"),
        F.round(
            F.max("n_vecs") / F.avg("n_vecs"), index.round_dp
        ).alias("fill_skew"),
        F.round(
            F.sum(F.col("mean_cos_residual") * F.col("n_vecs"))
            / F.sum("n_vecs"),
            index.round_dp,
        ).alias("mean_residual"),
        F.max("mean_cos_residual").alias("max_cell_residual"),
    )


def rebuild_ivf_index(
    spark,
    index: IvfIndex,
    n_cells: int | None = None,
    train_iters: int = 2,
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Re-train the coarse quantizer on the index's CURRENT contents
    and swap the re-assigned cells in under the staged-swap machinery
    (:func:`~openaq_data_pipeline_spark.sources.maintenance
    .rewrite_bucketed_table`) — the recovery path when
    :func:`ivf_drift_summary` shows append drift has decayed recall.
    The cells table keeps its exact bucket spec and location through
    the swap, so probes stay bucket-pruned and exchange-free
    afterwards; the rescore side table (bucketed on ``neighbor_id``,
    assignment-independent) is untouched.

    Vector source: ``storage="float"`` re-trains from the index's own
    ``c_vec`` column; ``storage="int8"`` needs full precision — the
    rescore table when ``rescore=True``, else pass ``corpus``
    explicitly (the build-time contract). Training is deterministic
    (Lloyd seeded by lowest ids), so a crash between the cells swap
    and the centroid overwrite is recovered by re-running the
    rebuild: the same contents re-train to the same quantizer."""
    if corpus is not None:
        vecs = corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        )
    elif index.storage == "float":
        vecs = spark.table(index.cells_table).select("neighbor_id", "c_vec")
    elif index.rescore:
        vecs = spark.table(index.rescore_table).select(
            "neighbor_id", "c_vec"
        )
    else:
        raise ValueError(
            "rebuild_ivf_index: an int8 index without a rescore table "
            "holds no full-precision vectors — pass corpus= (the "
            "build-time contract)"
        )
    if n_cells is None:
        n_cells = spark.table(index.centroids_table).count()
    cent_rows = ivf_train_centroids(
        vecs, n_cells, train_iters, "neighbor_id", "c_vec", index.round_dp
    )

    from openaq_data_pipeline_spark.sources.maintenance import (
        rewrite_bucketed_table,
    )

    if index.storage == "int8" and corpus is None and index.rescore:
        full = spark.table(index.rescore_table).select(
            "neighbor_id", "c_vec"
        )
    elif index.storage == "int8":
        full = vecs
    else:
        full = None  # float cells re-assign from their own c_vec

    def reassign(df: DataFrame) -> DataFrame:
        cols = df.columns
        if full is None:
            assign = ivf_assign(
                df.select("neighbor_id", "c_vec"), cent_rows,
                "neighbor_id", "c_vec", index.round_dp,
            )
        else:
            # int8 cells hold codes only: assignment uses the
            # full-precision side (rescore table / caller corpus)
            assign = ivf_assign(
                full, cent_rows, "neighbor_id", "c_vec", index.round_dp
            )
            # "no silent caps": the inner join below drops any indexed
            # id absent from the vector source — an index that shrinks
            # with no error. Count the gap BEFORE the staged swap and
            # refuse (the anti-join is bucket-local on neighbor_id).
            missing = (
                df.select("neighbor_id")
                .join(
                    full.select("neighbor_id"), "neighbor_id", "left_anti"
                )
                .count()
            )
            if missing:
                raise ValueError(
                    f"rebuild_ivf_index: {missing} indexed ids are "
                    "missing from the vector source (rescore table / "
                    "corpus=) — rebuilding would silently shrink the "
                    "index; pass a corpus covering every indexed id "
                    "or retract the missing ids first"
                )
        return (
            df.drop("cell_id")
            .join(assign, "neighbor_id")
            .select(*cols)
        )

    rewrite_bucketed_table(spark, index.cells_table, transform=reassign)
    cents = spark.createDataFrame(
        [(cid, vec) for cid, vec in cent_rows],
        "cell_id long, centroid array<double>",
    )
    w = cents.write.mode("overwrite").format("parquet")
    if index.location:
        w = w.option("path", index._path("centroids"))
    w.saveAsTable(index.centroids_table)
    spark.catalog.refreshTable(index.centroids_table)


def pq_code_usage(spark, index: "PqIndex") -> DataFrame:
    """(sub_id, n_codes_used, max_fill, fill_skew) per subspace of a
    persisted PQ index — the PQ face of quantizer-drift
    observability. PQ codes carry no vectors, so residuals are not
    reconstructable from the index alone; what IS visible — and what
    distribution shift distorts first — is codeword usage: a
    subspace whose appends all land on a few codewords has a stale
    codebook. One partial-aggregable pass over the codes table."""
    codes = spark.table(index.codes_table)
    per_code = codes.groupBy("sub_id", "code_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        per_code.groupBy("sub_id")
        .agg(
            F.count(F.lit(1)).alias("n_codes_used"),
            F.max("n").alias("max_fill"),
            F.round(F.max("n") / F.avg("n"), index.round_dp).alias(
                "fill_skew"
            ),
        )
        .orderBy("sub_id")
    )


def rebuild_pq_index(
    corpus: DataFrame,
    index: "PqIndex",
    n_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Re-train the per-subspace codebooks on ``corpus`` (PQ codes
    hold no vectors, so rebuild takes the vector source exactly like
    :func:`build_pq_index`) and swap the re-encoded codes in under
    the staged-swap machinery — bucket spec and location preserved,
    so the ADC probe's bucket-aligned candidate join survives the
    rebuild. The transform REPLACES the code rows wholesale (a
    re-encode, not a row-wise edit); schema is unchanged."""
    spark = corpus.sparkSession
    book_rows = pq_train_codebooks(
        corpus, m=index.m, ksub=index.ksub, n_iters=n_iters,
        id_col=id_col, vec_col=vec_col, dim=index.dim,
        round_dp=index.round_dp,
    )
    new_codes = pq_encode(
        corpus, book_rows, m=index.m, dim=index.dim,
        id_col=id_col, vec_col=vec_col, round_dp=index.round_dp,
    ).withColumnRenamed(id_col, "neighbor_id")

    from openaq_data_pipeline_spark.sources.maintenance import (
        rewrite_bucketed_table,
    )

    rewrite_bucketed_table(
        spark, index.codes_table,
        transform=lambda _old: new_codes.select(
            *spark.table(index.codes_table).columns
        ),
    )
    books = spark.createDataFrame(
        [(int(s), int(c), [float(x) for x in v]) for s, c, v in book_rows],
        "sub_id int, code_id int, c array<double>",
    )
    w = books.write.mode("overwrite").format("parquet")
    if index.location:
        w = w.option("path", index._path("codebooks"))
    w.saveAsTable(index.codebooks_table)
    spark.catalog.refreshTable(index.codebooks_table)


def int8_codes(vec) -> F.Column:
    """Per-vector MAX-ABS-symmetric int8 quantization, pure Catalyst:
    code_i = round(127 · x_i / max|x|) ∈ [−127, 127] (an all-zero
    vector codes to all zeros). Direction-preserving, so
    cosine(codes_a, codes_b) ≈ cosine(a, b) with the per-vector scale
    cancelling — no scale column needed for cosine scoring."""
    dv = F.transform(vec, lambda x: x.cast("double"))
    mx = F.array_max(F.transform(dv, F.abs))
    return F.when(
        mx == 0.0, F.transform(dv, lambda x: F.lit(0).cast("tinyint"))
    ).otherwise(
        F.transform(
            dv, lambda x: F.round(x * F.lit(127.0) / mx).cast("tinyint")
        )
    )


def _append_cells(
    vecs: DataFrame, index: IvfIndex, cent_rows, id_col: str, vec_col: str,
    mode: str,
) -> None:
    from openaq_data_pipeline_spark.sources.tables import save_bucketed

    assign = ivf_assign(
        vecs, cent_rows, id_col, vec_col, index.round_dp
    )
    if index.storage == "int8":
        payload = vecs.select(
            F.col(id_col).alias("neighbor_id"),
            int8_codes(F.col(vec_col)).alias("c_codes"),
        )
    else:
        payload = vecs.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        )
    rows = payload.join(
        assign.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id"
    )
    save_bucketed(
        rows, index.cells_table, "cell_id", index.n_buckets,
        sort=False, mode=mode, path=index._path("cells"),
    )
    if index.storage == "int8" and index.rescore:
        save_bucketed(
            vecs.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("c_vec"),
            ),
            index.rescore_table,
            "neighbor_id",
            index.n_buckets,
            sort=False,
            mode=mode,
            path=index._path("rescore"),
        )


def _ivf_candidate_scores(
    spark,
    queries: DataFrame,
    index: IvfIndex,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, DataFrame]:
    """(scored, q_vec): every (query_id, neighbor_id, cosine_sim)
    candidate from the probed cells of the persisted index — the
    shared core of the top-k and near-dup probes. Float cells score
    exact cosine; int8 cells score code-space cosine (per-vector
    scale cancels)."""
    cent_rows = _index_centroid_rows(spark, index)
    probes = ivf_probe_cells(
        queries, cent_rows, nprobe, id_col, vec_col, index.round_dp
    )
    cells = spark.table(index.cells_table)
    q_vec = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("q_vec"),
    )
    if index.storage == "int8":
        # quantize the query the same way; per-vector scales cancel
        # out of cosine, so codes score against codes directly
        q_side = queries.select(
            F.col(id_col).alias("query_id"),
            int8_codes(F.col(vec_col)).alias("q_codes"),
        )
        sim = cosine_expr(F.col("q_codes"), F.col("c_codes"))
    else:
        q_side = q_vec
        sim = cosine_expr(F.col("q_vec"), F.col("c_vec"))
    scored = (
        cells.join(F.broadcast(probes), "cell_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(q_side), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(sim, index.round_dp).alias("cosine_sim"),
        )
    )
    return scored, q_vec


def ivf_neardup_indexed(
    spark,
    queries: DataFrame,
    index: IvfIndex,
    min_cosine: float = 0.9,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cosine_sim) — every probed-cell CROSS
    pair at/above ``min_cosine``: the EMBEDDING tier's incremental
    near-dup/decontamination probe (r7), completing the per-tier
    incremental set (exact, Jaccard, MinHash bands, SimHash,
    containment, and now embedding-cosine). "Is this batch vector
    already in the corpus" runs as: assign batch vectors to their
    nprobe nearest frozen cells, score candidates from the
    cell-bucketed index (never the corpus — same plan pins as
    :func:`ivf_topk_indexed`), threshold exactly.

    Candidate recall is bounded by the probed cells — the standard
    IVF trade, mirrored exactly by the driver oracle (which replays
    training + assignment + probing in SQL), so probe == recompute
    is provable rather than probabilistic.

    With ``storage="int8"`` cells: if the index keeps a rescore
    table, EVERY candidate re-scores exactly from it before the
    threshold (the pair-bounded join shuffles candidates; the
    neighbor-bucketed index side stays exchange-free) — thresholds
    are contracts, so they apply to exact similarities; without a
    rescore table the threshold applies to code-space cosine and the
    score column comes back as ``code_cosine_sim`` — NOT
    ``cosine_sim`` — so a consumer can never mistake the approximate
    similarity for an exact one (ADVICE r7 #2)."""
    nprobe = index.nprobe if nprobe is None else nprobe
    scored, q_vec = _ivf_candidate_scores(
        spark, queries, index, nprobe, id_col, vec_col
    )
    if index.storage == "int8" and index.rescore:
        full = spark.table(index.rescore_table)
        scored = (
            full.join(scored.select("query_id", "neighbor_id"), "neighbor_id")
            .join(F.broadcast(q_vec), "query_id")
            .select(
                "query_id",
                "neighbor_id",
                F.round(
                    cosine_expr(F.col("q_vec"), F.col("c_vec")),
                    index.round_dp,
                ).alias("cosine_sim"),
            )
        )
    out = scored.filter(F.col("cosine_sim") >= min_cosine).select(
        "query_id", "neighbor_id", "cosine_sim"
    )
    if index.storage == "int8" and not index.rescore:
        out = out.withColumnRenamed("cosine_sim", "code_cosine_sim")
    return out


def ivf_topk_indexed(
    spark,
    queries: DataFrame,
    index: IvfIndex,
    k: int = 5,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-``k`` cosine neighbors per query against the PERSISTED
    index — identical semantics to :func:`ivf_topk` with the same
    centroids over the concatenation of every indexed batch (cell
    assignment is a per-vector property of the frozen quantizer).
    The probe touches: the centroid table (bounded collect), the
    query vectors, and the bucketed cells of probed cells — never
    the corpus (candidate embeddings come from the index itself).

    With ``storage="int8"`` and no rescore table the ranking score
    is code-space cosine and comes back as ``code_cosine_sim`` —
    NOT ``cosine_sim`` — so consumers can't treat the approximate
    ranking score as exact (ADVICE r7 #2); with rescore the top-k′
    re-rank restores exact ``cosine_sim``."""
    nprobe = index.nprobe if nprobe is None else nprobe
    scored, q_vec = _ivf_candidate_scores(
        spark, queries, index, nprobe, id_col, vec_col
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    if index.storage == "int8" and index.rescore:
        # exact re-rank of the top-k′ int8 candidates: broadcast the
        # (queries · k′)-bounded candidate list against the
        # full-precision side table — index side reads only matching
        # buckets, no exchange of index rows
        k_prime = max(k, index.rescore_factor * k)
        cands = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k_prime)
            .select("query_id", "neighbor_id")
        )
        full = spark.table(index.rescore_table)
        scored = (
            full.join(F.broadcast(cands), "neighbor_id")
            .join(F.broadcast(q_vec), "query_id")
            .select(
                "query_id",
                "neighbor_id",
                F.round(
                    cosine_expr(F.col("q_vec"), F.col("c_vec")),
                    index.round_dp,
                ).alias("cosine_sim"),
            )
        )
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"),
                "neighbor_id", "cosine_sim")
    )
    if index.storage == "int8" and not index.rescore:
        out = out.withColumnRenamed("cosine_sim", "code_cosine_sim")
    return out


def temp_ivf_index(
    nprobe: int = 4,
    n_buckets: int = 8,
    round_dp: int = 6,
    storage: str = "float",
    rescore: bool = False,
    rescore_factor: int = 3,
) -> IvfIndex:
    """Uniquely-named tempdir-rooted index; context-manage it so the
    tables and tempdir drop on exit."""
    from openaq_data_pipeline_spark.tmproots import session_tmpdir

    return IvfIndex(
        name=f"ivf_idx_{_uuid.uuid4().hex}",
        nprobe=nprobe,
        round_dp=round_dp,
        n_buckets=n_buckets,
        location=session_tmpdir("ivf_index_"),
        storage=storage,
        rescore=rescore,
        rescore_factor=rescore_factor,
    )


# --- semantic dedup -----------------------------------------------------


def semantic_dedup(
    corpus: DataFrame,
    n_cells: int = 16,
    threshold: float = 0.9,
    train_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    max_cell_size: int | None = None,
    cent_rows=None,
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): k-means-cluster the
    embedding space, then prune near-duplicates WITHIN each cluster —
    the published recipe for semantic (not lexical) dedup at web
    scale, where all-pairs cosine is impossible but per-cluster
    pairs are bounded by the cluster size the quantizer was sized
    for (n_cells ≈ N / target_cell_size keeps the quadratic local
    and constant).

    Survivor policy is greedy keep-first (deterministic): a vector
    is a duplicate iff a LOWER-id member of its cell has rounded
    cosine ≥ ``threshold``; ``dup_of`` reports the lowest such id.
    This is intentionally not transitive-closure clustering — the
    SemDeDup paper keeps one representative per ε-ball greedily, and
    greediness is what keeps the oracle pure SQL (no iteration).

    Returns (id, cell_id, dup_of, kept, cell_overflow):
    - ``kept``: no lower-id near-twin in the cell → survivor.
    - ``cell_overflow``: with ``max_cell_size`` set, members ranked
      (by id) beyond the cap are EXCLUDED from pairwise comparison
      and pass through kept with the flag raised — the same
      observable-drop contract as the banded-index bucket caps
      (never silent, never quadratic past the budget).

    Plan shape: quantizer training (n_cells-bounded driver rows) →
    one map-side-argmax assignment shuffle → one cell-keyed
    self-join whose fan-out is Σ |cell|² — bounded by
    ``max_cell_size``² per cell — → one per-id min-aggregate.
    Reuses the IVF trainer; pass ``cent_rows`` (e.g. a persisted
    IvfIndex's frozen centroids, or a quantizer trained on a clean
    reference slice) to skip training — the standard shape when
    deduping a batch against an already-quantized space.
    """
    if cent_rows is None:
        cent_rows = ivf_train_centroids(
            corpus, n_cells, train_iters, id_col, vec_col, round_dp
        )
    assign = ivf_assign(corpus, cent_rows, id_col, vec_col, round_dp)
    # materialize once: the assignment (a 16-centroid cosine argmax
    # over the whole corpus) feeds BOTH self-join sides and the
    # output join — without the barrier Catalyst recomputes it three
    # times (measured 3x on the bench fixture)
    members = (
        corpus.select(id_col, vec_col)
        .join(assign, id_col)
        .localCheckpoint(eager=False)
    )
    if max_cell_size is not None:
        w = Window.partitionBy("cell_id").orderBy(F.col(id_col).asc())
        members = members.withColumn(
            "__cell_rank", F.row_number().over(w)
        ).withColumn(
            "cell_overflow", F.col("__cell_rank") > max_cell_size
        )
    else:
        members = members.withColumn("cell_overflow", F.lit(False))
    # per-vector norm ONCE (IEEE sqrt of an index-ordered fold — the
    # identical value the per-pair cosine would recompute |cell| - 1
    # times), so each pair costs one dot product
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    inpair = members.filter(~F.col("cell_overflow")).select(
        F.col(id_col),
        F.col("cell_id"),
        dvec.alias("__dv"),
        F.sqrt(_fold_sum(F.transform(dvec, lambda x: x * x))).alias("__nrm"),
    )
    a = inpair.select(
        F.col(id_col).alias("__a_id"),
        F.col("cell_id"),
        F.col("__dv").alias("__a_vec"),
        F.col("__nrm").alias("__a_nrm"),
    )
    b = inpair.select(
        F.col(id_col).alias("__b_id"),
        F.col("cell_id"),
        F.col("__dv").alias("__b_vec"),
        F.col("__nrm").alias("__b_nrm"),
    )
    dot = _fold_sum(
        F.zip_with(F.col("__a_vec"), F.col("__b_vec"), lambda x, y: x * y)
    )
    dup = (
        a.join(b, "cell_id")
        .where(F.col("__b_id") < F.col("__a_id"))
        .where(
            F.round(dot / (F.col("__a_nrm") * F.col("__b_nrm")), round_dp)
            >= F.lit(threshold)
        )
        .groupBy("__a_id")
        .agg(F.min("__b_id").alias("dup_of"))
    )
    return (
        members.join(dup, members[id_col] == dup["__a_id"], "left")
        .select(
            F.col(id_col),
            F.col("cell_id").cast("long").alias("cell_id"),
            F.col("dup_of"),
            F.col("dup_of").isNull().alias("kept"),
            F.col("cell_overflow"),
        )
    )


# --- product quantization (PQ) ANN -------------------------------------
#
# Jégou et al. 2011, "Product Quantization for Nearest Neighbor
# Search": split each vector into m subvectors, learn a tiny
# codebook per subspace, store each vector as m small code ids —
# 64-dim float32 (256 B) becomes 8 one-byte codes (32×), and
# distances compute from per-query lookup tables without touching
# raw vectors (asymmetric distance computation, ADC). This is the
# memory-scale path past int8: the int8 cells cut 4×, PQ cuts 32×.
#
# Engine determinism contract (same machinery as the IVF trainer):
# - per-(subvector, code) distance is ||u||² − 2·u·c + ||c||², each
#   term an index-ordered fold — the identical expression tree in
#   any engine;
# - assignment argmin on round(d², 6), ties to the lowest code id;
# - codebook updates are exact quantized means (sum of
#   round(x·10⁶) as BIGINT — order-free — divided once);
# - ADC scores are BIGINT sums of round(d²·10⁶) lookup entries —
#   order-free, hash-exact against a SQL oracle.


def _expl_subvectors(
    df: DataFrame, id_col: str, vec_col: str, m: int, dsub: int
) -> DataFrame:
    """(id, sub_id, u) — one row per (vector, subspace)."""
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub_id"),
                F.slice(
                    F.transform(F.col(vec_col), lambda x: x.cast("double")),
                    s * dsub + 1,
                    dsub,
                ).alias("u"),
            )
            for s in range(m)
        ]
    )
    return df.select(
        F.col(id_col), F.explode(subs).alias("__s")
    ).select(F.col(id_col), F.col("__s.sub_id"), F.col("__s.u").alias("u"))


def _books_df(spark, book_rows):
    """book_rows: list of (sub_id, code_id, [floats]) → broadcastable
    codebook DataFrame with the squared norm precomputed."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("sub_id", IntegerType()),
            StructField("code_id", IntegerType()),
            StructField("c", ArrayType(DoubleType())),
        ]
    )
    df = spark.createDataFrame(
        [(int(s), int(c), [float(x) for x in v]) for s, c, v in book_rows],
        schema,
    )
    return df.withColumn(
        "cc", _fold_sum(F.transform(F.col("c"), lambda x: x * x))
    )


def _books_arr_df(spark, book_rows, m: int) -> DataFrame:
    """ONE-row (``__books``: array over sub_id of
    array<struct<code_id, c, cc>>) variant of :func:`_books_df` for
    the r16 attach-and-scan encode path (the PQ analogue of
    :func:`_cents_arr_df`): codebooks ride a single broadcast row,
    assignment argmin is a per-row array transform — no ×ksub join
    expansion, no per-(vector, subspace) groupBy. ``cc`` (the
    squared norm) is computed with the same fold expression as
    :func:`_books_df`, so distances stay bit-identical."""
    by_sub: list[list[tuple[int, list[float]]]] = [[] for _ in range(m)]
    for s, c, v in book_rows:
        by_sub[int(s)].append((int(c), [float(x) for x in v]))
    for entries in by_sub:
        entries.sort()
    base = spark.createDataFrame(
        [(by_sub,)],
        "__b0 array<array<struct<code_id:int,c:array<double>>>>",
    )
    return base.select(
        F.transform(
            F.col("__b0"),
            lambda bs: F.transform(
                bs,
                lambda s: F.struct(
                    s["code_id"].alias("code_id"),
                    s["c"].alias("c"),
                    _fold_sum(
                        F.transform(s["c"], lambda x: x * x)
                    ).alias("cc"),
                ),
            ),
        ).alias("__books")
    )


def _pq_best_code_col(u_col, sub_id_col, round_dp) -> F.Column:
    """struct<d2, code_id> — the argmin PQ code of one subvector
    against the attached ``__books`` row (ties → lowest code id,
    exactly the old ``min(struct(d2, code_id))`` aggregate)."""
    cands = F.transform(
        F.element_at(F.col("__books"), sub_id_col + 1),
        lambda s: F.struct(
            F.round(_d2(u_col, s["c"], s["cc"]), round_dp).alias("d2"),
            s["code_id"].alias("code_id"),
        ),
    )
    return F.array_min(cands)


def _d2(u_col, c_col, cc_col):
    uu = _fold_sum(F.transform(u_col, lambda x: x * x))
    uc = _fold_sum(F.zip_with(u_col, c_col, lambda x, y: x * y))
    return uu - 2 * uc + cc_col


def pq_train_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    n_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    round_dp: int = 6,
    q_scale: int = IVF_Q_SCALE,
    init_rows=None,
) -> list[tuple[int, int, list[float]]]:
    """Deterministic per-subspace Lloyd, ALL subspaces trained in one
    pass per iteration (the exploded (vector, subspace) stream is one
    corpus-sized scan; assignment argmin and the quantized-mean
    update are two partial-aggregable aggregates over it — m never
    multiplies the number of jobs). Init: code j of every subspace =
    the j-th lowest-id vector's subvector. Empty codes keep their
    previous centroid. Returns (sub_id, code_id, centroid) rows —
    m·ksub·dsub floats, watermark-class driver state."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    spark = corpus.sparkSession
    if init_rows is None:
        init_rows = (
            corpus.select(id_col, vec_col)
            .orderBy(F.col(id_col))
            .limit(ksub)
            .collect()
        )
    seed = init_rows[:ksub]
    book_rows = [
        (s, j, [float(x) for x in r[1]][s * dsub : (s + 1) * dsub])
        for j, r in enumerate(seed)
        for s in range(m)
    ]
    expl = _expl_subvectors(corpus, id_col, vec_col, m, dsub)
    for _ in range(n_iters):
        # r16 shape (mirrors ivf_train_centroids): assignment is the
        # attach-and-argmin PROJECTION over the attached one-row
        # codebook (no ×ksub join expansion, no per-(vector, sub)
        # groupBy), the quantized-mean update is ONE groupBy(sub,
        # code) with dsub static SUM columns, and the collect stays
        # m·ksub-bounded. Arithmetic unchanged — same rounded d²
        # argmin, same exact integer sums, same IEEE division.
        qu = F.transform(
            F.col("u"), lambda x: F.round(x * q_scale, 0).cast("long")
        )
        best = _pq_best_code_col(F.col("u"), F.col("sub_id"), round_dp)
        assigned = expl.crossJoin(
            F.broadcast(_books_arr_df(spark, book_rows, m))
        ).select(
            F.col("sub_id"),
            best["code_id"].alias("code_id"),
            qu.alias("__q"),
        )
        agg_rows = (
            assigned.groupBy("sub_id", "code_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(F.element_at(F.col("__q"), d + 1)).alias(f"s{d}")
                    for d in range(dsub)
                ],
            )
            .collect()
        )
        got = {
            (int(r["sub_id"]), int(r["code_id"])): [
                float(r[f"s{d}"]) / (float(r["n"]) * float(q_scale))
                for d in range(dsub)
            ]
            for r in agg_rows
        }
        book_rows = [
            (s, c, got.get((s, c), vec)) for s, c, vec in book_rows
        ]
    return book_rows


def pq_encode(
    corpus: DataFrame,
    book_rows,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """(id, sub_id, code_id) — each vector's m PQ codes under the
    frozen codebooks (assignment argmin, ties → lowest code). Stored
    as rows, the shape the ADC join consumes directly; a columnar
    sink packs them to m bytes/vector."""
    dsub = dim // m
    # r16: attach-and-argmin projection (see _pq_best_code_col) — the
    # ×ksub broadcast-join expansion and the per-(vector, subspace)
    # argmin groupBy (a corpus-sized shuffle at scale) are gone
    expl = _expl_subvectors(corpus, id_col, vec_col, m, dsub)
    best = _pq_best_code_col(F.col("u"), F.col("sub_id"), round_dp)
    return expl.crossJoin(
        F.broadcast(_books_arr_df(corpus.sparkSession, book_rows, m))
    ).select(
        F.col(id_col), "sub_id", best["code_id"].alias("code_id")
    )


def pq_topk_adc(
    queries: DataFrame,
    codes: DataFrame,
    book_rows,
    k: int = 5,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    adc_scale: int = IVF_Q_SCALE,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """(query_id, rank, neighbor_id, adc_fp) — top-k by ASYMMETRIC
    distance: per query a lookup table of |Q|·m·ksub quantized
    subdistances (round(d²·10⁶) as BIGINT) broadcasts into the code
    rows; the candidate distance is the order-free integer sum of m
    lookups — raw corpus vectors are never read at query time (the
    whole point of PQ). Ascending rank, ties → lowest neighbor,
    self-hits excluded. Per-query cost is O(N·m) lookups — the flat-
    ADC scan of the paper; production composes this with the IVF
    cell index (IVF-PQ) so N shrinks to the probed cells first."""
    dsub = dim // m
    spark = queries.sparkSession
    books = _books_df(spark, book_rows)
    qexpl = _expl_subvectors(
        queries.select(F.col(id_col).alias("query_id"), vec_col),
        "query_id",
        vec_col,
        m,
        dsub,
    )
    lut = qexpl.join(F.broadcast(books), "sub_id").select(
        F.col("query_id"),
        "sub_id",
        "code_id",
        F.round(_d2(F.col("u"), F.col("c"), F.col("cc")) * adc_scale, 0)
        .cast("long")
        .alias("d2_int"),
    )
    code_rows = codes.withColumnRenamed(id_col, "neighbor_id")
    if candidates is not None:
        # IVF-PQ: prune the flat O(N·m) ADC scan to the candidate
        # (query, neighbor) pairs of a coarse index probe BEFORE the
        # LUT join — cost becomes O(|candidates|·m)
        code_rows = code_rows.join(
            F.broadcast(candidates.select("query_id", "neighbor_id")),
            "neighbor_id",
        )
    join_keys = ["sub_id", "code_id"] + (
        ["query_id"] if candidates is not None else []
    )
    scored = (
        code_rows.join(F.broadcast(lut), join_keys)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.sum("d2_int").alias("adc_fp"),
            F.count(F.lit(1)).alias("__nsub"),
        )
        # a vector missing any subspace row would fake a small
        # distance; codes tables are complete by construction, but
        # the guard keeps a torn append observable
        .where(F.col("__nsub") == m)
        .drop("__nsub")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_fp").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "adc_fp")
    )


def ivf_pq_topk(
    spark,
    queries: DataFrame,
    index: IvfIndex,
    codes: DataFrame,
    book_rows,
    k: int = 5,
    nprobe: int | None = None,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ (the composed production topology of Jégou et al.
    2011 §V): the persisted IVF index's coarse quantizer prunes
    candidates to the ``nprobe`` probed cells, and PQ's asymmetric
    distance ranks ONLY those — per-query cost drops from O(N·m)
    flat-ADC lookups to O(candidates·m), and neither step reads a
    raw corpus vector (cells carry membership, codes carry the
    bytes). Both halves are the already-tested primitives composed:
    `ivf_probe_cells` against the frozen centroid table, then
    :func:`pq_topk_adc` restricted by the candidate pairs."""
    nprobe = index.nprobe if nprobe is None else nprobe
    cent_rows = _index_centroid_rows(spark, index)
    probes = ivf_probe_cells(
        queries.select(F.col(id_col), F.col(vec_col)),
        cent_rows,
        nprobe,
        id_col,
        vec_col,
        index.round_dp,
    )
    cand = (
        spark.table(index.cells_table)
        .select("neighbor_id", "cell_id")
        .join(F.broadcast(probes), "cell_id")
        .select("query_id", "neighbor_id")
    )
    return pq_topk_adc(
        queries,
        codes,
        book_rows,
        k=k,
        m=m,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
        candidates=cand,
    )


# --- persisted PQ index handle (r9: VERDICT r8 next #2) ------------------


@_dataclass
class PqIndex:
    """Handle for PERSISTED product-quantization artifacts — the
    missing index handle of the r8 ANN tier. Before this, `pq_encode`
    codes and codebooks were caller-managed DataFrames, which meant a
    user-persisted codes table sat OUTSIDE the engine's takedown and
    compaction guarantees (VERDICT r8 "What's wrong" #1: README
    promises retraction reaches EVERY table of an index handle). Two
    tables, following the :class:`IvfIndex` conventions exactly:

    - ``{name}_codes`` — (neighbor_id, sub_id, code_id): m rows per
      indexed vector, BUCKETED on ``neighbor_id`` so
      ``bucketed_tables_of`` (and therefore ``compact_index`` and
      ``retract_documents``) cover it for free, and so the IVF-PQ
      candidate join arrives bucket-aligned.
    - ``{name}_codebooks`` — (sub_id, code_id, c): the FROZEN
      per-subspace Lloyd codebooks (m·ksub rows, model state like
      the IVF centroid table — excluded from compaction/retraction
      by the non-bucketed-side-table rule). Appends encode against
      these exact codebooks, which is what makes indexed-vs-inline
      equivalence provable; re-training on append would be a
      re-index, not an append.
    """

    name: str
    m: int = 8
    ksub: int = 16
    dim: int = 64
    round_dp: int = 6
    n_buckets: int = 8
    location: str | None = None

    @property
    def codes_table(self) -> str:
        return f"{self.name}_codes"

    @property
    def codebooks_table(self) -> str:
        return f"{self.name}_codebooks"

    def _path(self, suffix: str) -> str | None:
        return f"{self.location}/{suffix}" if self.location else None

    def drop(self, spark=None) -> None:
        """No-residue contract, as the other persisted indexes."""
        import shutil

        from pyspark.sql import SparkSession

        spark = spark or SparkSession.getActiveSession()
        if spark is not None:
            for t in (self.codes_table, self.codebooks_table):
                spark.sql(f"DROP TABLE IF EXISTS {t}")
        if self.location:
            shutil.rmtree(self.location, ignore_errors=True)

    def __enter__(self) -> "PqIndex":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self.drop()


def _index_book_rows(spark, index: PqIndex):
    """Bounded collect of the frozen codebooks (m·ksub rows)."""
    return sorted(
        (int(r["sub_id"]), int(r["code_id"]), [float(x) for x in r["c"]])
        for r in spark.table(index.codebooks_table).collect()
    )


def build_pq_index(
    corpus: DataFrame,
    index: PqIndex,
    n_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Train the per-subspace codebooks on ``corpus``
    (:func:`pq_train_codebooks`), persist them, encode every corpus
    vector and persist the code rows bucketed on ``neighbor_id``."""
    spark = corpus.sparkSession
    book_rows = pq_train_codebooks(
        corpus,
        m=index.m,
        ksub=index.ksub,
        n_iters=n_iters,
        id_col=id_col,
        vec_col=vec_col,
        dim=index.dim,
        round_dp=index.round_dp,
    )
    books = spark.createDataFrame(
        [(int(s), int(c), [float(x) for x in v]) for s, c, v in book_rows],
        "sub_id int, code_id int, c array<double>",
    )
    w = books.write.mode("overwrite").format("parquet")
    if index.location:
        w = w.option("path", index._path("codebooks"))
    w.saveAsTable(index.codebooks_table)
    spark.catalog.refreshTable(index.codebooks_table)
    _append_codes(corpus, index, book_rows, id_col, vec_col, mode="overwrite")


def append_pq_index(
    batch: DataFrame,
    index: PqIndex,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Encode a new batch against the FROZEN codebooks and append its
    code rows (ids globally unique — caller's contract)."""
    book_rows = _index_book_rows(batch.sparkSession, index)
    _append_codes(batch, index, book_rows, id_col, vec_col, mode="append")


def _append_codes(
    batch: DataFrame, index: PqIndex, book_rows, id_col, vec_col, mode: str
) -> None:
    from openaq_data_pipeline_spark.sources.tables import save_bucketed

    codes = pq_encode(
        batch,
        book_rows,
        m=index.m,
        dim=index.dim,
        id_col=id_col,
        vec_col=vec_col,
        round_dp=index.round_dp,
    ).withColumnRenamed(id_col, "neighbor_id")
    save_bucketed(
        codes,
        index.codes_table,
        "neighbor_id",
        index.n_buckets,
        mode=mode,
        path=index._path("codes"),
    )


def pq_topk_indexed(
    spark,
    queries: DataFrame,
    index: PqIndex,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    adc_scale: int = IVF_Q_SCALE,
) -> DataFrame:
    """Flat-ADC top-k against the persisted index: codebooks and code
    rows come from the index tables; the corpus is never read (the
    torn-append ``__nsub == m`` guard of :func:`pq_topk_adc`
    applies unchanged)."""
    return pq_topk_adc(
        queries,
        spark.table(index.codes_table),
        _index_book_rows(spark, index),
        k=k,
        m=index.m,
        dim=index.dim,
        id_col=id_col,
        vec_col=vec_col,
        adc_scale=adc_scale,
    )


def ivf_pq_topk_indexed(
    spark,
    queries: DataFrame,
    ivf_index: IvfIndex,
    pq_index: PqIndex,
    k: int = 5,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ where BOTH halves are persisted handles: the IVF coarse
    quantizer prunes to the probed cells, PQ ADC ranks only those —
    and a takedown (`retract_documents`) against either handle
    scrubs the corresponding rows, closing the r8 gap where PQ codes
    escaped the guarantee."""
    return ivf_pq_topk(
        spark,
        queries,
        ivf_index,
        spark.table(pq_index.codes_table),
        _index_book_rows(spark, pq_index),
        k=k,
        nprobe=nprobe,
        m=pq_index.m,
        dim=pq_index.dim,
        id_col=id_col,
        vec_col=vec_col,
    )


def temp_pq_index(
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    n_buckets: int = 8,
) -> PqIndex:
    """A uniquely-named tempdir-rooted PQ index, for self-contained
    queries/tests; use as a context manager (no-residue contract)."""
    from openaq_data_pipeline_spark.tmproots import session_tmpdir

    return PqIndex(
        name=f"pq_idx_{_uuid.uuid4().hex}",
        m=m,
        ksub=ksub,
        dim=dim,
        n_buckets=n_buckets,
        location=session_tmpdir("pq_index_"),
    )


# --- fused IVFADC layout (r9): codes bucketed BY CELL ---------------------


def build_ivf_pq_index(
    corpus: DataFrame,
    ivf_index: IvfIndex,
    pq_index: PqIndex,
    n_cells: int = 16,
    train_iters: int = 1,
    n_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple:
    """Build BOTH halves of the production IVFADC topology (Jégou et
    al. 2011 §V) with the storage layout that makes the probe cheap
    at 100 TB: the PQ code rows CARRY their IVF cell assignment and
    the codes table buckets on ``cell_id`` — so a probe's
    ``cell_id IN (probed)`` literal prunes the code SCAN itself
    (bucket pruning, ``SelectedBucketsCount`` in the plan) instead of
    reading every code row and discarding most at the join (the
    two-independent-handles composition, which stays available for
    callers that built the handles separately). Retraction and
    compaction coverage is unchanged — ``neighbor_id`` remains a
    recognized id column whatever the bucket key."""
    from concurrent.futures import ThreadPoolExecutor

    spark = corpus.sparkSession
    # r16 (guide §2.6 overlap independent jobs): the IVF side and the
    # PQ side share no state beyond the corpus and the init seed, so
    # they run as concurrent driver threads. The init seed (lowest-id
    # vectors) is collected ONCE and serves both trainings.
    # r17: the overlap is finer-grained — IVF *training* is split
    # from the IVF *table writes*, so the three corpus-scanning
    # writes (cells assignment, PQ codes, and the codebook/centroid
    # bookkeeping) overlap each other instead of the codes write
    # waiting serially for the whole IVF side: as soon as cent_rows
    # exist, the cells write (thread) and the fused codes write
    # (main thread) proceed concurrently. Still core-count-
    # independent — at most 3 jobs in flight.
    init_rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.col(id_col))
        .limit(max(n_cells, pq_index.ksub))
        .collect()
    )

    def pq_side():
        book_rows = pq_train_codebooks(
            corpus, m=pq_index.m, ksub=pq_index.ksub, n_iters=n_iters,
            id_col=id_col, vec_col=vec_col, dim=pq_index.dim,
            round_dp=pq_index.round_dp, init_rows=init_rows,
        )
        books = spark.createDataFrame(
            [
                (int(s), int(c), [float(x) for x in v])
                for s, c, v in book_rows
            ],
            "sub_id int, code_id int, c array<double>",
        )
        w = books.write.mode("overwrite").format("parquet")
        if pq_index.location:
            w = w.option("path", pq_index._path("codebooks"))
        w.saveAsTable(pq_index.codebooks_table)
        spark.catalog.refreshTable(pq_index.codebooks_table)
        return book_rows

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_cents = pool.submit(
            _ivf_seed_or_train,
            corpus, n_cells, train_iters, id_col, vec_col,
            ivf_index.round_dp, init_rows,
        )
        f_pq = pool.submit(pq_side)
        f_ivf_tables = pool.submit(
            lambda: _ivf_write_tables(
                corpus, ivf_index, f_cents.result(), id_col, vec_col
            )
        )
        cent_rows = f_cents.result()
        book_rows = f_pq.result()
        _append_cell_codes(
            corpus, ivf_index, pq_index, book_rows, id_col, vec_col,
            mode="overwrite", cent_rows=cent_rows,
        )
        f_ivf_tables.result()
    return cent_rows, book_rows


def append_ivf_pq_index(
    batch: DataFrame,
    ivf_index: IvfIndex,
    pq_index: PqIndex,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a batch to both halves under the frozen quantizer AND
    frozen codebooks (ids globally unique — caller's contract)."""
    append_ivf_index(batch, ivf_index, id_col=id_col, vec_col=vec_col)
    book_rows = _index_book_rows(batch.sparkSession, pq_index)
    _append_cell_codes(
        batch, ivf_index, pq_index, book_rows, id_col, vec_col,
        mode="append",
    )


def _append_cell_codes(
    batch: DataFrame, ivf_index: IvfIndex, pq_index: PqIndex,
    book_rows, id_col, vec_col, mode: str,
    cent_rows=None,
) -> None:
    from openaq_data_pipeline_spark.sources.tables import save_bucketed

    spark = batch.sparkSession
    if cent_rows is None:
        cent_rows = _index_centroid_rows(spark, ivf_index)
    # r16: ONE pass — the cell assignment (attach-and-argmax
    # projection) rides the same scan that explodes the subvectors
    # and argmin-encodes them, so the old corpus×corpus
    # codes⋈assignment equi-join (a full shuffle of the codes at
    # scale) is gone. Column set and values are unchanged.
    dsub = pq_index.dim // pq_index.m
    with_cell = _attach_ivf_cands(
        batch.select(F.col(id_col), F.col(vec_col)),
        cent_rows, vec_col, ivf_index.round_dp,
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col),
        (-F.array_max(F.col("__cands"))["negcell"]).alias("cell_id"),
    )
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub_id"),
                F.slice(
                    F.transform(F.col(vec_col), lambda x: x.cast("double")),
                    s * dsub + 1,
                    dsub,
                ).alias("u"),
            )
            for s in range(pq_index.m)
        ]
    )
    rows = (
        with_cell.crossJoin(
            F.broadcast(_books_arr_df(spark, book_rows, pq_index.m))
        )
        .select(
            F.col("neighbor_id"),
            F.col("cell_id"),
            F.col("__books"),
            F.explode(subs).alias("__s"),
        )
        .select(
            "neighbor_id",
            F.col("__s.sub_id").alias("sub_id"),
            _pq_best_code_col(
                F.col("__s.u"), F.col("__s.sub_id"), pq_index.round_dp
            )["code_id"].alias("code_id"),
            "cell_id",
        )
    )
    save_bucketed(
        rows,
        pq_index.codes_table,
        "cell_id",
        pq_index.n_buckets,
        mode=mode,
        path=pq_index._path("codes"),
    )


def ivf_pq_topk_cellpruned(
    spark,
    queries: DataFrame,
    ivf_index: IvfIndex,
    pq_index: PqIndex,
    k: int = 5,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_rows=None,
    book_rows=None,
) -> DataFrame:
    """IVFADC probe over the fused layout: the probed cell ids (≤
    nprobe·n_cells distinct values — a bounded collect, like the
    centroid table itself) become a LITERAL IN-filter on the codes
    table's bucket key, so the scan reads only the probed buckets;
    candidates then pair bucket-locally and rank by the same ADC
    integer sum. Output ≡ :func:`ivf_pq_topk_indexed` ≡ the inline
    composition (pinned by test).

    ``cent_rows``/``book_rows`` (r17, guide §2.6): a composite
    builder that just trained the index already holds both bounded
    row sets; passing them skips the two table re-collect jobs. The
    values must be the frozen handles' contents (what
    ``_index_centroid_rows``/``_index_book_rows`` would return — the
    build functions return exactly these); defaults re-fetch from
    the persisted tables."""
    nprobe = ivf_index.nprobe if nprobe is None else nprobe
    # r16 (guide §2.6): the two persisted-handle reads are
    # independent — fetch the PQ codebooks concurrently with the
    # centroid fetch + probe-cells collect. r17: the probes plane is
    # a pure projection since the r16 attach-and-scan rework, so its
    # eager checkpoint job is gone — the broadcast build and the
    # distinct-cells collect each evaluate the cheap projection
    # directly (one fewer Spark job in the probe chain).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        f_books = (
            pool.submit(_index_book_rows, spark, pq_index)
            if book_rows is None
            else None
        )
        if cent_rows is None:
            cent_rows = _index_centroid_rows(spark, ivf_index)
        probes = ivf_probe_cells(
            queries.select(F.col(id_col), F.col(vec_col)),
            cent_rows, nprobe, id_col, vec_col, ivf_index.round_dp,
        )
        probe_cells = sorted(
            int(r["cell_id"])
            for r in probes.select("cell_id").distinct().collect()
        )
        if f_books is not None:
            book_rows = f_books.result()
    codes = spark.table(pq_index.codes_table).where(
        F.col("cell_id").isin(probe_cells)
    )
    cand = (
        codes.select("neighbor_id", "cell_id")
        .join(F.broadcast(probes), "cell_id")
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return pq_topk_adc(
        queries,
        codes.drop("cell_id"),
        book_rows,
        k=k,
        m=pq_index.m,
        dim=pq_index.dim,
        id_col=id_col,
        vec_col=vec_col,
        candidates=cand,
    )
