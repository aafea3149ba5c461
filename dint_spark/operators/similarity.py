"""Similarity search over an embedding column (array<float>).

Brute-force cosine top-k as the exact baseline; random-hyperplane LSH
bucketing as the scale path (bucket equi-join instead of a cross join —
at 10^12 vectors the cross join is impossible; LSH buckets shuffle-join
and AQE handles bucket skew). Dot products are native
F.zip_with/F.aggregate column expressions in float64 — no UDF, fully
codegen'd.

All constants are fixed literals mirrored in the DuckDB oracle, so the
approximate operator is still exactly reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

DIM = 64
# The plane count is always AUTO-sized: np = clamp(ceil(log2(N / 128)),
# 1, 62), derived RELATIONALLY from the vector count, so bucket
# population stays ≈ TARGET_BUCKET at any scale (10^12 vectors → ~33
# planes → ~2^33 buckets of ~128) with no operator retuning. The oracle
# SQL computes the identical np from the same count
# (sqlgen_pipeline._NPLANES_CTE) — auto-sizing stays hash-reproducible.
# The planes are a deterministic function of (plane index, dimension)
# alone, so ANY np is reproducible.
TARGET_BUCKET = 128
# Deterministic integer "hyperplanes": component (j, d) =
# ((1103515245·(j·DIM+d) + 12345) mod 2000001) − 1000000  ∈ [−1e6, 1e6]
PLANE_MULT = 1103515245
PLANE_ADD = 12345
PLANE_MOD = 2000001
PLANE_SHIFT = 1000000

DEFAULT_QUERY_IDS = [0, 1, 2, 3, 4]


def _as_double(embeddings: DataFrame) -> DataFrame:
    return embeddings.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine_topk(
    embeddings: DataFrame, query_ids: list[int] | None = None, k: int = 10
) -> DataFrame:
    """(query_vec, vec_id, cosine, rank) — exact brute-force top-k.

    Ties broken by vec_id ASC after rounding to 6 decimals (oracle
    parity); the query vector itself is excluded.
    """
    if query_ids is None:
        query_ids = DEFAULT_QUERY_IDS
    e = _as_double(embeddings)
    q = e.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_vec"), F.col("v").alias("qv")
    )
    pairs = F.broadcast(q).crossJoin(e).filter(F.col("vec_id") != F.col("query_vec"))
    scored = pairs.select(
        "query_vec",
        "vec_id",
        F.round(_dot("qv", "v") / (_norm("qv") * _norm("v")), 6).alias("cosine"),
    )
    w = W.partitionBy("query_vec").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_vec", "vec_id", "cosine", "rank")
    )


def lsh_bucket(embeddings: DataFrame) -> DataFrame:
    """(vec_id, bucket) — random-hyperplane signature.

    sign bit j = 1 iff Σ_d v[d]·plane(j,d) > 0. Native expressions only.

    The plane count AUTO-sizes from the vector count:
    np = clamp(ceil(log2(N / TARGET_BUCKET)), 1, 62), computed as a
    COLUMN from a broadcast count aggregate — no driver action, and the
    same arithmetic runs in the DuckDB oracle. Expected bucket
    population ≈ TARGET_BUCKET at every scale.
    """
    e = _as_double(embeddings)
    n_df = embeddings.agg(F.count("*").cast("long").alias("_n"))
    e = e.crossJoin(F.broadcast(n_df)).withColumn(
        "_np",
        F.least(
            F.lit(62),
            F.greatest(
                F.lit(1),
                F.ceil(F.log2(F.col("_n") / F.lit(float(TARGET_BUCKET)))),
            ),
        ).cast("int"),
    )
    # nested higher-order functions: outer aggregate over plane index jj,
    # inner zip_with/aggregate compute the projection; unique lambda
    # variable names avoid Spark's nested-lambda name-conflict rule
    bucket = F.expr(
        "aggregate(sequence(0, _np - 1), cast(0 as bigint), (accb, jj) -> "
        "accb + (CASE WHEN aggregate(zip_with(v, sequence(0, {dmax}), (xv, dd) -> "
        "xv * (((CAST({m} AS BIGINT) * (jj * {dim} + dd) + {a}) % {mod}) - {sh})), "
        "cast(0.0 as double), (accp, xp) -> accp + xp) > 0 "
        "THEN shiftleft(cast(1 as bigint), jj) ELSE cast(0 as bigint) END))".format(
            dmax=DIM - 1,
            m=PLANE_MULT,
            dim=DIM,
            a=PLANE_ADD,
            mod=PLANE_MOD,
            sh=PLANE_SHIFT,
        )
    )
    return e.select("vec_id", bucket.alias("bucket"), "v")


def ann_lsh_topk(
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 10,
) -> DataFrame:
    """(query_vec, vec_id, cosine, rank) — approximate top-k within the
    query's LSH bucket (bucket equi-join = the 10^12-vector plan shape).

    Deterministic (fixed planes) → exactly reproducible by the SQL
    oracle; recall vs cosine_topk is measured in tests, not assumed.
    """
    if query_ids is None:
        query_ids = DEFAULT_QUERY_IDS
    b = lsh_bucket(embeddings)
    q = b.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_vec"), F.col("bucket"), F.col("v").alias("qv")
    )
    cands = F.broadcast(q).join(b, "bucket").filter(F.col("vec_id") != F.col("query_vec"))
    scored = cands.select(
        "query_vec",
        "vec_id",
        F.round(_dot("qv", "v") / (_norm("qv") * _norm("v")), 6).alias("cosine"),
    )
    w = W.partitionBy("query_vec").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_vec", "vec_id", "cosine", "rank")
    )
