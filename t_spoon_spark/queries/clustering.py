"""Embedding clustering: Lloyd's k-means with deterministic
initialization and exact integer arithmetic — the corpus-organization
step (topic bucketing, dedup blocking, mixture balancing) that follows
embedding extraction in a training-data pipeline.

Why it can be oracle-gated at all: embeddings are fixed-point scaled
(the similarity operators' convention), squared-L2 distances are exact
BIGINT sums, the argmin tiebreak is total (distance, then centroid id),
and centroid updates use integer division of exact sums — so every
iteration is bit-identical across engines and partition orders, which
float k-means never is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from t_spoon_spark.queries.relational import t
from t_spoon_spark.registry import register

KM_K = 8
KM_ITERS = 3
KM_DIM = 64

# CAST(x AS DOUBLE) before scaling: the parquet column is float32 and
# DuckDB otherwise multiplies IN float32, where e.g. -0.2345f * 1000
# rounds to exactly -234.5 and floors to -234 — while Spark's
# int_embedding(in_double=True) computes the product in double, where it
# is -234.0000006 and floors to -235.  Boundary components exist at sf0.1
# (vec 1687 dim 39, vec 1879 dim 17) and diverged the kmeans inertia
# until round 10; tests/test_fixed_point_boundaries.py keeps the other
# embedding-oracle strings honest at the gate SFs.
_DD_EI = (
    "list_transform(embedding, "
    "x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))"
)
_DD_DIST = (
    "list_sum(list_transform(range(1, {dim} + 1), "
    "k -> (e.ei[k] - c.ce[k]) * (e.ei[k] - c.ce[k])))".format(dim=KM_DIM)
)


def _dd_kmeans_sql() -> str:
    """Unrolled {KM_ITERS}-iteration Lloyd oracle: assignment CTE +
    centroid-update CTE per iteration, generated by the same loop shape
    the Spark side runs."""
    ctes = [
        f"base AS (SELECT vec_id, {_DD_EI} AS ei FROM embeddings)",
        f"""c0 AS (
          SELECT vec_id AS cid, ei AS ce FROM base WHERE vec_id < {KM_K}
        )""",
    ]
    for i in range(KM_ITERS):
        ctes.append(
            f"""a{i} AS (
              SELECT vec_id, ei, cid, dist FROM (
                SELECT e.vec_id, e.ei, c.cid, {_DD_DIST} AS dist,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                          ORDER BY {_DD_DIST}, c.cid) AS rn
                FROM base e CROSS JOIN c{i} c
              ) WHERE rn = 1
            )"""
        )
        ctes.append(
            f"""c{i + 1} AS (
              SELECT cid, list(m ORDER BY pos) AS ce FROM (
                SELECT a.cid, r.pos,
                       CAST(SUM(a.ei[r.pos]) // COUNT(*) AS BIGINT) AS m
                FROM a{i} a, LATERAL unnest(range(1, {KM_DIM} + 1)) AS r(pos)
                GROUP BY a.cid, r.pos
              ) GROUP BY cid
            )"""
        )
    final = f"""afinal AS (
      SELECT vec_id, cid, dist FROM (
        SELECT e.vec_id, c.cid, {_DD_DIST} AS dist,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_DD_DIST}, c.cid) AS rn
        FROM base e CROSS JOIN c{KM_ITERS} c
      ) WHERE rn = 1
    )"""
    ctes.append(final)
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
    SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_assigned,
           CAST(SUM(dist) AS BIGINT) AS inertia
    FROM afinal
    GROUP BY cid
    ORDER BY cid
    """
    )


def _dist(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _assign(base: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: all K centroids ride ONE broadcast
    row as an array of (cid, ce) structs and the argmin per vector is
    `array_min` over per-centroid (dist, cid) structs — struct ordering
    IS the (dist, cid) total tiebreak, and collect_list's element order
    cannot matter because the minimum is unique under that order.

    Optimization r15 (guide §2.4): the previous shape cross-joined the
    K centroid ROWS (a kx row expansion, each copy carrying the 64-dim
    vector) and ranked with row_number() over (partition by vec_id) —
    a full-corpus Exchange + Sort per iteration.  This shape shuffles
    NOTHING: one broadcast nested-loop join of a single row, then
    per-row JVM expressions.  The distance math stays on the
    zip_with/aggregate HOF path (data x data — the flat-SQL form
    measured 4x slower, r14 §5) and the plan stays PARAMETERIZED (the
    broadcast carries data, not literals), so whole-stage codegen
    compiles once and is reused across iterations — the
    literal-centroid variant r14 rejected recompiled every iteration
    (3.5x slower)."""
    cents_row = cents.agg(F.collect_list(F.struct("cid", "ce")).alias("cs"))
    best = F.array_min(
        F.transform(
            "cs",
            lambda c: F.struct(
                _dist(F.col("ei"), c["ce"]).alias("dist"), c["cid"].alias("cid")
            ),
        )
    )
    return (
        base.crossJoin(F.broadcast(cents_row))
        .withColumn("best", best)
        .select(
            "vec_id",
            "ei",
            F.col("best.cid").alias("cid"),
            F.col("best.dist").alias("dist"),
        )
    )


@register("clustering_kmeans_fixed", _dd_kmeans_sql())
def clustering_kmeans_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means, K=8, 3 synchronous iterations, init = the first
    K vectors by id (deterministic; k-means++ would need an RNG the
    oracle can't replay). Per iteration: one broadcast-join assignment
    pass over the corpus (argmin is a window per vec_id — at larger
    scale a min_by aggregate, same result by the total tiebreak) and
    one centroid update that shuffles only (cid, dim) partial sums —
    64*K rows of state regardless of corpus size, the same map-side
    combine shape MLlib's k-means uses. Integer means (sum div count)
    keep every iteration bit-exact across engines; empty clusters drop
    out (standard Lloyd behavior, identical on both sides). Output:
    cluster sizes + exact inertia after 3 iterations."""
    emb = t(spark, sf_dir, "embeddings")
    from t_spoon_spark.operators.similarity import int_embedding

    base = emb.select("vec_id", int_embedding("embedding", in_double=True).alias("ei"))
    cents = base.filter(F.col("vec_id") < KM_K).select(
        F.col("vec_id").alias("cid"), F.col("ei").alias("ce")
    )
    for _ in range(KM_ITERS):
        assigned = _assign(base, cents)
        dims = assigned.select(
            "cid", F.posexplode("ei").alias("pos0", "v")
        )
        per_dim = dims.groupBy("cid", "pos0").agg(
            F.expr("sum(v) div count(1)").cast("long").alias("m")
        )
        cents = per_dim.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos0", "m"))),
                lambda s: s.m,
            ).alias("ce")
        )
        # centroids are control-plane-sized (K x DIM ints); cutting the
        # lineage here keeps iteration i+1 from re-running iterations
        # 0..i (2x measured win, and the win compounds with KM_ITERS)
        cents = cents.localCheckpoint(eager=True)
    final = _assign(base, cents)
    return (
        final.groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assigned"),
            F.sum("dist").cast("long").alias("inertia"),
        )
        .orderBy("cid")
    )
