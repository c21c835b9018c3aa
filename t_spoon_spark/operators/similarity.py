"""Similarity search over embedding columns (array<float>).

Determinism across engines: embeddings are fixed-point scaled per
component (floor(x*1000+0.5) as BIGINT), so dot products are exact
integer sums (order-independent); norms/cosines then use identical IEEE
double ops on identical integers.

Scale shapes:
- brute-force top-k: broadcast the (small) query set against the corpus
  — one pass, no shuffle of the corpus; O(Q*N) dot products JVM-side.
- LSH-bucketed ANN: 8 deterministic hyperplanes -> 8-bit bucket;
  candidates = same-bucket rows only. The bucket join shuffles on a
  1-byte key; recall < 1 by construction but identical in both engines.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from t_spoon_spark.operators.dedup import spread

DIM = 64
N_PLANES = 8


def _plane(j: int) -> list[int]:
    """Deterministic ±1 hyperplane from md5 bits (literal-embedded in
    both engines' plans — no runtime RNG)."""
    h = hashlib.md5(f"tspoon-plane-{j}".encode()).digest() * 4
    return [1 if (h[i // 8] >> (i % 8)) & 1 else -1 for i in range(DIM)]


PLANES = [_plane(j) for j in range(N_PLANES)]


def _f32(v) -> Column:
    return F.lit(v).cast("float")


def int_embedding(col: Column | str, scale: int = 1000, in_double: bool = False) -> Column:
    """Fixed-point embedding, ``floor(x * scale + 0.5)`` per component.
    The oracles' ``x * 1000 + 0.5`` over DuckDB's FLOAT column stays in
    float32, so this scales in float32 too: in double, a component
    within float32 error of a tie (``-0.0135f * 1000``) floors one lower.
    ``in_double=True`` matches the oracles that ``CAST(x AS DOUBLE)``
    first (queries/clustering._DD_EI)."""
    c = F.col(col) if isinstance(col, str) else col
    if in_double:
        return F.transform(c, lambda x: F.floor(x * scale + F.lit(0.5)).cast("long"))
    return F.transform(c, lambda x: F.floor(x.cast("float") * _f32(scale) + _f32(0.5)).cast("long"))


def dot_int(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def with_norm(df: DataFrame, vec: str = "ei") -> DataFrame:
    # dot stays the zip_with/aggregate HOF: a flat 64-term subscript
    # sum was probed at 2M rows and ran 4x SLOWER than the HOF for
    # column-x-column dots (the per-term null/bounds checks dominate);
    # flat generation only wins when one side is a ±1 literal plane
    # (see _plane_dot_sql) — measured, optimization r14.
    return df.withColumn("norm", F.sqrt(dot_int(F.col(vec), F.col(vec)).cast("double")))


def cosine_c(dot: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine scaled to 1e6 fixed-point (exact-match safe across engines)."""
    return F.floor(dot.cast("double") * 1e6 / (norm_a * norm_b) + F.lit(0.5)).cast("long")


def _plane_dot_sql(col_name: str, plane: list[int]) -> str:
    """±1-plane dot product as a flat signed sum over array subscripts —
    one SQL string parsed JVM-side and whole-stage-codegen'd, replacing
    the py4j-built zip_with/aggregate form that cost 64 F.lit gateway
    calls per plane at plan construction AND ran on the interpreted
    higher-order-function path per row (optimization r14, guide §1/§4).
    Exact integer math either way."""
    return " ".join(
        f"{'+' if v == 1 else '-'} {col_name}[{i}]" for i, v in enumerate(plane)
    ).lstrip("+ ")


def bucket_bits(col_name: str = "ei") -> Column:
    """8-bit LSH bucket: sign of the dot product with each plane.
    Takes the embedding COLUMN NAME (the whole expression is generated
    as one SQL string — see _plane_dot_sql)."""
    sql = " + ".join(
        f"(CASE WHEN ({_plane_dot_sql(col_name, plane)}) > 0 THEN"
        f" CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j, plane in enumerate(PLANES)
    )
    return F.expr(sql)


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5, id_col: str = "vec_id"
) -> DataFrame:
    """Exact cosine top-k of each query vector against the corpus.
    `queries` is broadcast (small side); self-matches excluded."""
    corpus = spread(corpus)
    c = with_norm(corpus.select(F.col(id_col).alias("c_id"), int_embedding("embedding").alias("ei")))
    q = with_norm(
        queries.select(F.col(id_col).alias("q_id"), int_embedding("embedding").alias("ei"))
    ).select("q_id", F.col("ei").alias("qe"), F.col("norm").alias("qnorm"))
    pairs = c.join(F.broadcast(q), F.col("c_id") != F.col("q_id"))
    scored = pairs.select(
        "q_id",
        "c_id",
        cosine_c(dot_int(F.col("qe"), F.col("ei")), F.col("qnorm"), F.col("norm")).alias("cos_c"),
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cos_c"), F.asc("c_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def lsh_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5, id_col: str = "vec_id"
) -> DataFrame:
    """ANN variant: candidates restricted to the query's LSH bucket,
    then exact cosine within. Deterministic recall loss; at 100 TB the
    bucket join replaces the O(Q*N) scan."""
    corpus = spread(corpus)
    c = with_norm(
        corpus.select(F.col(id_col).alias("c_id"), int_embedding("embedding").alias("ei"))
    ).withColumn("bucket", bucket_bits("ei"))
    q = with_norm(
        queries.select(F.col(id_col).alias("q_id"), int_embedding("embedding").alias("ei"))
    ).select(
        "q_id",
        F.col("ei").alias("qe"),
        F.col("norm").alias("qnorm"),
        bucket_bits("ei").alias("bucket"),
    )
    pairs = c.join(F.broadcast(q), "bucket").filter(F.col("c_id") != F.col("q_id"))
    scored = pairs.select(
        "q_id",
        "c_id",
        cosine_c(dot_int(F.col("qe"), F.col("ei")), F.col("qnorm"), F.col("norm")).alias("cos_c"),
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cos_c"), F.asc("c_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def lsh_multiprobe_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5, id_col: str = "vec_id"
) -> DataFrame:
    """Multi-probe LSH: each query probes its own bucket PLUS every
    one-bit and two-bit sign-flip neighbor (Lv et al. multi-probe —
    the planes a vector sits closest to are the likeliest flips).
    1 + 8 + 28 = 37 probe buckets: a bounded candidate fan-out
    (~16% of the corpus on the synthetic embeddings, measured in the
    recall report) that lifts recall@5 from 4% single-probe / 12%
    one-bit to >=30%.  Still a pure equi-join on the bucket key — the
    probe set is exploded on the (broadcast) query side, so the corpus
    scan and shuffle shape are identical to lsh_topk; probe masks are
    distinct, so no candidate dedup is needed."""
    corpus = spread(corpus)
    c = with_norm(
        corpus.select(F.col(id_col).alias("c_id"), int_embedding("embedding").alias("ei"))
    ).withColumn("bucket", bucket_bits("ei"))
    q0 = with_norm(
        queries.select(F.col(id_col).alias("q_id"), int_embedding("embedding").alias("ei"))
    ).select(
        "q_id",
        F.col("ei").alias("qe"),
        F.col("norm").alias("qnorm"),
        bucket_bits("ei").alias("b0"),
    )
    probes = F.array(
        F.col("b0"),
        *[F.col("b0").bitwiseXOR(F.lit(1 << j)) for j in range(N_PLANES)],
        *[
            F.col("b0").bitwiseXOR(F.lit((1 << j) | (1 << k)))
            for j in range(N_PLANES)
            for k in range(j + 1, N_PLANES)
        ],
    )
    q = q0.select("q_id", "qe", "qnorm", F.explode(probes).alias("bucket"))
    pairs = c.join(F.broadcast(q), "bucket").filter(F.col("c_id") != F.col("q_id"))
    scored = pairs.select(
        "q_id",
        "c_id",
        cosine_c(dot_int(F.col("qe"), F.col("ei")), F.col("qnorm"), F.col("norm")).alias("cos_c"),
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cos_c"), F.asc("c_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


IVF_STRIDE = 100  # every stride-th vec_id is a coarse centroid: K ~ n/stride
IVF_NPROBE = 2


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    stride: int = IVF_STRIDE,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """IVF-flat ANN: inverted-file index with deterministic coarse
    centroids (every `stride`-th vector by id — no RNG, so the oracle
    recomputes the identical structure), exact cosine within the probed
    lists.

    Build: each corpus vector is assigned to its nearest centroid by
    quantized cosine (ties -> lowest centroid id) — a broadcast of the
    K centroids against the corpus, aggregated with max_by per vector
    (map-side combinable; no corpus shuffle, unlike a window). The
    (cent_id -> vectors) partitioning IS the inverted list; at scale the
    lists would be written bucketed by cent_id so probes prune files.

    Probe: each query ranks the same K centroids, takes the `nprobe`
    nearest lists, and exact-scores only vectors in those lists:
    O(Q * nprobe * n/K) instead of O(Q * n). Recall < 1 by construction,
    deterministic, identical in both engines."""
    corpus = spread(corpus)
    c = with_norm(
        corpus.select(F.col(id_col).alias("c_id"), int_embedding("embedding").alias("ei"))
    )
    cents = with_norm(
        corpus.filter(F.col(id_col) % stride == 0).select(
            F.col(id_col).alias("cent_id"), int_embedding("embedding").alias("ei")
        )
    ).select("cent_id", F.col("ei").alias("ce"), F.col("norm").alias("cnorm"))

    ccos = cosine_c(dot_int(F.col("ei"), F.col("ce")), F.col("norm"), F.col("cnorm"))
    # inverted lists: argmax over centroids per vector, ties -> lowest id
    lists = (
        c.crossJoin(F.broadcast(cents))
        .select("c_id", "ei", "norm", "cent_id", ccos.alias("ccos"))
        .groupBy("c_id")
        .agg(
            F.max_by("cent_id", F.struct(F.col("ccos"), (-F.col("cent_id")).alias("nid"))).alias(
                "cent_id"
            ),
            F.first("ei").alias("ei"),
            F.first("norm").alias("norm"),
        )
    )

    q = with_norm(
        queries.select(F.col(id_col).alias("q_id"), int_embedding("embedding").alias("ei"))
    )
    qw = W.partitionBy("q_id").orderBy(F.desc("qcos"), F.asc("cent_id"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "q_id",
            F.col("ei").alias("qe"),
            F.col("norm").alias("qnorm"),
            "cent_id",
            cosine_c(dot_int(F.col("ei"), F.col("ce")), F.col("norm"), F.col("cnorm")).alias(
                "qcos"
            ),
        )
        .withColumn("crnk", F.row_number().over(qw))
        .filter(F.col("crnk") <= nprobe)
        .select("q_id", "qe", "qnorm", "cent_id")
    )

    pairs = lists.join(F.broadcast(probes), "cent_id").filter(F.col("c_id") != F.col("q_id"))
    scored = pairs.select(
        "q_id",
        "c_id",
        cosine_c(dot_int(F.col("qe"), F.col("ei")), F.col("qnorm"), F.col("norm")).alias("cos_c"),
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cos_c"), F.asc("c_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def band_key(col_name: str, band: int, band_bits: int) -> Column:
    """Key of one LSH band: `band_bits` hyperplane sign bits packed into
    a long (band j uses planes [j*band_bits, (j+1)*band_bits)). Takes
    the embedding COLUMN NAME (SQL-string construction, see
    _plane_dot_sql)."""
    sql = " + ".join(
        f"(CASE WHEN ({_plane_dot_sql(col_name, _plane(band * band_bits + i))}) > 0"
        f" THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(band_bits)
    )
    return F.expr(sql)


def lsh_candidate_pairs(
    c: DataFrame,
    id_col: str = "id",
    vec_col: str = "ei",
    n_bands: int = 4,
    band_bits: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate (id_a < id_b) pairs sharing at least one LSH band key
    (OR-amplification). The only join is equi on (band, key) — never a
    cartesian; cost is sum over buckets of |bucket|^2.

    Scale rule: size band_bits ~ log2(n / target_bucket_rows) so the
    per-band bucket stays bounded as n grows, and set `max_bucket` as a
    skew guard — a bucket larger than the cap carries almost no
    signal (near-random collisions) but quadratic cost, so it is
    dropped wholesale; deterministic, and mirrored by the oracle."""
    entries = [
        F.struct(
            F.lit(j).alias("band"), band_key(vec_col, j, band_bits).alias("bkey")
        )
        for j in range(n_bands)
    ]
    bands = c.select(
        F.col(id_col), F.explode(F.array(*entries)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))
    if max_bucket is not None:
        bands = (
            bands.withColumn("__n", F.count(F.lit(1)).over(W.partitionBy("band", "bkey")))
            .filter(F.col("__n") <= max_bucket)
            .drop("__n")
        )
    a = bands.select(F.col(id_col).alias("id_a"), "band", "bkey")
    b = bands.select(F.col(id_col).alias("id_b"), "band", "bkey")
    return (
        a.join(b, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def cosine_near_dup_pairs(
    corpus: DataFrame,
    threshold_c: int,
    id_col: str = "vec_id",
    n_bands: int = 4,
    band_bits: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos_c >= threshold) among
    banded-LSH candidates — the exact cosine runs only on pairs sharing
    a band key, so there is no all-pairs product anywhere in the plan
    (the r1 verdict's #6: the old formulation was an O(n^2) cartesian).
    Recall < 1 by construction (deterministic, identical in the oracle);
    at near-dup thresholds the band miss probability is (1-p^b)^L for
    per-plane agreement p = 1 - theta/pi."""
    corpus = spread(corpus)
    c = with_norm(corpus.select(F.col(id_col).alias("id"), int_embedding("embedding").alias("ei")))
    cand = lsh_candidate_pairs(
        c, id_col="id", vec_col="ei", n_bands=n_bands, band_bits=band_bits, max_bucket=max_bucket
    )
    a = c.select(F.col("id").alias("id_a"), F.col("ei").alias("ea"), F.col("norm").alias("na"))
    b = c.select(F.col("id").alias("id_b"), F.col("ei").alias("eb"), F.col("norm").alias("nb"))
    scored = cand.join(a, "id_a").join(b, "id_b").select(
        "id_a",
        "id_b",
        cosine_c(dot_int(F.col("ea"), F.col("eb")), F.col("na"), F.col("nb")).alias("cos_c"),
    )
    return scored.filter(F.col("cos_c") >= threshold_c)


def sq8_encode(col: Column | str, scale: int = 254) -> Column:
    """Scalar int8 quantization of a float embedding (the FAISS-SQ8
    idea): round(x*scale) clamped to [-127, 127]. 64-dim float32
    vectors compress 4x to 64 bytes; at 100 TB the code column replaces
    the float column for the scan side of ANN, and distance arithmetic
    becomes exact integer math (no cross-engine float divergence).  The
    product stays in float32, as in the oracle's ``ROUND(x * 254)``
    over a FLOAT column (see int_embedding)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        c,
        lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127), F.round(x.cast("float") * _f32(scale)).cast("long")),
        ),
    )


def sq8_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5, id_col: str = "vec_id"
) -> DataFrame:
    """Top-k nearest neighbours by integer L2 over SQ8 codes: encode
    once, broadcast the (small) query side, exact integer
    sum-of-squared-differences, window top-k with (distance, id)
    tiebreak. Composes with IVF (encode inside each list) for the
    scan-pruned variant; this entry is the full-scan baseline over
    codes."""
    corpus = spread(corpus)
    c = corpus.select(F.col(id_col).alias("c_id"), sq8_encode("embedding").alias("code"))
    q = queries.select(F.col(id_col).alias("q_id"), sq8_encode("embedding").alias("qcode"))
    pairs = c.join(F.broadcast(q), F.col("c_id") != F.col("q_id"))
    d2 = F.aggregate(
        F.zip_with(F.col("qcode"), F.col("code"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = pairs.select("q_id", "c_id", d2.alias("d2"))
    w = W.partitionBy("q_id").orderBy(F.asc("d2"), F.asc("c_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)
