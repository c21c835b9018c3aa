"""Deterministic sampling operators for corpus construction: Bernoulli
hash sampling, stratified per-language rates, priority ("reservoir")
bottom-k, and temperature-scaled language-mixture targets — the
operations that turn a raw corpus into a training mixture with
reproducible membership.

Randomness is replaced everywhere by the engine's portable hash
(md5 -> BIGINT, `operators/text.md5_long`): membership is a pure
function of the row key, so the same sample falls out on any cluster
size, any partitioning, any engine — the property production pipelines
need for resumable / auditable corpus builds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from t_spoon_spark.operators.similarity import int_embedding
from t_spoon_spark.operators.text import dd_md5_long, md5_long, tokens
from t_spoon_spark.queries.relational import t
from t_spoon_spark.registry import register

_DD_H = dd_md5_long("CAST(doc_id AS VARCHAR)")
_DD_BUCKET = f"({_DD_H} % 1000)"

# stratified keep-rate per thousand: downsample the dominant language,
# keep the low-resource tail (the usual rebalancing move)
LANG_RATES = {"en": 250, "de": 800, "es": 800, "fr": 800, "zh": 800}
_DEFAULT_RATE = 500


@register(
    "sample_bernoulli_docs",
    f"""
    SELECT doc_id, lang, {_DD_BUCKET} AS bucket
    FROM documents
    WHERE {_DD_BUCKET} < 200
    ORDER BY doc_id
    """,
)
def sample_bernoulli_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20% Bernoulli sample gated on md5(doc_id) mod 1000 — membership
    is row-local (no shuffle, no state), the filter lives inside the
    parquet scan's codegen stage, and the sampled set is identical
    across engines, runs, and cluster layouts. This is the scalable
    substitute for `rand() < p`, whose membership changes per run and
    per partitioning."""
    docs = t(spark, sf_dir, "documents")
    bucket = F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(1000))
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"))
        .filter(F.col("bucket") < 200)
        .orderBy("doc_id")
    )


def _dd_rate_case() -> str:
    whens = " ".join(
        f"WHEN lang = '{lang}' THEN {rate}" for lang, rate in LANG_RATES.items()
    )
    return f"CASE {whens} ELSE {_DEFAULT_RATE} END"


@register(
    "sample_stratified_lang",
    f"""
    WITH gated AS (
      SELECT lang,
             CASE WHEN {_DD_BUCKET} < {_dd_rate_case()} THEN 1 ELSE 0 END AS kept,
             len(list_filter(string_split_regex(text, '\\s+'), w -> w <> '')) AS n_tok
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_total,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN kept = 1 THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens,
           CAST(FLOOR(SUM(kept) * 1000.0 / COUNT(*)) AS BIGINT) AS kept_frac_c
    FROM gated
    GROUP BY lang
    ORDER BY lang
    """,
)
def sample_stratified_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with per-language keep rates (downsample the
    dominant language, keep the tail) — the rate lookup is a CASE
    expression folded into the scan, the hash gate is row-local, and
    only the per-stratum report aggregates (a few rows after map-side
    combine). The achieved fraction converges on the configured rate
    with corpus size; the report carries both so drift is visible."""
    docs = t(spark, sf_dir, "documents")
    bucket = F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(1000))
    rate = F.lit(_DEFAULT_RATE)
    for lang, r in reversed(LANG_RATES.items()):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    gated = docs.select(
        "lang",
        F.when(bucket < rate, 1).otherwise(0).alias("kept"),
        F.size(tokens(F.col("text"))).alias("n_tok"),
    )
    return (
        gated.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("kept").cast("long").alias("n_kept"),
            F.sum(F.when(F.col("kept") == 1, F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("kept_tokens"),
            F.floor(F.sum("kept") * 1000.0 / F.count(F.lit(1)))
            .cast("long")
            .alias("kept_frac_c"),
        )
        .orderBy("lang")
    )


@register(
    "sample_reservoir_priority",
    f"""
    WITH pri AS (
      SELECT doc_id, lang, {_DD_H} AS priority FROM documents
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY priority, doc_id) AS rnk FROM pri
    )
    SELECT rnk, doc_id, lang, priority FROM ranked WHERE rnk <= 50
    ORDER BY rnk
    """,
)
def sample_reservoir_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample as priority sampling: the 50 rows with
    the smallest md5 priority — the distributed, deterministic
    equivalent of reservoir sampling (identical marginal distribution,
    but mergeable: bottom-k of a union = bottom-k of per-partition
    bottom-ks, which is exactly Spark's TakeOrderedAndProject — each
    partition keeps only k candidates, no global sort materializes)."""
    docs = t(spark, sf_dir, "documents")
    pri = docs.select(
        "doc_id", "lang", md5_long(F.col("doc_id").cast("string")).alias("priority")
    )
    # orderBy + limit compiles to TakeOrderedAndProject (partial top-k
    # per partition, k-merge at the driver) — the scale-safe plan
    top = pri.orderBy("priority", "doc_id").limit(50)
    w = Window.orderBy("priority", "doc_id")
    return top.withColumn("rnk", F.row_number().over(w)).select(
        "rnk", "doc_id", "lang", "priority"
    ).orderBy("rnk")


MIX_TARGET = 200  # total docs the mixture should draw


@register(
    "sample_mixture_temperature",
    f"""
    WITH counts AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang),
    scaled AS (
      SELECT lang, n_l,
             CAST(FLOOR(sqrt(CAST(n_l AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS w_c
      FROM counts
    ),
    tot AS (SELECT CAST(SUM(w_c) AS BIGINT) AS w_tot FROM scaled)
    SELECT s.lang, s.n_l, s.w_c,
           ({MIX_TARGET} * s.w_c) // t.w_tot AS target_docs,
           LEAST(s.n_l, ({MIX_TARGET} * s.w_c) // t.w_tot) AS achievable_docs
    FROM scaled s CROSS JOIN tot t
    ORDER BY s.lang
    """,
)
def sample_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture targets (T=2, i.e. weight ~ n^(1/2) —
    the multilingual-training rebalancing rule): per-language draw
    counts proportional to sqrt(n_lang). sqrt is IEEE-correctly-rounded
    in both engines, so rounding it once per stratum to a BIGINT weight
    makes the normalization (integer multiply + integer divide) exact —
    no order-dependent float summation anywhere. The stratum table is
    tiny; everything after the one groupBy is driver-trivial."""
    docs = t(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    scaled = counts.select(
        "lang",
        "n_l",
        F.floor(F.sqrt(F.col("n_l").cast("double")) * 1000 + 0.5)
        .cast("long")
        .alias("w_c"),
    )
    tot = scaled.select(F.sum("w_c").cast("long").alias("w_tot"))
    return (
        scaled.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_l",
            "w_c",
            F.expr(f"({MIX_TARGET} * w_c) div w_tot").alias("target_docs"),
            F.least(
                F.col("n_l"), F.expr(f"({MIX_TARGET} * w_c) div w_tot")
            ).alias("achievable_docs"),
        )
        .orderBy("lang")
    )


SAMPLE_W_K = 30


@register(
    "sample_weighted_priority",
    f"""
    WITH pri AS (
      SELECT doc_id, lang, n_chars,
             CAST(FLOOR(
               ln((({{h}}) % 1000000 + 1) / 1000001.0) / n_chars * 1e9
             ) AS BIGINT) AS nlp_c
      FROM documents WHERE n_chars > 0
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY nlp_c DESC, doc_id) AS rnk FROM pri
    )
    SELECT rnk, doc_id, lang, n_chars FROM ranked WHERE rnk <= {SAMPLE_W_K}
    ORDER BY rnk
    """.format(
        h="('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
    ),
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis
    A-ES in log space): each row draws a deterministic uniform u from
    its md5 hash and gets priority ln(u)/w (w = n_chars); the top-K
    priorities are the weighted sample. Deterministic u makes the
    sample reproducible and the estimator auditable; top-K by priority
    is mergeable (bottom-k union rule), so Spark executes it as
    per-partition partial top-K — the same scale shape as the uniform
    reservoir entry. ln is evaluated once per row on a ratio of small
    integers and scaled at 1e9; ranking ties are broken by doc_id."""
    docs = t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(1_000_000)) + 1) / F.lit(
        1_000_001.0
    )
    pri = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.floor(F.log(u) / F.col("n_chars") * 1e9).cast("long").alias("nlp_c"),
    )
    top = pri.orderBy(F.desc("nlp_c"), F.asc("doc_id")).limit(SAMPLE_W_K)
    from pyspark.sql import Window as W

    return (
        top.withColumn(
            "rnk", F.row_number().over(W.orderBy(F.desc("nlp_c"), F.asc("doc_id")))
        )
        .select("rnk", "doc_id", "lang", "n_chars")
        .orderBy("rnk")
    )


_DD_SPLIT_H = dd_md5_long("'split:' || CAST(doc_id AS VARCHAR)")
_DD_SPLIT_BUCKET = f"({_DD_SPLIT_H} % 1000)"


@register(
    "sample_train_val_test_split",
    f"""
    WITH assigned AS (
      SELECT doc_id,
             CASE WHEN {_DD_SPLIT_BUCKET} < 900 THEN 'train'
                  WHEN {_DD_SPLIT_BUCKET} < 950 THEN 'val'
                  ELSE 'test' END AS split,
             len(list_filter(string_split_regex(text, '\\s+'), w -> w <> '')) AS n_tok
      FROM documents
    )
    SELECT split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS tok_total,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM assigned
    GROUP BY split
    ORDER BY split
    """,
)
def sample_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment: split membership
    is a pure function of md5('split:' || doc_id), so it is stable
    across runs, engines, partitionings, and INDEPENDENT of every other
    sampling gate in this module (those hash the bare doc_id — a shared
    hash would correlate sample membership with split membership, the
    classic leakage bug).  Row-local gate in the scan's codegen stage,
    zero shuffle before the 3-row report; the id_checksum makes split
    MEMBERSHIP auditable downstream (a train-set doc leaking into test
    changes the checksum, not just the count)."""
    docs = t(spark, sf_dir, "documents")
    bucket = F.pmod(
        md5_long(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
        F.lit(1000),
    )
    assigned = docs.select(
        F.when(bucket < 900, "train")
        .when(bucket < 950, "val")
        .otherwise("test")
        .alias("split"),
        F.size(tokens(F.col("text"))).alias("n_tok"),
        "doc_id",
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("tok_total"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .orderBy("split")
    )


KC_K = 8  # coreset size
KC_SHIFT = 10**7  # argmax encoding: score = mind2 * SHIFT + (MAXID - vec_id)
KC_MAXID = KC_SHIFT - 1


@register(
    "sample_kcenter_coreset",
    f"""
    WITH RECURSIVE
    ibase AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(FLOOR(x * 1000 + 0.5) AS BIGINT)) AS ei
      FROM embeddings
    ),
    rk(it, sel, picked, mind2) AS (
      SELECT 0, [CAST(0 AS BIGINT)], CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      UNION ALL
      SELECT it + 1,
             list_append(sel, CAST({KC_MAXID} - (MAX(score) % {KC_SHIFT}) AS BIGINT)),
             CAST({KC_MAXID} - (MAX(score) % {KC_SHIFT}) AS BIGINT),
             CAST(MAX(score) // {KC_SHIFT} AS BIGINT)
      FROM (
        SELECT rk.it AS it, rk.sel AS sel,
               MIN(list_sum(list_transform(range(1, len(b.ei) + 1),
                   i -> (b.ei[i] - c.ei[i]) * (b.ei[i] - c.ei[i])))) * {KC_SHIFT}
                 + ({KC_MAXID} - b.vec_id) AS score
        FROM rk
        JOIN ibase b ON NOT list_contains(rk.sel, b.vec_id)
        JOIN ibase c ON list_contains(rk.sel, c.vec_id)
        WHERE rk.it < {KC_K} - 1
        GROUP BY rk.it, rk.sel, b.vec_id
      )
      GROUP BY it, sel
    )
    SELECT it AS sel_rank, picked AS vec_id, mind2 FROM rk ORDER BY sel_rank
    """,
)
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 2-approximation):
    start from vec_id 0, then repeatedly add the point FARTHEST from
    the already-selected set — the classic diversity-sampling /
    facility-location move behind coreset curation of training data
    (pick the k examples that best cover embedding space). All
    arithmetic is exact BIGINT on the fixed-point embedding (squared
    L2), and the argmax is encoded as max(mind2 * SHIFT + (MAXID -
    vec_id)) so ties break to the smallest id identically in both
    engines. The oracle carries the selected set as a LIST column
    through a recursive CTE — the same aggregate-in-recursion pattern
    as graph_pagerank_nations. Plan shape: per round one scan computing
    min-distance-to-centers (centers broadcast as a literal — k is
    tiny by construction) and a single-scalar aggregate to the driver;
    k rounds total, the kmeans-style control-plane loop. At 100 TB each
    round is one map + one treeAggregate-shaped reduce, nothing
    shuffles the corpus.

    ANTI-PATTERN WARNING (verdict r13): k full passes over the base is
    acceptable HERE only because k is a small constant by construction
    (a coreset is control-plane-sized).  Do not copy this driver-side
    loop shape into anything where the iteration count scales with the
    data — that is the collect-and-loop failure mode the rest of the
    repo's operators avoid (CC uses pointer-jumping rounds, k-means a
    fixed iteration budget, BFS a frontier)."""
    emb = t(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", int_embedding("embedding").alias("ei")).localCheckpoint(eager=True)

    def dist2_to(center_ei: list[int]):
        lit = F.array(*[F.lit(int(v)).cast("long") for v in center_ei])
        return F.aggregate(
            F.zip_with(F.col("ei"), lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    first = base.filter(F.col("vec_id") == 0).select("ei").collect()[0]["ei"]
    centers: list[tuple[int, list[int], int]] = [(0, list(first), 0)]
    md = base.select("vec_id", "ei", dist2_to(first).alias("md"))
    for _ in range(KC_K - 1):
        sel_ids = [c[0] for c in centers]
        score = (
            md.filter(~F.col("vec_id").isin(sel_ids))
            .select(
                (
                    F.col("md") * F.lit(KC_SHIFT)
                    + (F.lit(KC_MAXID) - F.col("vec_id"))
                ).alias("s")
            )
            .agg(F.max("s").alias("mx"))
            .collect()[0]["mx"]
        )
        picked = KC_MAXID - (score % KC_SHIFT)
        mind2 = score // KC_SHIFT
        pei = base.filter(F.col("vec_id") == picked).select("ei").collect()[0]["ei"]
        centers.append((int(picked), list(pei), int(mind2)))
        nd = dist2_to(pei)
        md = md.select(
            "vec_id", "ei", F.least(F.col("md"), nd).alias("md")
        ).localCheckpoint(eager=True)
    rows = [(i, cid, m) for i, (cid, _, m) in enumerate(centers)]
    return spark.createDataFrame(
        rows, "sel_rank int, vec_id long, mind2 long"
    ).orderBy("sel_rank")
