"""Second-wave vector search operators: product quantization with
asymmetric-distance (ADC) scoring — the memory-compression scheme that
carries billion-vector indexes — and ColBERT-style MaxSim late
interaction, which scores a query against per-token sub-vectors instead
of one pooled vector.

Both reuse the embeddings table's integer fixed-point convention, so
every distance / dot is exact BIGINT arithmetic and the oracles match
bit-for-bit. The 64-d embedding is sliced two ways: 16 sub-vectors of
4 dims as the PQ quantization subspaces (finer cells -> better ADC
separation), and 8 sub-vectors of 8 dims standing in for MaxSim's
per-token vectors (the real pipeline would carry a token-majored
array column of the same shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from t_spoon_spark.operators.similarity import dot_int, int_embedding
from t_spoon_spark.queries.clustering import _DD_EI
from t_spoon_spark.queries.relational import t
from t_spoon_spark.registry import register

TOK_M = 8  # MaxSim pseudo-token count (8 x 8 slicing of the embedding)
TOK_D = 8  # dims per pseudo-token
PQ_M = 16  # PQ subspaces (finer than the token view: 16 x 4)
PQ_D = 4  # dims per PQ subspace
PQ_K = 64  # centroids per subspace (codebook = first K vectors' subs)
PQ_SHORT = 128  # ADC shortlist size fed to the exact re-rank (r10: 50 -> 128
# for >=90% recall@5 at sf0.1; the oracle composes this constant verbatim,
# so the correctness gate moves with it and the recall report prices it)
N_Q = 5

_DD_SUBDIST = (
    "list_sum(list_transform(range(1, {d} + 1), "
    "i -> (a.sub[i] - c.sub[i]) * (a.sub[i] - c.sub[i])))".format(d=PQ_D)
)



def _subs(emb_df, m_parts: int = TOK_M, dims: int = TOK_D):
    """(vec_id, m, sub): the M x D sub-vector table of an embeddings
    frame — shared by the PQ encoder/probe (16 x 4) and the MaxSim
    token view (8 x 8); one definition, so the fixed-point slicing
    cannot drift between the entries or their oracles."""
    base = emb_df.select("vec_id", int_embedding("embedding", in_double=True).alias("ei"))
    return base.select(
        "vec_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(m).alias("m"),
                    F.slice("ei", m * dims + 1, dims).alias("sub"),
                )
                for m in range(m_parts)
            ])
        ).alias("s"),
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.sub").alias("sub"))


def _dd_subs(m_parts: int, dims: int) -> str:
    return f"""
    base AS (SELECT vec_id, {_DD_EI} AS ei FROM embeddings),
    subs AS (
      SELECT vec_id, m.m AS m, list_slice(ei, m.m * {dims} + 1, (m.m + 1) * {dims}) AS sub
      FROM base, LATERAL unnest(range(0, {m_parts})) AS m(m)
    )
"""


_DD_SUBS = _dd_subs(TOK_M, TOK_D)  # MaxSim token view
_DD_PQ_SUBS = f"""{_dd_subs(PQ_M, PQ_D)},
    cents AS (
      SELECT vec_id AS k, m, sub FROM subs WHERE vec_id < {PQ_K}
    )
"""


@register(
    "similarity_pq_adc_topk",
    f"""
    WITH {_DD_PQ_SUBS},
    codes AS (
      SELECT vec_id, m, k AS code FROM (
        SELECT a.vec_id, a.m, c.k,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id, a.m
                                  ORDER BY {_DD_SUBDIST}, c.k) AS rn
        FROM subs a JOIN cents c USING (m)
      ) WHERE rn = 1
    ),
    qd AS (
      SELECT a.vec_id AS q_id, a.m, c.k, {_DD_SUBDIST} AS d
      FROM subs a JOIN cents c USING (m)
      WHERE a.vec_id < {N_Q}
    ),
    adc AS (
      SELECT qd.q_id, co.vec_id AS c_id, CAST(SUM(qd.d) AS BIGINT) AS adc_c
      FROM codes co JOIN qd ON co.m = qd.m AND co.code = qd.k
      GROUP BY qd.q_id, co.vec_id
    ),
    short AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_c, c_id) AS srnk
      FROM adc WHERE q_id <> c_id
    ),
    norms AS (
      SELECT vec_id, ei,
             SQRT(CAST(list_sum(list_transform(ei, x -> x * x)) AS DOUBLE)) AS norm
      FROM base
    ),
    rr AS (
      SELECT s.q_id, s.c_id,
             CAST(FLOOR(CAST(list_sum(list_transform(range(1, len(q.ei) + 1),
                  i -> q.ei[i] * c.ei[i])) AS DOUBLE) * 1e6
                  / (q.norm * c.norm) + 0.5) AS BIGINT) AS cos_c
      FROM short s
      JOIN norms q ON q.vec_id = s.q_id
      JOIN norms c ON c.vec_id = s.c_id
      WHERE s.srnk <= {PQ_SHORT}
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_c DESC, c_id) AS rnk
      FROM rr
    )
    SELECT q_id, c_id, cos_c, rnk FROM ranked WHERE rnk <= 5
    ORDER BY q_id, rnk
    """,
)
def similarity_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization search, full production shape: ADC
    shortlist then exact re-rank.  16 subspaces x 64 centroids
    (codebook = the first 64 vectors' sub-vectors — deterministic;
    production trains it with the k-means entry's exact Lloyd), each
    corpus vector encoded to 16 codes, queries score candidates by
    summing per-subspace lookup distances to the code centroids (the
    ADC table) without touching corpus floats, and only the top-128
    (PQ_SHORT) shortlist per query pays an exact integer-cosine
    re-rank — the same shortlist+re-rank contract as a production
    IVFPQ index (the recall report measured the round-7 pure-ADC
    ranking at 20% recall@5; the 50-row shortlist at 76% on sf0.1;
    this 128-row shape at 96% for ~6% of the corpus as candidates).
    Scale shape: encode is a
    broadcast of the K*M codebook against the corpus; ADC joins the
    codes table against the (Q x M x K)-row broadcast lookup and
    partial-aggregates; the re-rank joins a Q x 50 control frame back
    to the corpus — bounded candidate fan-out, one extra corpus
    read."""
    emb = t(spark, sf_dir, "embeddings")
    from t_spoon_spark.operators.similarity import cosine_c, dot_int as _dot, with_norm

    subs = _subs(emb, PQ_M, PQ_D)
    cents = subs.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("k"), "m", F.col("sub").alias("csub")
    )

    dist = F.aggregate(
        F.zip_with(F.col("sub"), F.col("csub"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w_code = W.partitionBy("vec_id", "m").orderBy(F.asc("d"), F.asc("k"))
    codes = (
        subs.join(F.broadcast(cents), "m")
        .select("vec_id", "m", "k", dist.alias("d"))
        .withColumn("rn", F.row_number().over(w_code))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", F.col("k").alias("code"))
    )
    qd = (
        subs.filter(F.col("vec_id") < N_Q)
        .join(F.broadcast(cents), "m")
        .select(
            F.col("vec_id").alias("q_id"), "m", "k", dist.alias("d")
        )
    )
    adc = (
        codes.join(
            F.broadcast(qd),
            (codes.m == qd.m) & (codes.code == qd.k),
        )
        .groupBy("q_id", F.col("vec_id").alias("c_id"))
        .agg(F.sum("d").cast("long").alias("adc_c"))
        .filter(F.col("q_id") != F.col("c_id"))
    )
    w_short = W.partitionBy("q_id").orderBy(F.asc("adc_c"), F.asc("c_id"))
    short = (
        adc.withColumn("srnk", F.row_number().over(w_short))
        .filter(F.col("srnk") <= PQ_SHORT)
        .select("q_id", "c_id")
    )
    normed = with_norm(
        emb.select("vec_id", int_embedding("embedding", in_double=True).alias("ei"))
    )
    qn = normed.select(
        F.col("vec_id").alias("q_id"),
        F.col("ei").alias("qe"),
        F.col("norm").alias("qnorm"),
    ).filter(F.col("q_id") < N_Q)
    rr = (
        normed.withColumnRenamed("vec_id", "c_id")
        .join(F.broadcast(short), "c_id")
        .join(F.broadcast(qn), "q_id")
        .select(
            "q_id",
            "c_id",
            cosine_c(
                _dot(F.col("qe"), F.col("ei")), F.col("qnorm"), F.col("norm")
            ).alias("cos_c"),
        )
    )
    w_rank = W.partitionBy("q_id").orderBy(F.desc("cos_c"), F.asc("c_id"))
    return (
        rr.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= 5)
        .select("q_id", "c_id", "cos_c", "rnk")
        .orderBy("q_id", "rnk")
    )


_DD_SUBDOT = (
    "list_sum(list_transform(range(1, {d} + 1), "
    "i -> q.sub[i] * c.sub[i]))".format(d=TOK_D)
)


@register(
    "similarity_maxsim_late_interaction",
    f"""
    WITH {_DD_SUBS},
    qtok AS (SELECT vec_id AS q_id, m, sub FROM subs WHERE vec_id < {N_Q}),
    dots AS (
      SELECT q.q_id, q.m AS qi, c.vec_id AS c_id, {_DD_SUBDOT} AS dot
      FROM qtok q JOIN subs c ON TRUE
      WHERE c.vec_id <> q.q_id
    ),
    maxes AS (
      SELECT q_id, c_id, qi, MAX(dot) AS mx FROM dots GROUP BY q_id, c_id, qi
    ),
    scored AS (
      SELECT q_id, c_id, CAST(SUM(mx) AS BIGINT) AS maxsim_c
      FROM maxes GROUP BY q_id, c_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY maxsim_c DESC, c_id) AS rnk
      FROM scored
    )
    SELECT q_id, c_id, maxsim_c, rnk FROM ranked WHERE rnk <= 5
    ORDER BY q_id, rnk
    """,
)
def similarity_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late interaction: score(q, d) = sum over query
    sub-vectors of the MAX dot product against any document sub-vector
    (here the 8x8 slicing of the embedding stands in for per-token
    vectors). Exact integer dots, so argmax/sum are partition-order
    proof. Scale shape: the Q*M query token set broadcasts against the
    corpus token table; the (q, doc, q_token) max and (q, doc) sum are
    partial-aggregated. Production prunes with a per-token ANN
    (the LSH/IVF/PQ entries) before exact MaxSim re-ranking — this
    entry is that re-ranker."""
    emb = t(spark, sf_dir, "embeddings")
    subs = _subs(emb)

    qtok = subs.filter(F.col("vec_id") < N_Q).select(
        F.col("vec_id").alias("q_id"),
        F.col("m").alias("qi"),
        F.col("sub").alias("qsub"),
    )
    dot = dot_int(F.col("qsub"), F.col("sub"))
    dots = (
        subs.crossJoin(F.broadcast(qtok))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "qi", F.col("vec_id").alias("c_id"), dot.alias("dot"))
    )
    scored = (
        dots.groupBy("q_id", "c_id", "qi")
        .agg(F.max("dot").alias("mx"))
        .groupBy("q_id", "c_id")
        .agg(F.sum("mx").cast("long").alias("maxsim_c"))
    )
    w_rank = W.partitionBy("q_id").orderBy(F.desc("maxsim_c"), F.asc("c_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= 5)
        .select("q_id", "c_id", "maxsim_c", "rnk")
        .orderBy("q_id", "rnk")
    )


HN_QUERIES = 8
HN_K = 5

_DD_HN_EI = "list_transform(embedding, x -> CAST(FLOOR(x * 1000 + 0.5) AS BIGINT))"
_DD_HN_DOT = "list_sum(list_transform(range(1, len(a.ei) + 1), i -> a.ei[i] * b.ei[i]))"


@register(
    "similarity_hard_negatives",
    f"""
    WITH base AS (
      SELECT vec_id, label, {_DD_HN_EI} AS ei FROM embeddings
    ),
    normed AS (
      SELECT vec_id, label, ei,
             sqrt(CAST(list_sum(list_transform(range(1, len(ei) + 1), i -> ei[i] * ei[i])) AS DOUBLE)) AS norm
      FROM base
    ),
    q AS (SELECT * FROM normed WHERE vec_id < {HN_QUERIES}),
    scored AS (
      SELECT a.vec_id AS q_id, a.label AS q_label, b.vec_id AS neg_id,
             b.label AS neg_label,
             CAST(FLOOR(CAST({_DD_HN_DOT} AS DOUBLE) * 1e6 / (a.norm * b.norm) + 0.5) AS BIGINT) AS cos_c
      FROM q a JOIN normed b ON a.label <> b.label
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_c DESC, neg_id) AS rnk
      FROM scored
    )
    SELECT q_id, q_label, neg_id, neg_label, cos_c, rnk FROM ranked
    WHERE rnk <= {HN_K} ORDER BY q_id, rnk
    """,
)
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-k most-similar corpus vectors carrying a DIFFERENT
    label — the negatives that sit closest to the decision boundary,
    which retrieval/embedding trainers (DPR, Contriever, SimCSE
    pipelines) mine from the corpus between epochs. Same fixed-point
    cosine contract as the other similarity entries (bit-exact BIGINT
    scores). Plan: the query set is broadcast against the corpus scan
    (the label-inequality predicate rides the broadcast join), then one
    window per query ranks candidates — at 100 TB this is the same
    one-pass shape as similarity_bruteforce_topk, and the LSH/IVF
    bucketing entries show the sub-linear candidate-generation path
    when Q grows past broadcast size."""
    emb = t(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", "label", int_embedding("embedding").alias("ei"))
    normed = base.withColumn(
        "norm",
        F.sqrt(dot_int(F.col("ei"), F.col("ei")).cast("double")),
    )
    q = normed.filter(F.col("vec_id") < HN_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("ei").alias("qe"),
        F.col("norm").alias("qnorm"),
    )
    scored = normed.join(
        F.broadcast(q), F.col("q_label") != F.col("label")
    ).select(
        "q_id",
        "q_label",
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        F.floor(
            dot_int(F.col("qe"), F.col("ei")).cast("double")
            * 1e6
            / (F.col("qnorm") * F.col("norm"))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("cos_c"),
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cos_c"), F.asc("neg_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= HN_K)
        .select("q_id", "q_label", "neg_id", "neg_label", "cos_c", "rnk")
        .orderBy("q_id", "rnk")
    )


BH_R = 32  # Hamming candidate pool per query, re-ranked exactly
BH_DIM = 64
BH_WORD = 32  # bits per signature word (2 words cover the 64 dims)

_DD_BH_WORD = (
    "list_sum(list_transform(range({lo}, {hi}), "
    "i -> CASE WHEN ei[i] > 0 THEN CAST(1 AS BIGINT) << (i - {lo}) "
    "ELSE CAST(0 AS BIGINT) END))"
)
_DD_BH_NORM = (
    "sqrt(CAST(list_sum(list_transform(range(1, len(ei) + 1), "
    "i -> ei[i] * ei[i])) AS DOUBLE))"
)
_DD_BH_DOT = "list_sum(list_transform(range(1, len(a.ei) + 1), i -> a.ei[i] * b.ei[i]))"


@register(
    "similarity_binary_hamming_topk",
    f"""
    WITH base AS (
      SELECT vec_id, {_DD_HN_EI} AS ei FROM embeddings
    ),
    normed AS (
      SELECT vec_id, ei, {_DD_BH_NORM} AS norm FROM base
    ),
    sigs AS (
      SELECT vec_id,
             {_DD_BH_WORD.format(lo=1, hi=BH_WORD + 1)} AS w0,
             {_DD_BH_WORD.format(lo=BH_WORD + 1, hi=BH_DIM + 1)} AS w1
      FROM base
    ),
    q AS (SELECT * FROM sigs WHERE vec_id < {N_Q}),
    hams AS (
      SELECT a.vec_id AS q_id, b.vec_id AS c_id,
             CAST(bit_count(xor(a.w0, b.w0)) AS BIGINT)
             + CAST(bit_count(xor(a.w1, b.w1)) AS BIGINT) AS ham
      FROM q a JOIN sigs b ON a.vec_id <> b.vec_id
    ),
    cand AS (
      SELECT q_id, c_id, ham FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ham, c_id) AS hrnk
        FROM hams
      ) WHERE hrnk <= {BH_R}
    ),
    scored AS (
      SELECT cand.q_id, cand.c_id, cand.ham,
             CAST(FLOOR(CAST({_DD_BH_DOT} AS DOUBLE) * 1e6
                        / (a.norm * b.norm) + 0.5) AS BIGINT) AS cos_c
      FROM cand
      JOIN normed a ON a.vec_id = cand.q_id
      JOIN normed b ON b.vec_id = cand.c_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_c DESC, c_id) AS rnk
      FROM scored
    )
    SELECT q_id, c_id, ham, cos_c, rnk FROM ranked WHERE rnk <= 5
    ORDER BY q_id, rnk
    """,
)
def similarity_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization ANN: each vector collapses to a 64-bit
    sign-bit signature (two 32-bit words, so neither engine touches the
    BIGINT sign bit), candidates are the BH_R nearest by Hamming
    distance — bit_count(xor) on packed words, pure whole-stage-codegen
    integer ops — and only that pool is re-ranked with the exact
    fixed-point cosine. The memory story is the point at 100 TB: 8 bytes
    per vector versus 512 for the raw fixed-point array (64x), so the
    signature table of a billion-vector corpus fits comfortably in
    cluster RAM and the Hamming scan is a map-side broadcast compare
    with no shuffle; the exact re-rank touches BH_R rows per query.
    Same two-stage shape the PQ-ADC entry uses, with a cheaper stage 1.
    Reference analogue: none (the reference has no vector ops) — this
    extends the LLM-pipeline family mandated by the build brief."""
    emb = t(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", int_embedding("embedding").alias("ei"))
    normed = base.withColumn(
        "norm", F.sqrt(dot_int(F.col("ei"), F.col("ei")).cast("double"))
    )

    def word(lo: int) -> F.Column:
        ei = F.col("ei")
        bits = [
            F.when(ei.getItem(i) > 0, F.lit(1 << (i - lo))).otherwise(F.lit(0))
            for i in range(lo, lo + BH_WORD)
        ]
        out = bits[0]
        for b in bits[1:]:
            out = out + b
        return out.cast("long")

    sigs = base.select("vec_id", word(0).alias("w0"), word(BH_WORD).alias("w1"))
    q = sigs.filter(F.col("vec_id") < N_Q).select(
        F.col("vec_id").alias("q_id"),
        F.col("w0").alias("qw0"),
        F.col("w1").alias("qw1"),
    )
    hams = sigs.join(F.broadcast(q), F.col("q_id") != F.col("vec_id")).select(
        "q_id",
        F.col("vec_id").alias("c_id"),
        (
            F.bit_count(F.col("qw0").bitwiseXOR(F.col("w0")))
            + F.bit_count(F.col("qw1").bitwiseXOR(F.col("w1")))
        )
        .cast("long")
        .alias("ham"),
    )
    w_ham = W.partitionBy("q_id").orderBy(F.asc("ham"), F.asc("c_id"))
    cand = (
        hams.withColumn("hrnk", F.row_number().over(w_ham))
        .filter(F.col("hrnk") <= BH_R)
        .select("q_id", "c_id", "ham")
    )
    qn = normed.filter(F.col("vec_id") < N_Q).select(
        F.col("vec_id").alias("q_id"),
        F.col("ei").alias("qe"),
        F.col("norm").alias("qnorm"),
    )
    scored = (
        normed.join(F.broadcast(cand), normed.vec_id == cand.c_id)
        .join(F.broadcast(qn), "q_id")
        .select(
            "q_id",
            "c_id",
            "ham",
            F.floor(
                dot_int(F.col("qe"), F.col("ei")).cast("double")
                * 1e6
                / (F.col("qnorm") * F.col("norm"))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("cos_c"),
        )
    )
    w_rank = W.partitionBy("q_id").orderBy(F.desc("cos_c"), F.asc("c_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= 5)
        .select("q_id", "c_id", "ham", "cos_c", "rnk")
        .orderBy("q_id", "rnk")
    )


# ---------------------------------------------------------------------------
# ANN recall report: measure, don't guess.

_ANN_METHODS = (
    ("bin_ham", "similarity_binary_hamming_topk"),
    ("ivf", "similarity_ivf_topk"),
    ("lsh", "similarity_lsh_topk"),
    ("lsh_mp", "similarity_lsh_multiprobe_topk"),
    ("pq_adc", "similarity_pq_adc_topk"),
    ("sq8", "similarity_sq8_topk"),
)


def _ann_recall_oracle() -> str:
    """Compose the already-registered method oracles (verbatim, as
    nested-WITH CTE bodies) against the brute-force oracle — the recall
    numbers are then pinned by construction to the same SQL the driver
    gates each method on.  The candidate-count CTEs reuse the SAME
    shared fragments (DD_EI / bucket expr / centroid cosine / method
    constants) the per-method oracles are generated from, so the cost
    column cannot drift from the pipelines it describes."""
    from t_spoon_spark.registry import _REGISTRY

    import t_spoon_spark.queries.similarity  # noqa: F401  (registers bf/lsh/ivf/sq8)
    from t_spoon_spark.operators.similarity import (
        IVF_NPROBE,
        IVF_STRIDE,
        N_PLANES,
    )
    from t_spoon_spark.queries.similarity import (
        DD_DOT_SELF,
        DD_EI,
        _dd_bucket_expr,
        _dd_cos,
    )

    parts = [f"bf AS ({_REGISTRY['similarity_bruteforce_topk'].duckdb_sql})"]
    unions = []
    for tag, name in _ANN_METHODS:
        parts.append(f"m_{tag} AS ({_REGISTRY[name].duckdb_sql})")
        unions.append(f"SELECT '{tag}' AS method, q_id, c_id FROM m_{tag}")
    tags = ", ".join(f"'{t}'" for t, _ in _ANN_METHODS)
    crnk = (
        "ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY "
        f"{_dd_cos('n.ei', 'c.ce', 'n.norm', 'c.cnorm')} DESC, c.cent_id)"
    )
    # one n_cand expression PER _ANN_METHODS entry, composed by tag: a
    # method added to _ANN_METHODS without a cost expression raises
    # KeyError HERE at composition time — the same loud failure the
    # Spark side raises from counts[tag] — instead of the inner JOIN
    # silently dropping it from only the oracle result (ADVICE r9)
    cand_expr = {
        "lsh": "SELECT 'lsh' AS method, n_cand FROM c_lsh",
        "lsh_mp": "SELECT 'lsh_mp' AS method, n_cand FROM c_lsh_mp",
        "ivf": "SELECT 'ivf' AS method, n_cand FROM c_ivf",
        "bin_ham": (
            f"SELECT 'bin_ham' AS method, CAST(q * LEAST({BH_R}, n - 1) AS BIGINT)"
            " AS n_cand FROM nstat CROSS JOIN qcnt"
        ),
        "pq_adc": (
            f"SELECT 'pq_adc' AS method, CAST(q * LEAST({PQ_SHORT}, n - 1) AS BIGINT)"
            " AS n_cand FROM nstat CROSS JOIN qcnt"
        ),
        "sq8": (
            "SELECT 'sq8' AS method, CAST(q * (n - 1) AS BIGINT)"
            " AS n_cand FROM nstat CROSS JOIN qcnt"
        ),
    }
    cands_body = " UNION ALL ".join(cand_expr[tag] for tag, _ in _ANN_METHODS)
    return f"""
    WITH {", ".join(parts)},
    cand AS ({" UNION ALL ".join(unions)}),
    hits AS (
      SELECT method, COUNT(*) AS n_hits
      FROM cand JOIN bf USING (q_id, c_id) GROUP BY method
    ),
    methods AS (SELECT unnest([{tags}]) AS method),
    gt AS (SELECT COUNT(*) AS n_total FROM bf),
    -- stage-1 candidate-set sizes (exact, per construction of each
    -- method: one bucket/list per vector, distinct probe keys)
    nstat AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    cb AS (SELECT vec_id, {DD_EI} AS ei FROM embeddings),
    cbk AS (SELECT n.vec_id, {_dd_bucket_expr('n')} AS bucket FROM cb n),
    -- the ACTUAL query count (not the N_Q constant): every self-match
    -- subtraction and per-query product below uses it, symmetric with
    -- the Spark side's min(N_Q, n_vec), so a corpus smaller than N_Q
    -- cannot skew (or sign-flip) the candidate counts
    qcnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS q FROM cbk WHERE vec_id < {N_Q}),
    csz AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM cbk GROUP BY bucket),
    c_lsh AS (
      SELECT CAST(SUM(s.cnt) - (SELECT q FROM qcnt) AS BIGINT) AS n_cand
      FROM cbk q JOIN csz s USING (bucket) WHERE q.vec_id < {N_Q}
    ),
    cmp AS (
      SELECT q.vec_id AS q_id,
             unnest(list_concat(
               list_concat(
                 [q.bucket],
                 list_transform(range(0, {N_PLANES}),
                   j -> xor(q.bucket, CAST(1 AS BIGINT) << j))),
               flatten(list_transform(range(0, {N_PLANES}), j ->
                 list_transform(range(j + 1, {N_PLANES}), k ->
                   xor(q.bucket, xor(CAST(1 AS BIGINT) << j,
                                     CAST(1 AS BIGINT) << k))))))) AS bucket
      FROM cbk q WHERE q.vec_id < {N_Q}
    ),
    c_lsh_mp AS (
      SELECT CAST(SUM(s.cnt) - (SELECT q FROM qcnt) AS BIGINT) AS n_cand
      FROM cmp JOIN csz s USING (bucket)
    ),
    cnormed AS (
      SELECT vec_id, ei, sqrt(CAST({DD_DOT_SELF} AS DOUBLE)) AS norm FROM cb
    ),
    ccents AS (
      SELECT vec_id AS cent_id, ei AS ce, norm AS cnorm FROM cnormed
      WHERE vec_id % {IVF_STRIDE} = 0
    ),
    cassign AS (
      SELECT vec_id, cent_id FROM (
        SELECT n.vec_id, c.cent_id, {crnk} AS crnk
        FROM cnormed n CROSS JOIN ccents c
      ) WHERE crnk = 1
    ),
    clsz AS (SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS cnt FROM cassign GROUP BY cent_id),
    cprobes AS (
      SELECT vec_id AS q_id, cent_id FROM (
        SELECT n.vec_id, c.cent_id, {crnk} AS crnk
        FROM cnormed n CROSS JOIN ccents c WHERE n.vec_id < {N_Q}
      ) WHERE crnk <= {IVF_NPROBE}
    ),
    c_ivf AS (
      SELECT CAST(SUM(s.cnt) - (SELECT q FROM qcnt) AS BIGINT) AS n_cand
      FROM cprobes p JOIN clsz s USING (cent_id)
    ),
    cands AS ({cands_body})
    SELECT m.method,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(gt.n_total AS BIGINT) AS n_total,
           CAST(FLOOR(COALESCE(h.n_hits, 0) * 100.0 / gt.n_total) AS BIGINT) AS recall_pct,
           c.n_cand,
           CAST(FLOOR(c.n_cand * 100.0 / (qc.q * (ns.n - 1))) AS BIGINT) AS cand_pct
    FROM methods m CROSS JOIN gt CROSS JOIN nstat ns CROSS JOIN qcnt qc
      LEFT JOIN hits h USING (method) JOIN cands c USING (method)
    ORDER BY method
    """


def _ann_candidate_counts(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """Exact stage-1 candidate-set size per method (summed over the
    query set) — computed with the SAME shared helpers and constants
    the method pipelines use (bucket_bits, centroid assignment,
    BH_R/PQ_SHORT), so the cost column cannot drift from them.  Three
    bounded scalar jobs (bucket histogram, list histogram, corpus
    count); each method maps one vector to exactly one bucket/list and
    probe keys are distinct, so summing bucket sizes over probes counts
    candidates exactly (minus the self-match each pipeline filters)."""
    from t_spoon_spark.operators.similarity import (
        IVF_NPROBE,
        IVF_STRIDE,
        N_PLANES,
        bucket_bits,
        cosine_c,
        dot_int,
        int_embedding,
        with_norm,
    )

    emb = t(spark, sf_dir, "embeddings")
    n_vec = emb.count()
    # ACTUAL query count (vec_ids are dense 0..n-1): every self-match
    # subtraction and per-query product uses it, mirroring the oracle's
    # COUNT(*) WHERE vec_id < N_Q — a corpus smaller than N_Q would
    # otherwise skew (or sign-flip) the counts (ADVICE r9)
    n_q = min(N_Q, n_vec)
    base = emb.select("vec_id", int_embedding("embedding").alias("ei"))
    bk = base.select("vec_id", bucket_bits("ei").alias("bucket"))
    sz = bk.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    qb = bk.filter(F.col("vec_id") < N_Q)
    lsh_n = int(qb.join(sz, "bucket").agg(F.sum("cnt")).first()[0]) - n_q
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(N_PLANES)],
        *[
            F.col("bucket").bitwiseXOR(F.lit((1 << j) | (1 << k)))
            for j in range(N_PLANES)
            for k in range(j + 1, N_PLANES)
        ],
    )
    qmp = qb.select(F.explode(probes).alias("bucket"))
    mp_row = qmp.join(sz, "bucket").agg(F.sum("cnt")).first()[0]
    mp_n = int(mp_row or 0) - n_q
    cn = with_norm(base)
    cents = with_norm(base.filter(F.col("vec_id") % IVF_STRIDE == 0)).select(
        F.col("vec_id").alias("cent_id"),
        F.col("ei").alias("ce"),
        F.col("norm").alias("cnorm"),
    )
    ccos = cosine_c(dot_int(F.col("ei"), F.col("ce")), F.col("norm"), F.col("cnorm"))
    assign = (
        cn.crossJoin(F.broadcast(cents))
        .select("vec_id", "cent_id", ccos.alias("ccos"))
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "cent_id", F.struct(F.col("ccos"), (-F.col("cent_id")).alias("nid"))
            ).alias("cent_id")
        )
    )
    lsz = assign.groupBy("cent_id").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    qw = W.partitionBy("vec_id").orderBy(F.desc("qcos"), F.asc("cent_id"))
    qprobes = (
        cn.filter(F.col("vec_id") < N_Q)
        .crossJoin(F.broadcast(cents))
        .select("vec_id", "cent_id", ccos.alias("qcos"))
        .withColumn("crnk", F.row_number().over(qw))
        .filter(F.col("crnk") <= IVF_NPROBE)
        .select("vec_id", "cent_id")
    )
    ivf_n = int(qprobes.join(lsz, "cent_id").agg(F.sum("cnt")).first()[0]) - n_q
    return {
        "lsh": lsh_n,
        "lsh_mp": mp_n,
        "ivf": ivf_n,
        "bin_ham": n_q * min(BH_R, n_vec - 1),
        "pq_adc": n_q * min(PQ_SHORT, n_vec - 1),
        "sq8": n_q * (n_vec - 1),
        "__denom": n_q * (n_vec - 1),
    }


@register("similarity_ann_recall_report", _ann_recall_oracle())
def similarity_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 AND stage-1 cost of every ANN variant against the exact
    brute-force top-5 — the measurement that decides which index family
    a corpus actually deploys (build brief: 'measure, don't guess').
    Each method's top-5 set is the entry the driver already gates, and
    the candidate counts are built from the same shared helpers, so
    this report cannot drift from the per-method oracles; all
    arithmetic is integer-exact.

    Reading the frontier (sf0.01/sf0.1): **pq_adc is the recommended
    production path** — 96% recall@5 at sf0.1 for ~6% of the corpus as
    candidates (128-row ADC shortlist -> bounded exact re-rank; the
    round-9 50-row shortlist read 76% at ~2% — the cost column priced
    the recall buy); **ivf** is the
    runner-up where a coarse quantizer is cheaper to maintain (~70%
    recall at ~2/K lists).  lsh_mp's recall costs ~16% of the corpus as
    candidates — an order of magnitude more scan per point of recall —
    so the LSH entries stay as baselines, not deployment paths.  Scale
    shape: the method pipelines each carry their own documented plan;
    the report adds 25-row joins, two histogram aggregates, and a
    5-group aggregate — negligible against any corpus."""
    from t_spoon_spark.queries.similarity import similarity_bruteforce_topk
    from t_spoon_spark.registry import _REGISTRY

    bf = similarity_bruteforce_topk(spark, sf_dir).select("q_id", "c_id")
    cand = None
    for tag, name in _ANN_METHODS:
        # the SAME registry entry the oracle composition reads — one
        # source for both sides, so a method added to _ANN_METHODS
        # cannot reach only one of them
        part = _REGISTRY[name].spark_fn(spark, sf_dir).select(
            F.lit(tag).alias("method"), "q_id", "c_id"
        )
        cand = part if cand is None else cand.unionByName(part)
    hits = (
        cand.join(bf, ["q_id", "c_id"])
        .groupBy("method")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    # denominator = the ground truth's ACTUAL size (a 25-row control
    # frame; counting it keeps the report honest if any method's k or
    # the query-set constant ever changes independently)
    total = bf.count()
    counts = _ann_candidate_counts(spark, sf_dir)
    denom = counts.pop("__denom")
    methods = spark.createDataFrame(
        [(tag, counts[tag]) for tag, _ in _ANN_METHODS], "method string, n_cand long"
    )
    return (
        methods.join(hits, "method", "left")
        .select(
            "method",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.lit(total).cast("long").alias("n_total"),
            F.floor(F.coalesce(F.col("n_hits"), F.lit(0)) * 100.0 / total)
            .cast("long")
            .alias("recall_pct"),
            F.col("n_cand"),
            F.floor(F.col("n_cand") * 100.0 / denom).cast("long").alias("cand_pct"),
        )
        .orderBy("method")
    )
