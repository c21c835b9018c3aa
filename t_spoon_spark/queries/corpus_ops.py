"""Round-10 corpus-pipeline additions: ORC format gate, SemDeDup
embedding-cluster near-dup removal, best-fit-decreasing sequence
packing, and BPE tokenizer APPLICATION (token counting under a learned
merge table).

Each entry composes machinery that is already oracle-pinned elsewhere
in the repo (the io round-trip summary, the integer-exact k-means
kernel, the whole-doc packing fold, the BPE merge learner) into a new
user-facing operation, so the new gates also pin that the shared
pieces compose without drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from t_spoon_spark.queries.io_formats import _DOCS_SUMMARY_SQL, _docs_summary, _roundtrip
from t_spoon_spark.queries.relational import t
from t_spoon_spark.registry import register


@register("io_orc_roundtrip_docs", _DOCS_SUMMARY_SQL)
def io_orc_roundtrip_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> ORC (Spark's native writer) -> read back with
    explicit schema -> the same per-language summary the CSV/JSON
    gates pin. ORC is the third self-describing columnar format Spark
    ships a vectorized reader for; the gate pins that the engine's
    format surface preserves the free-text column (ORC's dictionary +
    RLE string encodings are its hard case) end to end. The oracle
    reads the parquet original, so any row loss or value drift in the
    round-trip breaks the hash. Scale note: identical to the CSV/JSON
    gates — per-file parallel round-trip, lang-keyed partial agg."""
    docs = t(spark, sf_dir, "documents")
    return _docs_summary(_roundtrip(docs, "orc"))


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup via k-means cluster-bounded cosine pruning
# (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
# through semantic deduplication").
# ---------------------------------------------------------------------------

SD_K = 8
SD_ITERS = 2
SD_DIM = 64
SD_TAU_C = 350_000  # cosine >= 0.35 on the 1e6-scaled score


def _dd_semdedup_sql() -> str:
    """Unrolled k-means assignment CTEs (the clustering module's exact
    integer conventions, imported) + within-cluster cosine pairs +
    keep-lowest-id dup marking, summarized per cluster."""
    from t_spoon_spark.queries.clustering import _DD_DIST, _DD_EI

    ctes = [
        f"base AS (SELECT vec_id, {_DD_EI} AS ei FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cid, ei AS ce FROM base WHERE vec_id < {SD_K})",
    ]
    for i in range(SD_ITERS):
        ctes.append(
            f"""a{i} AS (
              SELECT vec_id, ei, cid FROM (
                SELECT e.vec_id, e.ei, c.cid,
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
                FROM a{i} a, LATERAL unnest(range(1, {SD_DIM} + 1)) AS r(pos)
                GROUP BY a.cid, r.pos
              ) GROUP BY cid
            )"""
        )
    ctes.append(
        f"""afinal AS (
          SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_DD_DIST}, c.cid) AS rn
            FROM base e CROSS JOIN c{SD_ITERS} c
          ) WHERE rn = 1
        )"""
    )
    ctes.append(
        """normed AS (
          SELECT vec_id, ei,
                 sqrt(CAST(list_sum(list_transform(ei, x -> x * x)) AS DOUBLE)) AS norm
          FROM base
        )"""
    )
    ctes.append(
        "memb AS (SELECT f.vec_id, f.cid, n.ei, n.norm "
        "FROM afinal f JOIN normed n USING (vec_id))"
    )
    ctes.append(
        f"""pairs AS (
          SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b,
                 CAST(FLOOR(CAST(list_sum(list_transform(range(1, len(a.ei) + 1),
                        i -> a.ei[i] * b.ei[i])) AS DOUBLE) * 1e6
                      / (a.norm * b.norm) + 0.5) AS BIGINT) AS cos_c
          FROM memb a JOIN memb b ON a.cid = b.cid AND a.vec_id < b.vec_id
        )"""
    )
    ctes.append(
        f"dups AS (SELECT DISTINCT id_b AS vec_id FROM pairs WHERE cos_c >= {SD_TAU_C})"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
    SELECT m.cid,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(COUNT(d.vec_id) AS BIGINT) AS n_dups,
           CAST(COUNT(*) - COUNT(d.vec_id) AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(CASE WHEN d.vec_id IS NOT NULL
                                  THEN m.vec_id END), 0) AS BIGINT) AS sum_dup_ids
    FROM memb m LEFT JOIN dups d USING (vec_id)
    GROUP BY m.cid
    ORDER BY m.cid
    """
    )


def semdedup_members_and_dups(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The SemDeDup pipeline up to the dup decision: returns
    (membership frame: vec_id, cid; dup frame: vec_id, is_dup=1).
    Shared by the gated entry below and examples/pack_corpus.py."""
    from t_spoon_spark.operators.similarity import cosine_c, dot_int, int_embedding
    from t_spoon_spark.queries.clustering import _assign

    emb = t(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", int_embedding("embedding", in_double=True).alias("ei"))
    cents = base.filter(F.col("vec_id") < SD_K).select(
        F.col("vec_id").alias("cid"), F.col("ei").alias("ce")
    )
    for _ in range(SD_ITERS):
        assigned = _assign(base, cents)
        per_dim = (
            assigned.select("cid", F.posexplode("ei").alias("pos0", "v"))
            .groupBy("cid", "pos0")
            .agg(F.expr("sum(v) div count(1)").cast("long").alias("m"))
        )
        cents = per_dim.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos0", "m"))),
                lambda s: s.m,
            ).alias("ce")
        )
        # K x DIM ints of control-plane state; cut the lineage so
        # iteration i+1 does not re-run 0..i (same as the kmeans entry)
        cents = cents.localCheckpoint(eager=True)
    memb = (
        _assign(base, cents)
        .select("vec_id", "cid", "ei")
        .withColumn("norm", F.sqrt(dot_int(F.col("ei"), F.col("ei")).cast("double")))
    )
    a = memb.select(
        F.col("cid"),
        F.col("vec_id").alias("id_a"),
        F.col("ei").alias("ea"),
        F.col("norm").alias("na"),
    )
    b = memb.select(
        F.col("cid"),
        F.col("vec_id").alias("id_b"),
        F.col("ei").alias("eb"),
        F.col("norm").alias("nb"),
    )
    pairs = (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "cid",
            "id_a",
            "id_b",
            cosine_c(dot_int(F.col("ea"), F.col("eb")), F.col("na"), F.col("nb")).alias(
                "cos_c"
            ),
        )
    )
    dups = (
        pairs.filter(F.col("cos_c") >= SD_TAU_C)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return memb.select("vec_id", "cid"), dups


@register("dedup_semdedup_clusters", _dd_semdedup_sql())
def dedup_semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al.): k-means-cluster the embedding corpus,
    then mark as a semantic duplicate any vector whose cosine to a
    LOWER-id member of the SAME cluster reaches the threshold — the
    keep-first policy over cluster-bounded candidate pairs. This is
    the published alternative to LSH banding for embedding dedup: the
    clustering is the blocker, so the pair budget is sum(|cluster|^2)
    instead of n^2. Exactness: the k-means kernel is the clustering
    module's integer-exact Lloyd (deterministic init, BIGINT
    distances, integer-mean updates) and the cosine is the similarity
    operators' 1e6-scaled single-rounded score, so both engines see
    bit-identical clusters and pair scores. Scale shape at 100 TB: K
    grows with the corpus to hold E[|cluster|] at a target (SemDeDup
    used 100k clusters for LAION); assignment stays one broadcast-K
    pass per iteration, centroid updates shuffle only (cid, dim)
    partial sums, and the within-cluster pair join is an equi-join on
    cid whose fan-out the cluster-size cap bounds — no all-pairs
    product anywhere. Output: per-cluster members/dups/kept + the
    dup-id checksum. Ref analogue: none (beyond-reference mandate)."""
    memb, dups = semdedup_members_and_dups(spark, sf_dir)
    return (
        memb.join(dups, "vec_id", "left")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.count("is_dup").cast("long").alias("n_dups"),
            (F.count(F.lit(1)) - F.count("is_dup")).cast("long").alias("n_kept"),
            F.coalesce(
                F.sum(F.when(F.col("is_dup").isNotNull(), F.col("vec_id"))), F.lit(0)
            )
            .cast("long")
            .alias("sum_dup_ids"),
        )
        .orderBy("cid")
    )


# ---------------------------------------------------------------------------
# Best-fit-decreasing sequence packing.
# ---------------------------------------------------------------------------

PACK_BUDGET = 512

_DD_TOKS = "list_filter(string_split_regex(text, '\\s+'), w -> w <> '')"
_BFD_FEAS = f"list_filter(rec.fills, f -> f + r.n_tok <= {PACK_BUDGET})"
_BFD_BEST = f"list_aggregate({_BFD_FEAS}, 'max')"


@register(
    "packing_best_fit_decreasing",
    f"""
    WITH RECURSIVE tok AS (
      SELECT source, doc_id, LEAST(len({_DD_TOKS}), {PACK_BUDGET}) AS n_tok
      FROM documents WHERE len({_DD_TOKS}) > 0
    ),
    rn AS (
      SELECT source, doc_id, n_tok,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_tok DESC, doc_id) AS rn
      FROM tok
    ),
    rec(source, rn, doc_id, n_tok, bin_id, bin_offset, fills) AS (
      SELECT source, rn, doc_id, n_tok, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             [n_tok]
      FROM rn WHERE rn = 1
      UNION ALL
      SELECT r.source, r.rn, r.doc_id, r.n_tok,
             CASE WHEN len({_BFD_FEAS}) = 0
                  THEN CAST(len(rec.fills) AS BIGINT)
                  ELSE CAST(list_position(rec.fills, {_BFD_BEST}) - 1 AS BIGINT)
             END,
             CASE WHEN len({_BFD_FEAS}) = 0
                  THEN CAST(0 AS BIGINT) ELSE {_BFD_BEST} END,
             CASE WHEN len({_BFD_FEAS}) = 0
                  THEN list_append(rec.fills, r.n_tok)
                  ELSE list_transform(range(1, len(rec.fills) + 1),
                         i -> CASE WHEN i = list_position(rec.fills, {_BFD_BEST})
                                   THEN rec.fills[i] + r.n_tok
                                   ELSE rec.fills[i] END)
             END
      FROM rec JOIN rn r ON r.source = rec.source AND r.rn = rec.rn + 1
    )
    SELECT source, doc_id, n_tok, bin_id, bin_offset
    FROM rec
    ORDER BY source, doc_id
    """,
)
def packing_best_fit_decreasing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-fit-decreasing whole-document packing — the classic
    bin-packing heuristic (sort by length desc, place each doc in the
    FULLEST open bin it still fits, else open a new bin), which wastes
    measurably less padding than the greedy first-open-bin fold when
    length variance is high (instruction-tuning mixes). Documents never
    split; longer-than-budget docs truncate to one full bin, exactly as
    the greedy entry. The fold is sequential per source shard, so it
    runs as an Arrow `applyInPandas` over source partitions — shards
    pack in parallel, each shard's fold is one linear pass holding only
    the open-bin fill array. The oracle replays the identical fold as a
    recursive CTE whose state column is the fill LIST, with the same
    (max feasible fill, lowest bin index) total tiebreak. Scale shape:
    identical to packing_greedy_whole_doc — partition key becomes
    (source, shard) at 100 TB so every fold is bounded. bfd_pack
    retires exactly-full bins from its placement scan (ADVICE r10,
    landed round 12): because every n_tok >= 1 (enforced upstream), a
    bin at exactly PACK_BUDGET can never accept another doc, so
    dropping it from the open-bins list changes no placement — the
    fold stays bit-identical to the SQL oracle's unretired scan while
    the per-placement cost falls on skewed shards where many bins pack
    exactly full."""
    from t_spoon_spark.operators.text import tokens

    docs = t(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "doc_id",
        F.least(F.size(tokens(F.col("text"))), F.lit(PACK_BUDGET))
        .cast("long")
        .alias("n_tok"),
    ).filter(F.size(tokens(F.col("text"))) > 0)
    return bfd_pack(base).orderBy("source", "doc_id")


def bfd_pack(base: DataFrame) -> DataFrame:
    """Best-fit-decreasing fold over a (source, doc_id, n_tok) frame —
    the packing kernel of packing_best_fit_decreasing, reusable on any
    token-count column (examples/pack_corpus.py packs BPE counts).
    n_tok must already be in (0, PACK_BUDGET]."""
    import pandas as pd

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tok", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        fills: list[int] = []
        # indices of bins with fill < PACK_BUDGET, ascending.  A bin at
        # exactly PACK_BUDGET can never accept another doc (n_tok >= 1),
        # so it retires from the placement scan (ADVICE r10) — the scan
        # order over the survivors is still ascending index with the
        # same first-strictly-fuller tiebreak, so placements (and the
        # recursive-CTE oracle that replays the unretired scan) are
        # bit-identical; only the per-placement cost drops on skewed
        # shards where many bins pack exactly full.
        open_bins: list[int] = []
        bin_ids, offsets = [], []
        for n in pdf["n_tok"]:
            best, best_fill = -1, -1
            for i in open_bins:
                f = fills[i]
                if f + n <= PACK_BUDGET and f > best_fill:
                    best, best_fill = i, f
            if best < 0:
                bin_ids.append(len(fills))
                offsets.append(0)
                if n < PACK_BUDGET:
                    open_bins.append(len(fills))
                fills.append(int(n))
            else:
                bin_ids.append(best)
                offsets.append(best_fill)
                fills[best] = best_fill + int(n)
                if fills[best] == PACK_BUDGET:
                    open_bins.remove(best)
        pdf["bin_id"] = pd.Series(bin_ids, dtype="int64")
        pdf["bin_offset"] = pd.Series(offsets, dtype="int64")
        return pdf

    return base.groupBy("source").applyInPandas(
        fold,
        schema="source string, doc_id bigint, n_tok bigint, "
        "bin_id bigint, bin_offset bigint",
    )


# ---------------------------------------------------------------------------
# BPE tokenizer APPLICATION: per-document token counts under the
# learned merge table (completes learn -> apply).
# ---------------------------------------------------------------------------

BPE_ROUNDS = 6  # must equal text.BPE_ROUNDS: the apply replays the learner


def _dd_bpe_apply_sql() -> str:
    """Merge-learning CTE prefix (the exact generator shape of
    queries/text.py:_dd_bpe_oracle — duplicated here rather than
    refactored out so this module does not touch text.py; the two are
    pinned equal by test_corpus_ops.py) + a vocab segmentation join
    that counts BPE symbols per document word."""
    ctes = [
        "w AS (SELECT word, COUNT(*) AS freq FROM ("
        "SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word "
        "FROM documents) WHERE word <> '' GROUP BY 1)",
        "seg_0 AS (SELECT word, freq, "
        "regexp_replace(word, '(.)', '|\\1|', 'g') AS seg FROM w)",
    ]
    for k in range(1, BPE_ROUNDS + 1):
        ctes.append(
            f"pairs_{k} AS (SELECT p[1] AS lhs, p[2] AS rhs, SUM(freq) AS cnt "
            f"FROM (SELECT freq, unnest(list_transform(range(1, len(syms)), "
            f"i -> [syms[i], syms[i+1]])) AS p "
            f"FROM (SELECT freq, string_split(trim(seg, '|'), '||') AS syms "
            f"FROM seg_{k - 1})) GROUP BY 1, 2)"
        )
        ctes.append(
            f"best_{k} AS (SELECT CAST({k} AS BIGINT) AS step, lhs, rhs, "
            f"CAST(cnt AS BIGINT) AS pair_n FROM pairs_{k} "
            f"ORDER BY cnt DESC, lhs, rhs LIMIT 1)"
        )
        ctes.append(
            f"seg_{k} AS (SELECT word, freq, "
            f"replace(seg, '|' || b.lhs || '||' || b.rhs || '|', "
            f"'|' || b.lhs || b.rhs || '|') AS seg "
            f"FROM seg_{k - 1} CROSS JOIN best_{k} b)"
        )
    ctes.append(
        f"vocab AS (SELECT word, len(string_split(trim(seg, '|'), '||')) AS n_sym "
        f"FROM seg_{BPE_ROUNDS})"
    )
    ctes.append(
        "dw AS (SELECT doc_id, "
        "unnest(string_split_regex(lower(text), '[^a-z]+')) AS word FROM documents)"
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(v.n_sym) AS BIGINT) AS n_bpe
    FROM dw d JOIN vocab v USING (word)
    WHERE d.word <> ''
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """
    )


@register("text_bpe_apply_tokenize", _dd_bpe_apply_sql())
def text_bpe_apply_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the learned BPE merge table to tokenize the corpus: the
    per-document token counts a packing/budgeting pass consumes —
    learn (text_bpe_learn_merges) and apply are the two halves of the
    Sennrich tokenizer loop, and this entry pins their composition.
    Engine shape: the learner runs once (its K collects are 1-row
    control frames), segmentation is then computed ONCE PER DISTINCT
    WORD (the same vocabulary trick training uses — the corpus-sized
    side only carries (doc_id, word) rows) and joined back to the
    word stream; per-doc counts are a map-side-combinable aggregate.
    Scale shape at 100 TB: the vocabulary is corpus-size-independent
    (~1e7 rows), so the segmentation projection is a tiny job and the
    word-stream join broadcasts the vocab (or shuffles on word above
    broadcast size); the only corpus-sized exchange is the per-doc
    aggregate. The oracle replays the identical learner CTEs and the
    identical vocab join."""
    from t_spoon_spark.queries.text import text_bpe_learn_merges

    merges = [
        (r.lhs, r.rhs)
        for r in text_bpe_learn_merges(spark, sf_dir).orderBy("step").collect()
    ]
    docs = t(spark, sf_dir, "documents")
    dw = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word")
    ).filter(F.col("word") != "")
    seg = F.regexp_replace("word", "(.)", r"|$1|")
    for lhs, rhs in merges:
        seg = F.replace(seg, F.lit(f"|{lhs}||{rhs}|"), F.lit(f"|{lhs}{rhs}|"))
    # bind the seg column first: the expr() trim resolves it by name
    vocab = (
        dw.select("word")
        .distinct()
        .withColumn("seg", seg)
        .select(
            "word",
            F.size(F.split(F.expr("trim(BOTH '|' FROM seg)"), r"\|\|"))
            .cast("long")
            .alias("n_sym"),
        )
    )
    return (
        dw.join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_sym").cast("long").alias("n_bpe"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# DSIR: data selection via importance resampling (Xie et al. 2023).
# ---------------------------------------------------------------------------

DSIR_H = 1024  # hashed-feature buckets
DSIR_TARGET_LANG = "en"
DSIR_TOP = 100


@register(
    "sampling_dsir_importance",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({_DD_TOKS}) AS w FROM documents
    ),
    b AS (
      SELECT doc_id, lang,
             (('0x' || substr(md5(w), 1, 15))::BIGINT) % {DSIR_H} AS h
      FROM tok
    ),
    cr AS (SELECT h, COUNT(*) AS cr FROM b GROUP BY h),
    ct AS (SELECT h, COUNT(*) AS ct FROM b WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY h),
    tot AS (
      SELECT (SELECT COUNT(*) FROM b) AS tr,
             (SELECT COUNT(*) FROM b WHERE lang = '{DSIR_TARGET_LANG}') AS tt
    ),
    lr AS (
      SELECT cr.h,
             CAST(FLOOR(ln(
               CAST((COALESCE(ct.ct, 0) + 1) * (tot.tr + {DSIR_H}) AS DOUBLE)
               / CAST((cr.cr + 1) * (tot.tt + {DSIR_H}) AS DOUBLE)
             ) * 1000000 + 0.5) AS BIGINT) AS lr_c
      FROM cr LEFT JOIN ct USING (h) CROSS JOIN tot
    ),
    scored AS (
      SELECT b.doc_id, any_value(b.lang) AS lang,
             CAST(COUNT(*) AS BIGINT) AS n_tok,
             CAST(SUM(lr.lr_c) AS BIGINT) AS w_c
      FROM b JOIN lr USING (h)
      GROUP BY b.doc_id
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY w_c DESC, doc_id) AS BIGINT) AS rnk,
           doc_id, lang, n_tok, w_c
    FROM scored
    QUALIFY rnk <= {DSIR_TOP}
    ORDER BY rnk
    """,
)
def sampling_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al., "Data Selection for Language
    Models via Importance Resampling"): score every document by how
    much more likely its hashed-unigram features are under the TARGET
    distribution (here: the corpus's 'en' slice, standing in for a
    high-quality reference) than under the RAW distribution, then take
    the top-K — the published recipe for carving a domain-matched
    subset out of a crawl. Feature hashing uses the engine's portable
    md5 bucket (operators/text.md5_long) into DSIR_H buckets; both
    Laplace-smoothed distributions live in one DSIR_H-row table, each
    bucket's log-ratio is a single ln over an exact integer-product
    quotient rounded once at 1e6 (the PMI/idf discipline), and per-doc
    weights are exact BIGINT sums of those rounded terms — bit-stable
    under any partitioning. Plan shape: one token explode, one DSIR_H-row
    broadcast join, one doc_id aggregate, and a TakeOrderedAndProject
    top-K — the only corpus-sized exchange is the per-doc sum. At
    100 TB the target model is trained once on the reference corpus
    (control-plane) and only the scoring pass touches the crawl;
    resampling replaces top-K with a Gumbel draw keyed on the same
    weights (the weighted-sampling entry's machinery) when
    de-biasing matters. NOTE on this corpus: the synthetic langs share
    one 31-word vocabulary with near-identical frequencies (KL vs 'en'
    ~0.01), so the learned ratios are close to flat and the top-K is
    mostly length-ordered — the gate pins the arithmetic; the
    discrimination property is pinned on crafted distributions in
    tests/test_corpus_ops.py."""
    docs = t(spark, sf_dir, "documents")
    scored = dsir_scores(docs, DSIR_TARGET_LANG)
    top = scored.orderBy(F.desc("w_c"), F.asc("doc_id")).limit(DSIR_TOP)
    return (
        top.withColumn(
            "rnk",
            F.row_number()
            .over(W.orderBy(F.desc("w_c"), F.asc("doc_id")))
            .cast("long"),
        )
        .select("rnk", "doc_id", "lang", "n_tok", "w_c")
        .orderBy("rnk")
    )


def dsir_scores(docs: DataFrame, target_lang: str) -> DataFrame:
    """The DSIR scoring kernel over a (doc_id, lang, text) frame:
    per-doc BIGINT importance weights (w_c), token counts, lang.
    Separated from the gated entry so crafted-distribution tests can
    pin that the weights actually discriminate."""
    from t_spoon_spark.operators.dedup import spread
    from t_spoon_spark.operators.text import md5_long, tokens

    b = spread(docs).select(
        "doc_id",
        "lang",
        F.explode(tokens(F.col("text"))).alias("w"),
    ).select(
        "doc_id", "lang", (md5_long(F.col("w")) % DSIR_H).alias("h")
    )
    # ONE pass over the exploded token stream builds BOTH per-bucket
    # counts (raw + target as a conditional sum), and the scalar totals
    # derive from the DSIR_H-row bucket table (every token lands in
    # exactly one bucket, so tr = SUM(cr), tt = SUM(ct)) — the old
    # shape re-ran the corpus-sized explode+md5 three times (cr, ct,
    # tot passes; optimization r14, guide §2.1: fewer passes).  A
    # target-absent bucket now counts ct = 0 instead of NULL — same +1
    # Laplace smoothing either way.
    freq = b.groupBy("h").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(F.col("lang") == target_lang, 1).otherwise(0)).alias("ct"),
    )
    tot = freq.agg(F.sum("cr").alias("tr"), F.sum("ct").alias("tt"))
    lr = (
        freq.crossJoin(F.broadcast(tot))
        .select(
            "h",
            F.floor(
                F.log(
                    ((F.col("ct") + 1) * (F.col("tr") + DSIR_H))
                    .cast("double")
                    / ((F.col("cr") + 1) * (F.col("tt") + DSIR_H)).cast("double")
                )
                * 1e6
                + 0.5
            )
            .cast("long")
            .alias("lr_c"),
        )
    )
    return (
        b.join(F.broadcast(lr), "h")
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            F.count(F.lit(1)).cast("long").alias("n_tok"),
            F.sum("lr_c").cast("long").alias("w_c"),
        )
    )
