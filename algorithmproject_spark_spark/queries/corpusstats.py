"""Corpus-engineering diagnostics: vocabulary coverage, key skew,
sequence-length bucketing waste.

Three exact, scale-shaped reports a training-data platform runs before
committing to a tokenizer, a partitioning, or a batching scheme:

- **Vocabulary coverage curve** — what fraction of corpus tokens the
  top-V vocabulary entries cover, for V along a doubling ladder. THE
  tokenizer-budget question (how big must V be for ≥99% coverage).
  Shape: token counts (one keyed agg), rank + cumulative sum over the
  VOCABULARY-sized relation (bounded — distinct tokens, not corpus
  rows), exact ppm scaling.
- **Key-skew report** — per-key count distribution of a join/group key
  summarized as exact order statistics + heavy-hitter share. The
  pre-flight check before keying a 100 TB shuffle: a p99/p50 ratio or
  a single key holding >1% of rows means salting (operators/skew.py)
  or AQE skew handling is required. Shape: one keyed count, then the
  compacted-distribution exact-quantile trick (events.py) over the
  (count → frequency) relation — never a global sort of data rows.
- **Sequence-length bucket waste** — padding overhead if documents are
  batched into fixed length buckets: for each bucket ladder rung,
  tokens wasted as padding, exact ppm of the total. Decides bucketed
  batching vs packing (queries/llmprep.py's doc_pack_sequences is the
  packing alternative this report justifies).

Reference parity: none — the reference hard-codes its corpus/shuffle
decisions (e.g. LightldaPreProcess.scala's fixed df<10 vocab filter,
fixed 1024/2048 shuffle partitions); these reports compute the
evidence those decisions need.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from algorithmproject_spark_spark.functions.numeric import (
    sql_ppm,
    sql_ratio_e6,
    ss_floordiv,
    ss_ppm,
    ss_ratio_e6,
)
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

COVERAGE_LADDER = (1, 2, 4, 8, 16, 32, 64)
BUCKET_LADDER = (16, 32, 64, 128)


def vocab_coverage_curve(docs: DataFrame) -> DataFrame:
    """``(v, coverage_ppm)``: corpus-token coverage of the top-``v``
    vocabulary entries (count desc, token asc tiebreak) for each
    ladder rung ≤ vocabulary size.

    Scale shape (VERDICT r11 #3): the curve only needs ranks ≤
    max(COVERAGE_LADDER), but a naive rank window runs single-partition
    over the FULL vocabulary — the one plan in the registry that grows
    unboundedly with distinct-token count. Instead the rank-R count
    threshold is derived as an exact order statistic over the COMPACTED
    (count → n_keys) distribution (same machinery as
    :func:`key_skew_report`: cardinality = distinct count VALUES, far
    below vocabulary size), broadcast back, and only tokens with
    ``c >= c_R`` enter the rank window — ≤ R rows plus ties at the
    threshold count. Ties at c_R keep the tok tie-break exact; natural
    corpora have few ties among the top ranks, and even the theoretical
    worst case (uniform counts) only degrades to the old plan, never
    below it. Total corpus tokens ``n`` comes from the same compacted
    pass (Σ c·k), so the ppm denominator still covers the whole corpus.
    """
    top_rank = max(COVERAGE_LADDER)
    counts = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    dist = counts.groupBy("c").agg(F.count(F.lit(1)).alias("k"))
    wc = Window.orderBy(F.col("c").desc())
    cum_keys = dist.select(
        "c",
        "k",
        F.sum("k")
        .over(wc.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_keys"),
    )
    # c_thr = count of the rank-R token (largest c whose running key
    # count reaches R, scanning counts descending); NULL when the
    # vocabulary is smaller than R — coalesced to 0 so the filter
    # keeps everything (counts are >= 1).
    thr = cum_keys.agg(
        F.coalesce(
            F.max(F.when(F.col("cum_keys") >= top_rank, F.col("c"))),
            F.lit(0).cast("long"),
        ).alias("c_thr"),
        F.sum(F.col("c") * F.col("k")).alias("n"),
    )
    top = counts.join(F.broadcast(thr)).filter(F.col("c") >= F.col("c_thr"))
    w = Window.orderBy(F.col("c").desc(), "tok")
    ranked = top.select(
        "c",
        "n",
        F.row_number().over(w).alias("rk"),
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    ladder = F.array(*[F.lit(v) for v in COVERAGE_LADDER])
    return (
        ranked.filter(F.array_contains(ladder, F.col("rk")))
        .select(
            F.col("rk").alias("v"),
            F.expr(ss_ppm("cum", "n")).alias("coverage_ppm"),
        )
        .orderBy("v")
    )


def key_skew_report(df: DataFrame, key: str) -> DataFrame:
    """1-row exact skew summary of ``df[key]``: ``(n_rows, n_keys,
    p50_c, p99_c, max_c, top1_share_ppm)``.

    p50/p99 are exact order statistics of the per-key count
    distribution, computed over the COMPACTED (count → n_keys)
    relation — its cardinality is the number of DISTINCT count
    values, far below the key count, so the single-partition window
    is bounded."""
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("c"))
    dist = counts.groupBy("c").agg(F.count(F.lit(1)).alias("k"))
    w = Window.orderBy("c")
    cum = dist.select(
        "c",
        F.sum("k").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("k").over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("nk"),
        F.sum(F.col("c") * F.col("k")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n"),
    )
    return cum.agg(
        F.max("n").alias("n_rows"),
        F.max("nk").alias("n_keys"),
        F.min(F.when(F.col("cum") * 100 >= F.col("nk") * 50, F.col("c"))).alias("p50_c"),
        F.min(F.when(F.col("cum") * 100 >= F.col("nk") * 99, F.col("c"))).alias("p99_c"),
        F.max("c").alias("max_c"),
    ).select(
        "n_rows",
        "n_keys",
        "p50_c",
        "p99_c",
        "max_c",
        F.expr(ss_ppm("max_c", "n_rows")).alias("top1_share_ppm"),
    )


def seqlen_bucket_waste(docs: DataFrame) -> DataFrame:
    """``(bucket_len, n_docs, pad_tokens, waste_ppm)``: padding cost of
    batching docs at each ladder rung (docs longer than the largest
    rung go to the largest rung, truncated — counted as 0 pad)."""
    lens = docs.select(
        F.size(F.split(F.col("text"), " ")).cast("long").alias("len")
    )
    ladder = list(BUCKET_LADDER)
    # smallest rung >= len (or the largest rung, truncating): the
    # per-row bucket assignment is a chained when — map-only
    bucket = F.lit(ladder[-1])
    for rung in reversed(ladder):
        bucket = F.when(F.col("len") <= rung, F.lit(rung)).otherwise(bucket)
    pad = F.greatest(F.col("bucket_len") - F.col("len"), F.lit(0))
    per = (
        lens.select("len", bucket.cast("long").alias("bucket_len"))
        .groupBy("bucket_len")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(pad).alias("pad_tokens"),
            F.sum(F.least(F.col("len"), F.col("bucket_len"))).alias("kept"),
        )
    )
    return per.select(
        "bucket_len",
        "n_docs",
        "pad_tokens",
        F.expr(ss_ppm("pad_tokens", "pad_tokens + kept")).alias("waste_ppm"),
    ).orderBy("bucket_len")


@register(
    "vocab_coverage_curve",
    # scalar_cross: the rank-R count threshold is a 1-row broadcast
    # joined back onto the vocabulary counts (VERDICT r11 #3).
    plan=("scalar_cross",),
    oracle=f"""
        WITH vc_c AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT unnest(string_split(text, chr(32))) AS tok
                  FROM documents)
            GROUP BY tok
        ),
        vc_r AS (
            SELECT c,
                   CAST(row_number() OVER (ORDER BY c DESC, tok) AS INTEGER) AS rk,
                   SUM(c) OVER (ORDER BY c DESC, tok) AS cum,
                   SUM(c) OVER () AS n
            FROM vc_c
        )
        SELECT rk AS v, {sql_ppm('cum', 'n')} AS coverage_ppm
        FROM vc_r WHERE rk IN ({", ".join(map(str, COVERAGE_LADDER))})
        ORDER BY v
        """,
    doc="Tokenizer-budget curve: exact corpus-token coverage ppm "
    "of the top-V vocabulary entries for V in a doubling ladder "
    "— rank + cumulative sum over the vocabulary-sized (not "
    "corpus-sized) relation",
)
def vocab_coverage_curve_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vocab_coverage_curve(load_table(spark, sf_dir, "documents"))

@register(
    "orders_key_skew_report",
    oracle=f"""
        WITH ks_c AS (
            SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS c
            FROM orders GROUP BY o_custkey
        ),
        ks_d AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS k FROM ks_c GROUP BY c),
        ks_cum AS (
            SELECT c,
                   SUM(k) OVER (ORDER BY c) AS cum,
                   SUM(k) OVER () AS nk,
                   SUM(c * k) OVER () AS n
            FROM ks_d
        ),
        ks_agg AS (
            SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
                   CAST(MAX(nk) AS BIGINT) AS n_keys,
                   CAST(MIN(CASE WHEN cum * 100 >= nk * 50 THEN c END) AS BIGINT) AS p50_c,
                   CAST(MIN(CASE WHEN cum * 100 >= nk * 99 THEN c END) AS BIGINT) AS p99_c,
                   CAST(MAX(c) AS BIGINT) AS max_c
            FROM ks_cum
        )
        SELECT n_rows, n_keys, p50_c, p99_c, max_c,
               {sql_ppm('max_c', 'n_rows')} AS top1_share_ppm
        FROM ks_agg
        """,
    doc="Shuffle pre-flight skew report for orders.o_custkey: "
    "exact p50/p99/max of the per-key count distribution plus "
    "heaviest-key row share — computed over the compacted "
    "(count → frequency) relation, never a data-row sort; the "
    "evidence for choosing salting / AQE skew handling",
)
def orders_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return key_skew_report(load_table(spark, sf_dir, "orders"), "o_custkey")

@register(
    "seqlen_bucket_waste",
    plan=("global_sort",),
    oracle=f"""
        WITH sb_l AS (
            SELECT CAST(len(string_split(text, chr(32))) AS BIGINT) AS l
            FROM documents
        ),
        sb_b AS (
            SELECT l,
                   CASE {" ".join(f"WHEN l <= {r} THEN {r}" for r in BUCKET_LADDER)}
                        ELSE {BUCKET_LADDER[-1]} END AS bucket_len
            FROM sb_l
        ),
        sb_g AS (
            SELECT CAST(bucket_len AS BIGINT) AS bucket_len,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(GREATEST(bucket_len - l, 0)) AS BIGINT) AS pad_tokens,
                   CAST(SUM(LEAST(l, bucket_len)) AS BIGINT) AS kept
            FROM sb_b GROUP BY bucket_len
        )
        SELECT bucket_len, n_docs, pad_tokens,
               {sql_ppm('pad_tokens', 'pad_tokens + kept')} AS waste_ppm
        FROM sb_g ORDER BY bucket_len
        """,
    doc="Batching-efficiency report: padding tokens and exact "
    "waste ppm if docs are batched at each bucket rung (16..128, "
    "longest rung truncates) — the evidence for bucketed batching "
    "vs sequence packing (doc_pack_sequences)",
)
def seqlen_bucket_waste_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return seqlen_bucket_waste(load_table(spark, sf_dir, "documents"))

@register(
    "join_blowup_estimate",
    oracle=f"""
        WITH jb_c AS (
            SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
            FROM lineitem GROUP BY l_partkey
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(c) AS BIGINT) AS n_rows,
               CAST(SUM(c * c) AS BIGINT) AS selfjoin_rows,
               CAST(SUM(c * (c - 1)) // 2 AS BIGINT) AS distinct_pairs,
               CAST(MAX(c) AS BIGINT) AS max_key_rows,
               {sql_ppm('CAST(MAX(c) AS BIGINT) * CAST(MAX(c) AS BIGINT)',
                        'CAST(SUM(c * c) AS BIGINT)')} AS top_key_cost_ppm
        FROM jb_c
        """,
    doc="Join blow-up estimator: the EXACT output size a self-"
    "equi-join on lineitem.l_partkey would produce (Σc² rows, "
    "Σc(c-1)/2 distinct pairs) from one keyed count — the Σdf² "
    "candidate-cost arithmetic the dedup posting joins budget "
    "with, productized as a pre-flight diagnostic; top-key ppm "
    "share shows whether one hot key dominates the quadratic cost",
)
def join_blowup_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overflow contract (ppm-style, functions/numeric.py): Σc² is
        BIGINT, so the estimator requires every per-key count
        c < 2^31.5 ≈ 3.04e9 (and Σc² < 2^63 overall). Past that bound
        BOTH engines raise loudly (ANSI Spark ARITHMETIC_OVERFLOW,
        DuckDB out-of-range) — never a silent cross-engine divergence.
        A 100 TB deployment whose hot keys can exceed ~3e9 rows should
        pre-scale (count in millions) before squaring; kept exact here
        because the diagnostic's value IS its exactness in the regime
        where the joins it guards are still plannable."""
    c = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return c.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("n_rows"),
        F.sum(F.col("c") * F.col("c")).alias("selfjoin_rows"),
        # exact `div 2` (the sum is always even) — double `/` + cast
        # truncates vs DuckDB's rounding cast past 2^53, exactly
        # the regime a blow-up estimator exists to warn about
        F.expr(ss_floordiv("sum(c * (c - 1))", "2")).alias("distinct_pairs"),
        F.max("c").alias("max_key_rows"),
    ).select(
        "n_keys",
        "n_rows",
        "selfjoin_rows",
        "distinct_pairs",
        "max_key_rows",
        F.expr(
            ss_ppm("max_key_rows * max_key_rows", "selfjoin_rows")
        ).alias("top_key_cost_ppm"),
    )


# --------------------------------------------------------------------------
# Token burstiness (Church & Gale 1995): mean occurrences per document
# CONTAINING the token. Stopword-like tokens spread evenly
# (burstiness ~= 1); topical/content tokens clump — when they appear
# at all, they appear repeatedly. The ranking separates the two
# without any stopword list, which is why burstiness feeds stopword
# induction and keyword weighting in corpus pipelines.
# --------------------------------------------------------------------------
BURST_MIN_DF = 5
BURST_TOPK = 50


@register(
    "token_burstiness_topk",
    oracle=f"""
    WITH tb_t AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    tb_s AS (
        SELECT token,
               CAST(count(*) AS BIGINT) AS tf,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM tb_t GROUP BY token
    )
    SELECT token, tf, df,
           {sql_ratio_e6('tf', 'df')} AS burstiness_e6
    FROM tb_s
    WHERE df >= {BURST_MIN_DF}
    ORDER BY burstiness_e6 DESC, token
    LIMIT {BURST_TOPK}
    """,
    doc=(
        "token burstiness (Church & Gale): total occurrences per "
        "document containing the token, in exact ppm — topical tokens "
        "clump (high), function words spread (~1e6); min-df floor plus "
        "deterministic top-k via TakeOrderedAndProject; one explode + "
        "one map-side-combined groupBy"
    ),
)
def token_burstiness_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ss_ratio_e6, not tf*1e6//df: per-token tf exceeds ~9.2e12 at the
    # 100 TB design point and the naive product wraps BIGINT (r9
    # advice); ss_ppm is also out — its count ≤ total precondition is
    # violated by tf ≥ df by definition.
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    s = t.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("tf"),
        F.countDistinct("doc_id").cast("long").alias("df"),
    )
    return (
        s.filter(F.col("df") >= BURST_MIN_DF)
        .select(
            "token",
            "tf",
            "df",
            F.expr(ss_ratio_e6("tf", "df")).alias("burstiness_e6"),
        )
        .orderBy(F.col("burstiness_e6").desc(), "token")
        .limit(BURST_TOPK)
    )


# --------------------------------------------------------------------------
# Vocabulary richness: Chao1 species-richness estimate + Good-Turing
# unseen mass. The "how much vocabulary have we NOT seen yet" corpus
# diagnostic — Chao1 (1984) lower-bounds the true vocabulary from the
# hapax/dis counts (V + f1(f1-1)/(2(f2+1))), Good-Turing estimates the
# probability mass of unseen tokens as f1/N. Both drive "is more crawl
# worth it" and OOV-rate expectations for tokenizer design.
# --------------------------------------------------------------------------
@register(
    "vocab_richness_estimates",
    oracle="""
    WITH vr_t AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    vr_f AS (
        SELECT token, CAST(count(*) AS BIGINT) AS tf FROM vr_t GROUP BY token
    )
    SELECT CAST(count(*) AS BIGINT) AS vocab,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
           CAST(sum(CASE WHEN tf = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
           CAST(count(*)
              + sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END)
              * (sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) - 1)
              // (2 * (sum(CASE WHEN tf = 2 THEN 1 ELSE 0 END) + 1))
                AS BIGINT) AS chao1_vocab_est,
           CAST((sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) * 1000)
                // sum(tf) * 1000
              + ((sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) * 1000)
                 % sum(tf)) * 1000 // sum(tf)
                AS BIGINT) AS unseen_mass_ppm
    FROM vr_f
    """,
    doc=(
        "vocabulary richness: Chao1 bias-corrected species estimate "
        "(V + f1(f1-1)/(2(f2+1)), exact integer; overflow contract "
        "f1 < 3e9 hapaxes — ANSI raises loudly past it) and the "
        "Good-Turing unseen-token mass f1/N in exact ppm; one explode "
        "+ one map-side-combined groupBy + a 1-row aggregate"
    ),
)
def vocab_richness_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
    f = t.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    one = "CAST(sum(CAST((tf = 1) AS BIGINT)) AS BIGINT)"
    two = "CAST(sum(CAST((tf = 2) AS BIGINT)) AS BIGINT)"
    v = "CAST(count(1) AS BIGINT)"
    n = "CAST(sum(tf) AS BIGINT)"
    chao1 = f"{v} + {ss_floordiv(f'{one} * ({one} - 1)', f'({two} + 1) * 2')}"
    return f.agg(
        F.expr(v).alias("vocab"),
        F.expr(n).alias("n_tokens"),
        F.expr(one).alias("f1"),
        F.expr(two).alias("f2"),
        F.expr(chao1).alias("chao1_vocab_est"),
        F.expr(ss_ppm(one, n)).alias("unseen_mass_ppm"),
    )
