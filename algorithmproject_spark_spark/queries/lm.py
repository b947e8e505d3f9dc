"""Unigram language-model scoring — perplexity-style quality filtering.

The CCNet recipe (Wenzek et al., LREC 2020) ranks web documents by
their perplexity under a language model trained on trusted text; docs
with extreme perplexity are boilerplate/gibberish candidates. The
reference's quality stack stops at rule scores (its quality checks are
length/ratio heuristics); this adds the distributional half: a unigram
LM fit on the corpus itself, and per-document cross-entropy under it.

    xent(d) = -(1/n_d) Σ_t c_dt · ln(c_t / N)
            =  (1/n_d) Σ_t c_dt · (ln N − ln c_t)

Determinism discipline (functions/numeric.py): float SUMS are
partition-order dependent, so every per-(doc,token) term is converted
to exact micro-nat integers FIRST — floor(x·10⁶ + 0.5) is pure IEEE,
bit-identical in any engine — then summed as BIGINTs and floor-divided
by the token count. The result is identical across partitionings,
re-runs, and engines. (ln itself is the one library call both engines
evaluate on identical doubles; a term landing within 1e-10 of a
rounding boundary could in principle differ by 1 micro-nat — the same
accepted exposure as the TF-IDF family, hash-green since round 1.)

Plan shape: one explode + (doc,token) count shuffle; vocabulary agg of
the cached count relation; corpus total as a broadcast 1-row scalar;
vocabulary joined BACK via broadcast (vocab-sized dimension, the
tfidf_top_terms precedent); one doc_id agg. No self-joins, no windows,
no Python. Overflow: Σ term_e6 ≤ n_d · ln(N) · 10⁶ — a 10⁹-token doc
under a 10¹⁸-token corpus stays < 5e16, far inside BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pyspark.sql import Window as W

from algorithmproject_spark_spark.cacheutil import tracked_cache
from algorithmproject_spark_spark.functions.numeric import ss_floordiv, ss_micros
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

TOPK_SURPRISING = 20
ZIPF_TOP_V = 1000  # rank ladder for the log-log fit
# 0.02-nat histogram bands: the synthetic corpus' xent spread is a few
# tenths of a nat, so nat-sized bands would collapse to one bucket;
# banding floor-divides EXACT integer micro-nats, so band membership
# carries zero float-boundary risk at any width
BAND_NATS_E6 = 20_000

# Shared CTE prefix for both oracles — the SQL twin of _doc_xent.
_XENT_CTES = """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents
    ),
    dtc AS (
        SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c_dt
        FROM tok GROUP BY doc_id, t
    ),
    vocab AS (
        SELECT t, CAST(sum(c_dt) AS BIGINT) AS c_t
        FROM dtc GROUP BY t
    ),
    tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n FROM vocab),
    terms AS (
        SELECT doc_id,
               CAST(floor(
                   c_dt * (ln(n) - ln(c_t)) * 1000000.0 + 0.5
               ) AS BIGINT) AS term_e6,
               c_dt
        FROM dtc JOIN vocab USING (t) CROSS JOIN tot
    ),
    perdoc AS (
        SELECT doc_id,
               CAST(sum(term_e6) AS BIGINT) AS s_e6,
               CAST(sum(c_dt) AS BIGINT) AS n_tok
        FROM terms GROUP BY doc_id
    ),
    xent AS (
        SELECT doc_id, n_tok, s_e6 // n_tok AS xent_e6 FROM perdoc
    )
"""


def _doc_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tok, xent_e6) — per-doc unigram cross-entropy in
    exact micro-nats."""
    docs = load_table(spark, sf_dir, "documents")
    # same raw-split tokenization as the itemset/co-occurrence family
    # (itemsets.py::_doc_tokens) so LM stats compose with theirs
    dtc = tracked_cache(
        docs.select(
            "doc_id",
            F.explode(F.split(F.col("text"), " ")).alias("t"),
        )
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c_dt"))
    )
    vocab = dtc.groupBy("t").agg(F.sum("c_dt").alias("c_t"))
    tot = vocab.agg(F.sum("c_t").alias("n"))
    terms = (
        # vocabulary dimension → broadcast (tfidf_top_terms precedent):
        # avoids shuffling the (doc, token) relation on a skewed token
        # key just to fetch one count per row
        dtc.join(F.broadcast(vocab), "t")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "term_e6",
            F.expr(ss_micros("CAST(c_dt AS DOUBLE) * (ln(n) - ln(c_t))")),
        )
    )
    perdoc = terms.groupBy("doc_id").agg(
        F.sum("term_e6").alias("s_e6"),
        F.sum("c_dt").alias("n_tok"),
    )
    return perdoc.select(
        "doc_id",
        "n_tok",
        F.expr(ss_floordiv("s_e6", "n_tok")).alias("xent_e6"),
    )


@register(
    "doc_unigram_surprise_topk",
    oracle=_XENT_CTES
    + f"""
    SELECT x.doc_id, d.lang, x.n_tok, x.xent_e6
    FROM xent x JOIN documents d USING (doc_id)
    ORDER BY xent_e6 DESC, doc_id LIMIT {TOPK_SURPRISING}
    """,
    doc=(
        "CCNet-style quality filter: top-20 most-surprising docs by "
        "unigram-LM cross-entropy (exact micro-nats)"
    ),
    plan=("scalar_cross",),
)
def doc_unigram_surprise_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        _doc_xent(spark, sf_dir)
        .join(docs, "doc_id")
        .orderBy(F.desc("xent_e6"), F.asc("doc_id"))
        .limit(TOPK_SURPRISING)
        .select("doc_id", "lang", "n_tok", "xent_e6")
    )


@register(
    "corpus_xent_bands",
    oracle=_XENT_CTES
    + f"""
    SELECT xent_e6 // {BAND_NATS_E6} AS band_idx,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS tokens
    FROM xent GROUP BY 1 ORDER BY band_idx
    """,
    doc=(
        "corpus cross-entropy histogram (0.02-nat bands) — the "
        "distribution the CCNet head/middle/tail cut reads"
    ),
    plan=("scalar_cross",),
)
def corpus_xent_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _doc_xent(spark, sf_dir)
        .withColumn(
            "band_idx", F.expr(ss_floordiv("xent_e6", str(BAND_NATS_E6)))
        )
        .groupBy("band_idx")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tokens"),
        )
        # no orderBy: the band relation is tiny and the driver's
        # hash-compare sorts rows — a global sort here would be a
        # gratuitous rangepartitioning exchange
    )


@register(
    "corpus_zipf_slope",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ),
    counts AS (
        SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t
    ),
    top AS (SELECT t, c FROM counts ORDER BY c DESC, t LIMIT {ZIPF_TOP_V}),
    ranked AS (
        SELECT c, row_number() OVER (ORDER BY c DESC, t) AS rank FROM top
    ),
    terms AS (
        SELECT CAST(floor(ln(rank) * 1000.0 + 0.5) AS BIGINT) AS x,
               CAST(floor(ln(c)    * 1000.0 + 0.5) AS BIGINT) AS y
        FROM ranked
    ),
    s AS (
        SELECT CAST(count(*)  AS BIGINT) AS n,
               CAST(sum(x)    AS BIGINT) AS sx,
               CAST(sum(y)    AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM terms
    )
    SELECT n AS n_vocab,
           CAST(floor(
               CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE)
               * 1000000.0 + 0.5
           ) AS BIGINT) AS slope_e6,
           CAST(floor(
               (CAST(n * sxy - sx * sy AS DOUBLE)
                * CAST(n * sxy - sx * sy AS DOUBLE))
               / (CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(n * syy - sy * sy AS DOUBLE))
               * 1000000.0 + 0.5
           ) AS BIGINT) AS r2_e6
    FROM s
    """,
    doc=(
        "Zipf exponent of the token frequency distribution: closed-form "
        "OLS of ln(freq) on ln(rank) over the top-1000 vocabulary, all "
        "sums as exact integers (micro-scaled per-row logs), the final "
        "slope/r² a handful of IEEE ops on exactly-representable values"
    ),
)
def corpus_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Natural corpora follow freq ∝ rank^s with s ≈ −1 (Zipf, 1949);
    a corpus whose fitted slope or r² drifts between snapshots has a
    composition shift (boilerplate floods flatten the head; template
    spam steepens it). Determinism: per-row ln() values are rounded to
    exact milli-units BEFORE summing (float sums are partition-order
    dependent — functions/numeric.py), so the OLS moment sums are
    exact BIGINTs; every later product stays ≤ ~1e14, inside double's
    2^53 exact-integer range, so the one division per statistic is a
    deterministic IEEE op in both engines. Requires ≥2 distinct
    tokens (any real corpus). The rank window runs on the LIMITed
    1000-row relation — single-partition by construction, never a
    global sort of the vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = counts.orderBy(F.desc("c"), F.asc("t")).limit(ZIPF_TOP_V)
    ranked = top.withColumn(
        "rank", F.row_number().over(W.orderBy(F.desc("c"), F.asc("t")))
    )
    terms = ranked.select(
        F.floor(F.log(F.col("rank")) * F.lit(1000.0) + F.lit(0.5))
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("c")) * F.lit(1000.0) + F.lit(0.5))
        .cast("long")
        .alias("y"),
    )
    s = terms.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = "CAST(n * sxy - sx * sy AS DOUBLE)"
    den_x = "CAST(n * sxx - sx * sx AS DOUBLE)"
    den_y = "CAST(n * syy - sy * sy AS DOUBLE)"
    return s.select(
        F.col("n").alias("n_vocab"),
        F.expr(ss_micros(f"{num} / {den_x}")).alias("slope_e6"),
        F.expr(ss_micros(f"({num} * {num}) / ({den_x} * {den_y})")).alias(
            "r2_e6"
        ),
    )
