"""Text-analytics queries — SURVEY.md §2.9 (T2-T5, T8, T18) plus the
training-data-pipeline extensions (token stats, quality scoring,
language-ID heuristic, document fingerprinting).

Everything here is pure Catalyst (HOFs + explode + groupBy + window) —
no Python UDFs — so plans stay inside whole-stage codegen and scale by
shuffle alone. Oracle SQL computes the identical integer/string results
in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from algorithmproject_spark_spark.cacheutil import tracked_cache
from algorithmproject_spark_spark.functions.hashing import (
    sql_char_fold_hash,
    ss_char_fold_hash,
)
from algorithmproject_spark_spark.functions.numeric import sql_micros, ss_micros
from algorithmproject_spark_spark.functions.text import (
    sql_ngrams,
    sql_stopword_list,
    ss_ngrams,
    ss_stopword_array,
    ss_tokenize,
)
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table


# --------------------------------------------------------------------------
# Flagship: tokenize → explode → stopword filter → count → top-k.
# Phase-0 slice from SURVEY.md §7: exercises scan, projection, UDF-free
# text ops, explode, agg, window ordering in one plan.
# --------------------------------------------------------------------------
@register(
    "doc_wordcount_topk",
    oracle=f"""
    SELECT word, n FROM (
        SELECT word, count(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE NOT list_contains({sql_stopword_list()}, word)
        GROUP BY word
    )
    ORDER BY n DESC, word
    LIMIT 20
    """,
    doc="flagship: corpus word frequency top-20 (reference: RDD reduceByKey word counts, NewsLDA.scala:76-81)",
)
def doc_wordcount_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.selectExpr(f"explode({ss_tokenize('text')}) AS word")
        .filter(f"NOT array_contains({ss_stopword_array()}, word)")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# T3: n-gram generation via HOFs; bigram frequency table.
# --------------------------------------------------------------------------
@register(
    "doc_bigram_topk",
    oracle=f"""
    SELECT bigram, n FROM (
        SELECT bigram, count(*) AS n
        FROM (
            SELECT unnest({sql_ngrams("string_split(text, ' ')", 2)}) AS bigram
            FROM documents
        )
        GROUP BY bigram
    )
    ORDER BY n DESC, bigram
    LIMIT 30
    """,
    doc="T3: 2-gram generation (NewsNgrams.scala:17-32) + frequency top-30",
)
def doc_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.selectExpr(
            f"explode({ss_ngrams(ss_tokenize('text'), 2)}) AS bigram"
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(30)
    )


# --------------------------------------------------------------------------
# Token statistics per document (training-data pipeline: token counting).
# --------------------------------------------------------------------------
DOC_TOKEN_STATS_SQL = """
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct,
           length(text) AS n_chars_actual,
           CAST(floor((CAST(length(text) AS DOUBLE) / len(string_split(text, ' '))) * 1000000.0 + 0.5) AS BIGINT)
               AS chars_per_token_e6
    FROM documents
    """


@register(
    "doc_token_stats",
    oracle=DOC_TOKEN_STATS_SQL,
    doc="token counting + type/token stats per doc",
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # one-parse text glue (r13): identical expressions (the Column
    # form also re-embedded the split() subtree per reference)
    return docs.selectExpr(
        "doc_id",
        "size(split(text, ' ')) AS n_tokens",
        "size(array_distinct(split(text, ' '))) AS n_distinct",
        "length(text) AS n_chars_actual",
        ss_micros(
            "CAST(length(text) AS DOUBLE) / size(split(text, ' '))"
        )
        + " AS chars_per_token_e6",
    )


# --------------------------------------------------------------------------
# Quality scoring (training-data pipeline): stopword ratio, repetition,
# length gates — the kind of filters a 100 TB corpus pipeline runs
# before training (reference analogue: corpus cost filters,
# PrepData.scala:184-188: content>300 chars, 20<grams<200).
# --------------------------------------------------------------------------
DOC_QUALITY_SCORE_SQL = f"""
    SELECT doc_id,
           sw_ratio_e6,
           rep_ratio_e6,
           n_tokens,
           CASE WHEN n_tokens BETWEEN 20 AND 200
                 AND sw_ratio_e6 < 500000
                 AND rep_ratio_e6 > 300000
                THEN 1 ELSE 0 END AS keep
    FROM (
        SELECT doc_id,
               len(toks) AS n_tokens,
               CAST(floor((CAST(len(list_filter(toks, t_ -> list_contains({sql_stopword_list()}, t_))) AS DOUBLE)
                    / len(toks)) * 1000000.0 + 0.5) AS BIGINT) AS sw_ratio_e6,
               CAST(floor((CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 1000000.0 + 0.5) AS BIGINT)
                   AS rep_ratio_e6
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    )
    """


@register(
    "doc_quality_score",
    oracle=DOC_QUALITY_SCORE_SQL,
    doc="quality gates: stopword ratio / repetition ratio / length band",
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = "split(text, ' ')"
    sw = (
        f"size(filter({toks}, t -> array_contains("
        f"{ss_stopword_array()}, t)))"
    )
    out = docs.selectExpr(
        "doc_id",
        ss_micros(f"CAST({sw} AS DOUBLE) / size({toks})")
        + " AS sw_ratio_e6",
        ss_micros(
            f"CAST(size(array_distinct({toks})) AS DOUBLE) / size({toks})"
        )
        + " AS rep_ratio_e6",
        f"size({toks}) AS n_tokens",
    )
    return out.withColumn(
        "keep",
        F.expr(
            "CASE WHEN n_tokens BETWEEN 20 AND 200"
            " AND sw_ratio_e6 < 500000 AND rep_ratio_e6 > 300000"
            " THEN 1 ELSE 0 END"
        ),
    )


# --------------------------------------------------------------------------
# Language-ID heuristic (training-data pipeline). The synthetic corpus
# shares one vocabulary across langs, so this checks MECHANICS (marker
# hit counting + deterministic argmax), not linguistic accuracy.
# --------------------------------------------------------------------------
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "scan", "join"),
    "es": ("data", "table", "sort"),
    "de": ("stream", "batch", "merge"),
}


def _sql_hits(markers: tuple[str, ...]) -> str:
    lst = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
    return f"len(list_filter(toks, t_ -> list_contains({lst}, t_)))"


DOC_LANG_ID_SQL = f"""
    SELECT doc_id, lang,
           CASE
             WHEN en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
             WHEN es_hits >= de_hits THEN 'es'
             ELSE 'de'
           END AS pred_lang,
           en_hits, es_hits, de_hits
    FROM (
        SELECT doc_id, lang,
               {_sql_hits(_LANG_MARKERS["en"])} AS en_hits,
               {_sql_hits(_LANG_MARKERS["es"])} AS es_hits,
               {_sql_hits(_LANG_MARKERS["de"])} AS de_hits
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
    )
    """


@register(
    "doc_lang_id",
    oracle=DOC_LANG_ID_SQL,
    doc="language-ID n-gram-marker heuristic with deterministic argmax",
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")

    def hits(markers: tuple[str, ...]) -> str:
        arr = "array(" + ", ".join(f"'{m}'" for m in markers) + ")"
        return (
            f"size(filter(split(text, ' '), t -> array_contains({arr}, t)))"
        )

    df = docs.selectExpr(
        "doc_id",
        "lang",
        f"{hits(_LANG_MARKERS['en'])} AS en_hits",
        f"{hits(_LANG_MARKERS['es'])} AS es_hits",
        f"{hits(_LANG_MARKERS['de'])} AS de_hits",
    )
    return df.selectExpr(
        "doc_id",
        "lang",
        "CASE WHEN en_hits >= es_hits AND en_hits >= de_hits THEN 'en'"
        " WHEN es_hits >= de_hits THEN 'es' ELSE 'de' END AS pred_lang",
        "en_hits",
        "es_hits",
        "de_hits",
    )


# --------------------------------------------------------------------------
# Document fingerprinting (training-data pipeline): polynomial rolling
# hash of the full text — engine-portable exact integers.
# --------------------------------------------------------------------------
DOC_FINGERPRINT_SQL = f"""
    SELECT doc_id, {sql_char_fold_hash("text")} AS fingerprint
    FROM documents
    """


@register(
    "doc_fingerprint",
    oracle=DOC_FINGERPRINT_SQL,
    doc="rolling-hash document fingerprint (exact cross-engine integers)",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", F.expr(ss_char_fold_hash("text")).alias("fingerprint"))


# --------------------------------------------------------------------------
# T8: TF-IDF keyword extraction, DataFrame-native.
# Reference: keywordextractor/TFIDF.scala:21-191 (HashingTF 80M features,
# idf = log((N+1)/(df+1)), tf floor + idf percentile threshold, rank by
# tf·idf). Here: explode → tf per (doc, word) → df per word → idf join →
# top-5 per doc by score with deterministic tie-breaks. No hashing
# collisions, no driver-side thresholds — the percentile gate becomes a
# plain filter computed in-plan.
# --------------------------------------------------------------------------
@register(
    "tfidf_top_terms",
    plan=("scalar_cross",),
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, word, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE NOT list_contains({sql_stopword_list()}, word)
        GROUP BY doc_id, word
    ),
    df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.word, tf.tf, df.df,
               {sql_micros("tf.tf * ln((CAST(n.n_docs AS DOUBLE) + 1.0) / (CAST(df.df AS DOUBLE) + 1.0))")} AS score_e6
        FROM tf
        JOIN df ON tf.word = df.word
        CROSS JOIN n
    )
    SELECT doc_id, word, tf, df, score_e6 FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score_e6 DESC, word
        ) AS rk FROM scored
    ) WHERE rk <= 5
    """,
    doc="T8: DataFrame-native TF-IDF, top-5 keywords per doc",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Corpus size as a broadcast 1-row aggregate — single Catalyst plan,
    # no driver action splitting the query into two jobs.
    n_docs = docs.agg(F.expr("CAST(count(1) AS DOUBLE) AS n_docs"))
    tf = (
        docs.selectExpr("doc_id", "explode(split(text, ' ')) AS word")
        .filter(f"NOT array_contains({ss_stopword_array()}, word)")
        .groupBy("doc_id", "word")
        .agg(F.expr("count(1) AS tf"))
    )
    # pin the tf relation — same shared-subtree rationale as
    # hashed_tfidf below (df table + scored join both consume it).
    # Re-decided on cache-isolated solo numbers (round 9): pinned
    # 2.76-3.45 s vs unpinned 2.78-2.83 s at sf1 — a wash inside the
    # VM noise band locally (the OS page cache hides the rescan), and
    # the executed adaptive plan shows ZERO ReusedExchange nodes for
    # the duplicated subtree, so unpinned genuinely re-runs the
    # scan + tokenize + explode + first shuffle. At 100 TB that second
    # pass is the dominant cost and the post-agg (doc_id, word, tf)
    # relation is the smallest shared form — the pin stays.
    tf = tracked_cache(tf)
    df_tbl = tf.groupBy("word").agg(F.expr("count(1) AS df"))
    idf = "ln((n_docs + 1.0D) / (CAST(df AS DOUBLE) + 1.0D))"
    scored = (
        # word-dimension table is vocab-sized → broadcast to avoid
        # shuffling the big (doc, word) side on a skewed word key.
        tf.join(F.broadcast(df_tbl), "word")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score_e6", F.expr(ss_micros(f"tf * {idf}")))
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score_e6"), F.asc("word"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter("rk <= 5")
        .select("doc_id", "word", "tf", "df", "score_e6")
    )


# --------------------------------------------------------------------------
# T8 HashingTF variant — the reference's actual TF-IDF jobs feature-hash
# terms instead of keying on strings (label/keywordextractor/TFIDF.scala:24
# — HashingTF numFeatures=80,000,000; label/UserTextLabelCalc.scala:44).
# Same pipeline as tfidf_top_terms but the key is hash(word) % dims:
# fixed-width state independent of vocabulary size, at the cost of
# collisions merging terms. The hash is the engine's portable
# polynomial fold, so DuckDB computes identical feature ids and the
# variant stays oracle-gated (Spark ml's murmur3 HashingTF has no DuckDB
# twin). Dims are parameterized via hashed_tfidf(); at 2^18 the test
# vocab is collision-free, which tests/test_keywords.py exploits to
# prove score agreement with the exact-string path.
# --------------------------------------------------------------------------
TFIDF_NUM_FEATURES = 1 << 18


def hashed_tfidf(docs: DataFrame, num_features: int = TFIDF_NUM_FEATURES) -> DataFrame:
    """Feature-hashed TF-IDF: top-5 features per doc, HashingTF-style."""
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    tf = (
        docs.selectExpr("doc_id", f"explode({ss_tokenize('text')}) AS word")
        .filter(f"NOT array_contains({ss_stopword_array()}, word)")
        .select(
            "doc_id",
            F.expr(f"{ss_char_fold_hash('word')} % {num_features}").alias("feature"),
        )
        .groupBy("doc_id", "feature")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # pin the tf relation: the df table and the scored join both
    # consume it, and Catalyst does not dedupe the shared subtree —
    # uncached, the tokenize+explode+hash front end ran twice
    tf = tracked_cache(tf)
    df_tbl = tf.groupBy("feature").agg(F.count(F.lit(1)).alias("df"))
    idf = "ln((n_docs + 1.0D) / (CAST(df AS DOUBLE) + 1.0D))"
    scored = (
        tf.join(F.broadcast(df_tbl), "feature")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score_e6", F.expr(ss_micros(f"tf * {idf}")))
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score_e6"), F.asc("feature"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "feature", "tf", "df", "score_e6")
    )


@register(
    "tfidf_hashed_top_terms",
    plan=("scalar_cross",),
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, ({sql_char_fold_hash('word')}) % {TFIDF_NUM_FEATURES} AS feature,
               count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE NOT list_contains({sql_stopword_list()}, word)
        GROUP BY doc_id, feature
    ),
    df AS (SELECT feature, count(*) AS df FROM tf GROUP BY feature),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.feature, tf.tf, df.df,
               {sql_micros("tf.tf * ln((CAST(n.n_docs AS DOUBLE) + 1.0) / (CAST(df.df AS DOUBLE) + 1.0))")} AS score_e6
        FROM tf
        JOIN df ON tf.feature = df.feature
        CROSS JOIN n
    )
    SELECT doc_id, feature, tf, df, score_e6 FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score_e6 DESC, feature
        ) AS rk FROM scored
    ) WHERE rk <= 5
    """,
    doc="T8 HashingTF variant: feature-hashed TF-IDF (hash(word) % 2^18), "
    "top-5 features per doc — fixed-width keys independent of vocab size",
)
def tfidf_hashed_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hashed_tfidf(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# T18/T14: dictionary hit-listing — token-set membership against a word
# list (SensitiveWordsStatic.scala:26-52 collects + broadcasts the list;
# here the list is an in-plan literal → array_intersect, zero shuffle).
# --------------------------------------------------------------------------
_SENSITIVE = ("error", "dup", "skew", "spill")


@register(
    "doc_sensitive_words",
    oracle=f"""
    SELECT word, count(*) AS n FROM (
        SELECT doc_id, unnest(list_distinct(list_filter(string_split(text, ' '),
               t_ -> list_contains({'[' + ', '.join(f"'{w}'" for w in _SENSITIVE) + ']'}, t_)))) AS word
        FROM documents
    ) GROUP BY word
    """,
    doc="T18: sensitive-word doc-frequency via array ops (no UDF, no broadcast collect)",
)
def doc_sensitive_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sens = F.array(*[F.lit(w) for w in _SENSITIVE])
    return (
        docs.select(
            F.explode(
                F.array_distinct(F.array_intersect(F.expr(ss_tokenize("text")), sens))
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# BPE-ish token counting (training-data extension): a GPT-2-style
# pre-tokenizer regex — contraction suffixes, space-prefixed letter
# runs, digit runs, punctuation runs — as the budget-estimation
# tokenizer a 100 TB pipeline runs before the real BPE. Pure
# regexp_extract_all: JVM-side, per-row narrow, no shuffle besides the
# final projection.
# --------------------------------------------------------------------------
_BPE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"


@register(
    "doc_bpe_token_stats",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_BPE_RE.replace("'", "''")}')) AS n_bpe_tokens,
           len(string_split(text, ' ')) AS n_ws_tokens
    FROM documents
    """,
    doc="BPE-ish pre-tokenizer token counts (GPT-2-style regex) vs "
    "whitespace counts — training-budget estimation per doc",
)
def doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0)).alias("n_bpe_tokens"),
        F.expr(f"size({ss_tokenize('text')}) AS n_ws_tokens"),
    )
