"""Keyword-extraction queries — SURVEY.md §2.9 T10/T11/T12.

- ``rake_topk`` runs the pandas-UDF RAKE kernel (``ml/rake.py``,
  reference ``label/searchword/SearchwordLabelRake.scala:14-124``) and
  checks it against a full DuckDB SQL re-derivation of the same
  closed-form algorithm — the strongest kind of oracle: two independent
  implementations, bit-exact integer outputs.
- ``textrank_topk`` is the per-document power-iteration TextRank
  (``ml/textrank.py``, reference ``label/keywordextractor/
  TextRank.scala:20-125``) in exact fixed-point integer arithmetic
  (damping 17/20, truncating division — same scheme as
  ``corpus_pagerank``), oracle-checked against an unrolled DuckDB CTE
  re-derivation; the kernel keeps closed-form unit tests in
  ``tests/test_keywords.py``.
- ``label_combine_keywords`` is the T12 combiner
  (``label/keywordextractor/LabelCombine.scala:18-106``): full outer
  join of two extractor outputs with key coalescing (J4) — integer
  score domain keeps the combination oracle-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from algorithmproject_spark_spark.functions.text import sql_stopword_list
from algorithmproject_spark_spark.ml import rake, textrank
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.queries.text import tfidf_top_terms
from algorithmproject_spark_spark.sources.catalog import load_table

# DuckDB twin of ml/rake.py: sentences → stopword-delimited runs
# truncated to 3 tokens → word freq/degree → phrase score = left-fold
# sum of degree/freq (list_reduce matches Python's sum() order, so the
# doubles are bit-identical) → top-10 per doc by (score desc, phrase).
_RAKE_ORACLE = f"""
WITH sent AS (
    SELECT doc_id, unnest(ss) AS sent, generate_subscripts(ss, 1) AS sidx
    FROM (SELECT doc_id,
                 regexp_split_to_array(lower(text), '[.!?,;:\\t\\n\\r"()\\[\\]]+') AS ss
          FROM documents)
),
tok AS (
    SELECT doc_id, sidx, unnest(ts) AS tok, generate_subscripts(ts, 1) AS tidx
    FROM (SELECT doc_id, sidx,
                 list_filter(regexp_split_to_array(sent, '\\s+'), t_ -> t_ <> '') AS ts
          FROM sent)
),
runs AS (
    SELECT *, sum(CASE WHEN sw THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id, sidx ORDER BY tidx) AS run_id
    FROM (SELECT *, list_contains({sql_stopword_list()}, tok) AS sw FROM tok)
),
phrases AS (
    SELECT doc_id, sidx, run_id,
           list_slice(list(tok ORDER BY tidx), 1, 3) AS ph
    FROM runs WHERE NOT sw
    GROUP BY doc_id, sidx, run_id
),
words AS (SELECT doc_id, unnest(ph) AS w, len(ph) AS plen FROM phrases),
stats AS (
    SELECT doc_id, w, count(*) AS freq, sum(plen) AS degree
    FROM words GROUP BY doc_id, w
),
ph_tok AS (
    SELECT doc_id, ph, unnest(ph) AS w, generate_subscripts(ph, 1) AS pidx
    FROM (SELECT DISTINCT doc_id, ph FROM phrases)
),
scored AS (
    SELECT doc_id, array_to_string(ph, ' ') AS phrase,
           list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                            list(CAST(degree AS DOUBLE) / freq ORDER BY pidx)),
               (a_, b_) -> a_ + b_) AS score
    FROM ph_tok JOIN stats USING (doc_id, w)
    GROUP BY doc_id, ph
)
SELECT doc_id, phrase,
       CAST(floor(score * 1000000.0 + 0.5) AS BIGINT) AS score_e6,
       CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (
          PARTITION BY doc_id ORDER BY score DESC, phrase) AS rank
      FROM scored)
WHERE rank <= 10
"""


@register(
    "rake_topk",
    plan=("arrow",),
    oracle=_RAKE_ORACLE,
    doc="T11: RAKE keywords via Arrow pandas_udf, top-10 per doc, "
    "oracle = independent SQL re-derivation",
)
def rake_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return rake.extract_keywords(docs, top_k=10)


def _sql_textrank(iterations: int, scale: int, window: int, top_k: int) -> str:
    """DuckDB twin of the integer-exact per-doc TextRank: same
    fixed-point update as the mapInPandas kernel (Python bigints ==
    BIGINT), loop unrolled one CTE per iteration, keys (doc_id, word)."""
    assert window == 2, "oracle hardcodes the window-2 distance set"
    stoplist = sql_stopword_list()
    head = f"""
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    pw AS (
        SELECT doc_id, e.i AS pos0, e.w AS word FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
                   i -> struct_pack(i := i, w := t[i]))) AS e
            FROM toks
        )
    ),
    words AS (
        SELECT doc_id, word,
               row_number() OVER (PARTITION BY doc_id ORDER BY pos0) AS p
        FROM pw WHERE NOT list_contains({stoplist}, word)
    ),
    adj AS (
        SELECT a.doc_id, a.word AS src, b.word AS dst
        FROM words a JOIN words b
          ON a.doc_id = b.doc_id AND b.p - a.p IN (1, 2) AND a.word <> b.word
    ),
    sym AS (SELECT doc_id, src, dst FROM adj
            UNION ALL SELECT doc_id, dst, src FROM adj),
    edges AS (SELECT doc_id, src, dst, count(*) AS w
              FROM sym GROUP BY doc_id, src, dst),
    outw AS (SELECT doc_id, src, sum(w) AS out_w
             FROM edges GROUP BY doc_id, src),
    en AS (SELECT e.doc_id, e.src, e.dst, e.w, o.out_w
           FROM edges e JOIN outw o ON e.doc_id = o.doc_id AND e.src = o.src),
    nodes AS (SELECT DISTINCT doc_id, word FROM words),
    nn AS (SELECT doc_id, count(*) AS n FROM nodes GROUP BY doc_id),
    r0 AS (SELECT nodes.doc_id, nodes.word,
                  CAST({scale} // nn.n AS BIGINT) AS rank
           FROM nodes JOIN nn ON nodes.doc_id = nn.doc_id)
    """
    steps = []
    for i in range(iterations):
        steps.append(f"""
    c{i} AS (
        SELECT en.doc_id, en.dst, sum(r.rank * en.w // en.out_w) AS c
        FROM en JOIN r{i} r ON en.doc_id = r.doc_id AND en.src = r.word
        GROUP BY en.doc_id, en.dst
    ),
    r{i + 1} AS (
        SELECT nodes.doc_id, nodes.word,
               CAST((({scale} * 3 // 20) // nn.n)
                    + coalesce(c{i}.c, 0) * 17 // 20 AS BIGINT) AS rank
        FROM nodes JOIN nn ON nodes.doc_id = nn.doc_id
        LEFT JOIN c{i} ON nodes.doc_id = c{i}.doc_id
                      AND nodes.word = c{i}.dst
    )""")
    return f"""
    WITH {head},{",".join(steps)}
    SELECT doc_id, word, rank AS rank_fp, rk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY rank DESC, word
        ) AS rk FROM r{iterations}
    ) WHERE rk <= {top_k}
    """


@register(
    "textrank_topk",
    plan=("arrow",),
    oracle=_sql_textrank(
        textrank.TR_ITERS, textrank.TR_SCALE, textrank.TR_WINDOW, 10
    ),
    doc="T10: per-doc TextRank via mapInPandas in exact fixed-point "
    "integer arithmetic — top-10 words per doc, oracle-checked against "
    "an unrolled DuckDB CTE re-derivation",
)
def textrank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textrank.extract_keywords_exact(docs, top_k=10)


# T12 LabelCombine: outer-join extractor outputs, coalesce the term key
# (LabelCombine.scala:19-36 does exactly this across tfidf/textrank/rake
# with a 2-arg coalescing UDF — here F.coalesce is native). Scores stay
# in the integer e6 domain so addition is exact for the oracle.
_TFIDF_CTE = """
    tf AS (
        SELECT doc_id, word, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE NOT list_contains({stoplist}, word)
        GROUP BY doc_id, word
    ),
    df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
    n AS (SELECT count(*) AS n_docs FROM documents),
    tfidf AS (
        SELECT doc_id, word,
               CAST(floor(tf * ln((CAST(n.n_docs AS DOUBLE) + 1.0)
                                  / (CAST(df.df AS DOUBLE) + 1.0)) * 1000000.0 + 0.5)
                    AS BIGINT) AS score_e6
        FROM tf JOIN df USING (word) CROSS JOIN n
        QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score_e6 DESC, word) <= 5
    )
"""


@register(
    "label_combine_keywords",
    plan=("arrow", "scalar_cross",),
    oracle=f"""
    WITH rk AS ({_RAKE_ORACLE.replace("rank <= 10", "rank <= 10 AND len(string_split(phrase, ' ')) = 1")}),
    {_TFIDF_CTE.format(stoplist=sql_stopword_list())}
    SELECT COALESCE(t.doc_id, r.doc_id) AS doc_id,
           COALESCE(t.word, r.phrase) AS term,
           COALESCE(t.score_e6, 0) + COALESCE(r.score_e6, 0) AS combined_e6,
           (t.word IS NOT NULL) AS from_tfidf,
           (r.phrase IS NOT NULL) AS from_rake
    FROM tfidf t
    FULL OUTER JOIN rk r ON t.doc_id = r.doc_id AND t.word = r.phrase
    """,
    doc="T12/J4: full outer join of TF-IDF and RAKE-unigram outputs with "
    "coalesced keys; integer score combine",
)
def label_combine_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    tfidf = tfidf_top_terms(spark, sf_dir).select(
        F.col("doc_id").alias("t_doc"),
        F.col("word").alias("t_term"),
        F.col("score_e6").alias("t_score"),
    )
    rk = (
        rake_topk(spark, sf_dir)
        .filter(~F.col("phrase").contains(" "))  # unigrams join on the word key
        .select(
            F.col("doc_id").alias("r_doc"),
            F.col("phrase").alias("r_term"),
            F.col("score_e6").alias("r_score"),
        )
    )
    joined = tfidf.join(
        rk,
        (F.col("t_doc") == F.col("r_doc")) & (F.col("t_term") == F.col("r_term")),
        "outer",
    )
    return joined.select(
        F.coalesce("t_doc", "r_doc").alias("doc_id"),
        F.coalesce("t_term", "r_term").alias("term"),
        (
            F.coalesce(F.col("t_score"), F.lit(0))
            + F.coalesce(F.col("r_score"), F.lit(0))
        ).alias("combined_e6"),
        F.col("t_term").isNotNull().alias("from_tfidf"),
        F.col("r_term").isNotNull().alias("from_rake"),
    )


# §3.2 composite: the app/user label pipeline end-to-end. The reference
# runs it as four drivers with parquet hops (AppsTextTokensDriver →
# AppsLabelCalcCombine → LabelCombine → UserTextLabelCalc.run's
# broadcast app→labels map + per-user bag + normalized tf·idf top-200);
# here: combined doc labels (T8+T11 via T12) → deterministic user-doc
# interaction mapping (events, event_id mod corpus size — the stand-in
# for the reference's pagename join) → per-user term bags → per-user
# min-max normalization in exact integer arithmetic → top-3 tags.
_USER_LABEL_TOPK = 3


@register(
    "user_label_pipeline",
    plan=("arrow", "scalar_cross",),
    oracle=f"""
    WITH rk AS ({_RAKE_ORACLE.replace("rank <= 10", "rank <= 10 AND len(string_split(phrase, ' ')) = 1")}),
    {_TFIDF_CTE.format(stoplist=sql_stopword_list())},
    labels AS (
        SELECT COALESCE(t.doc_id, r.doc_id) AS doc_id,
               COALESCE(t.word, r.phrase) AS term,
               COALESCE(t.score_e6, 0) + COALESCE(r.score_e6, 0) AS combined_e6
        FROM tfidf t
        FULL OUTER JOIN rk r ON t.doc_id = r.doc_id AND t.word = r.phrase
    ),
    nd AS (SELECT max(doc_id) + 1 AS n_docs FROM documents),
    inter AS (
        SELECT DISTINCT e.user_id, e.event_id % nd.n_docs AS doc_id
        FROM events e CROSS JOIN nd
    ),
    bags AS (
        SELECT i.user_id, l.term,
               CAST(sum(l.combined_e6) AS BIGINT) AS score_e6
        FROM inter i JOIN labels l ON l.doc_id = i.doc_id
        GROUP BY i.user_id, l.term
    ),
    norm AS (
        SELECT user_id, term, score_e6,
               min(score_e6) OVER (PARTITION BY user_id) AS lo,
               max(score_e6) OVER (PARTITION BY user_id) AS hi
        FROM bags
    )
    SELECT user_id, term,
           CAST(CASE WHEN hi = lo THEN 1000000
                ELSE floor((score_e6 - lo) * 1000000.0 / (hi - lo)) END
                AS BIGINT) AS norm_e6,
           rk
    FROM (SELECT *, row_number() OVER (
              PARTITION BY user_id
              ORDER BY score_e6 DESC, term) AS rk
          FROM norm)
    WHERE rk <= {_USER_LABEL_TOPK}
    """,
    doc="SURVEY §3.2 composite: combined doc labels -> user-doc "
    "interaction join -> per-user term bags -> exact integer min-max "
    "normalization -> top-3 user tags, one Catalyst plan replacing the "
    "reference's four drivers with parquet hops",
)
def user_label_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = label_combine_keywords(spark, sf_dir).select(
        "doc_id", "term", "combined_e6"
    )
    ev = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg((F.max("doc_id") + 1).alias("n_docs"))
    inter = (
        ev.crossJoin(F.broadcast(n_docs))
        .select("user_id", (F.col("event_id") % F.col("n_docs")).alias("doc_id"))
        .distinct()
    )
    bags = (
        inter.join(labels, "doc_id")
        .groupBy("user_id", "term")
        .agg(F.sum("combined_e6").alias("score_e6"))
    )
    wu = W.partitionBy("user_id")
    norm = bags.select(
        "user_id",
        "term",
        "score_e6",
        F.min("score_e6").over(wu).alias("lo"),
        F.max("score_e6").over(wu).alias("hi"),
    )
    ranked = norm.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("user_id").orderBy(F.desc("score_e6"), F.asc("term"))
        ),
    ).filter(F.col("rk") <= _USER_LABEL_TOPK)
    return ranked.select(
        "user_id",
        "term",
        F.when(F.col("hi") == F.col("lo"), F.lit(1000000))
        .otherwise(
            F.floor(
                (F.col("score_e6") - F.col("lo"))
                * F.lit(1000000.0)
                / (F.col("hi") - F.col("lo"))
            )
        )
        .cast("bigint")
        .alias("norm_e6"),
        "rk",
    )
