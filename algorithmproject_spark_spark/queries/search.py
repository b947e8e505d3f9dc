"""BM25 ranked retrieval — the search-engine scoring primitive.

The reference's text stack ends at tf·idf keyword extraction
(``nlp/NewsKeywordsTfIdf.scala``); BM25 (Robertson et al., TREC-3) is
the standard next step every retrieval system actually ranks with:
term-frequency saturation (k1) and document-length normalization (b)
on top of idf. Implemented in the engine's exact-integer discipline so
the scores hash-match the single-threaded DuckDB oracle under any
partitioning:

- idf uses the Lucene-style non-negative form
  ``ln(1 + (N − df + 0.5)/(df + 0.5))``, rounded once per TERM to
  micro-nats (a |terms|-row computation, not per-row float math);
- the tf/length factor is exact rational arithmetic: with k1 = 6/5,
  b = 3/4 and avgdl = L/N substituted symbolically,

      (k1+1)·tf / (tf + k1(1 − b + b·dl/avgdl))
        = 22·tf·L / (10·L·tf + 3·L + 9·dl·N)

  — every operand an exact BIGINT; the factor is floored once to
  micro-units (≤ (k1+1)·10⁶), then the per-term score is
  ``(idf_e6 · u_e6) div 10⁶``. The double rounding is part of the
  declared semantics and is mirrored operation-for-operation in SQL.

Overflow bounds (ANSI mode raises loudly beyond them):
``22·tf·L·10⁶`` needs tf·L < 4.2·10¹¹ — at ~100 tokens/doc that is a
~10⁹-token corpus per maximal-tf doc; past it, promote the split-scale
ss_ppm pattern.

Scale: one tokenize+explode feeds both the per-doc length and the
term-filtered tf relation (the filter reaches the explode — only query
terms survive the shuffle); corpus stats (N, L) are a broadcast 1-row
aggregate (declared ``scalar_cross``); df/idf is a ≤|terms|-row
broadcast. Join tf⋈dl shuffles on doc_id once; scoring is map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.functions.numeric import ss_floordiv
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

QUERY_TERMS = ("hash", "join", "scan")
TOPK_DOCS = 15
# k1 = 6/5, b = 3/4 pre-substituted into the integer coefficients
# 22/10/3/9 (see module docstring derivation)


@register(
    "bm25_search_topk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    dl AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
        FROM toks GROUP BY doc_id
    ),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(dl) AS BIGINT) AS l
        FROM dl
    ),
    tf AS (
        SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        FROM toks
        WHERE tok IN {QUERY_TERMS!r}
        GROUP BY 1, 2
    ),
    df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    idf AS (
        SELECT tok,
               CAST(floor(
                   ln(1.0 + ((n - df) + 0.5) / (df + 0.5))
                   * 1000000.0 + 0.5
               ) AS BIGINT) AS idf_e6
        FROM df CROSS JOIN st
    ),
    sc AS (
        SELECT tf.doc_id,
               (idf.idf_e6 * (
                   (22 * tf.tf * l * 1000000)
                   // (10 * l * tf.tf + 3 * l + 9 * dl.dl * n)
               )) // 1000000 AS s
        FROM tf
        JOIN dl USING (doc_id)
        JOIN idf USING (tok)
        CROSS JOIN st
    )
    SELECT doc_id, CAST(sum(s) AS BIGINT) AS bm25_e6
    FROM sc GROUP BY doc_id
    ORDER BY bm25_e6 DESC, doc_id LIMIT {TOPK_DOCS}
    """,
    doc=(
        "BM25 ranked retrieval (k1=1.2, b=0.75, Lucene-style idf) for "
        "a fixed term query — exact integer micro-unit scores, top-15"
    ),
    plan=("scalar_cross",),
)
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    st = dl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("l")
    )
    tf = (
        toks.filter(F.col("tok").isin(*QUERY_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # idf per TERM — |terms| rows; the float ln happens once per term
    # with the exact operation order the oracle mirrors
    idf = (
        df.crossJoin(F.broadcast(st))
        .select(
            "tok",
            F.floor(
                F.log(
                    F.lit(1.0)
                    + ((F.col("n") - F.col("df")) + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * F.lit(1e6)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("idf_e6"),
        )
    )
    u_e6 = ss_floordiv(
        "22 * tf * l * 1000000", "10 * l * tf + 3 * l + 9 * dl * n"
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(idf), "tok")
        .crossJoin(F.broadcast(st))
        .select(
            "doc_id",
            F.expr(ss_floordiv(f"idf_e6 * {u_e6}", "1000000")).alias("s"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("s").alias("bm25_e6"))
        .orderBy(F.desc("bm25_e6"), F.asc("doc_id"))
        .limit(TOPK_DOCS)
    )


KWIC_TERM = "join"
KWIC_RADIUS = 24  # chars of context either side
KWIC_TOPK = 25


@register(
    "doc_kwic_snippets",
    oracle=f"""
    SELECT doc_id,
           CAST(strpos(text, '{KWIC_TERM}') AS BIGINT) AS pos,
           substr(text,
                  CAST(greatest(1, strpos(text, '{KWIC_TERM}')
                                   - {KWIC_RADIUS}) AS BIGINT),
                  {2 * KWIC_RADIUS + len(KWIC_TERM)}) AS snippet
    FROM documents
    WHERE strpos(text, '{KWIC_TERM}') > 0
    ORDER BY doc_id LIMIT {KWIC_TOPK}
    """,
    doc=(
        "keyword-in-context (KWIC) snippet extraction: first "
        "occurrence of the term with fixed character context either "
        "side — map-only substring arithmetic, the search-result "
        "highlighting primitive"
    ),
)
def doc_kwic_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pos = F.instr(F.col("text"), KWIC_TERM)
    start = F.greatest(F.lit(1), pos - F.lit(KWIC_RADIUS))
    return (
        docs.filter(pos > 0)
        .select(
            "doc_id",
            pos.cast("long").alias("pos"),
            F.substring(
                F.col("text"), start, 2 * KWIC_RADIUS + len(KWIC_TERM)
            ).alias("snippet"),
        )
        .orderBy("doc_id")
        .limit(KWIC_TOPK)
    )
