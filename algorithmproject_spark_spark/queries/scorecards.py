"""Entity scorecards — the per-source and per-supplier triage tables
operations teams materialize nightly.

Both are one-shuffle wide aggregations in the exact-integer oracle
discipline; both exist to DRIVE decisions (downweight a source, audit
a supplier), so every figure is a rate with its numerator and
denominator exposed:

- ``source_quality_profile``: per document source — volume, curation
  keep rate, within-source exact-dup rate, language spread, mean doc
  length. The FineWeb-style per-feed triage table: a feed whose keep
  rate collapses or whose dup rate spikes gets cut before it poisons
  the next training mix.
- ``supplier_scorecard``: per supplier — line volume, exact revenue
  (1e4 units, the TPC-H q1 discipline), return rate, late-ship rate
  (ship date vs the corpus median ship date is not meaningful per
  line, so "late" = shipped after the supplier's own median would be
  self-referential; the operational definition here is the share of
  lines shipped in the last calendar quarter of the corpus — the
  backlog signal), distinct parts supplied.

Scale shape: each is one groupBy over compact keys with map-side
partial aggregation; the quality/fingerprint inputs are the cached
per-doc relations sibling queries already share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.functions.numeric import ss_floordiv, ss_scaled_long
from algorithmproject_spark_spark.queries.text import (
    DOC_FINGERPRINT_SQL,
    DOC_QUALITY_SCORE_SQL,
    doc_fingerprint,
    doc_quality_score,
)
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

@register(
    "source_quality_profile",
    oracle=f"""
    WITH q AS ({DOC_QUALITY_SCORE_SQL}),
    fp AS ({DOC_FINGERPRINT_SQL}),
    d AS (SELECT doc_id, source, lang, text FROM documents),
    j AS (
        SELECT d.source, d.lang, q.keep, fp.fingerprint,
               len(string_split(d.text, ' ')) AS n_tokens
        FROM d JOIN q ON d.doc_id = q.doc_id
               JOIN fp ON d.doc_id = fp.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(keep) * 1000000 // count(*) AS BIGINT)
               AS keep_rate_e6,
           CAST((count(*) - count(DISTINCT fingerprint)) * 1000000
                // count(*) AS BIGINT) AS dup_rate_e6,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(sum(n_tokens) * 1000 // count(*) AS BIGINT)
               AS mean_tokens_e3
    FROM j GROUP BY source
    """,
    doc=(
        "per-source triage table: volume, curation keep rate, "
        "within-source exact-dup rate, language spread, mean doc "
        "length — the FineWeb-style feed scorecard that decides which "
        "sources to cut or downweight, exact 1e6/1e3 rates"
    ),
)
def source_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "lang",
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    q = doc_quality_score(spark, sf_dir).select(
        "doc_id", "keep"
    )
    fp = doc_fingerprint(spark, sf_dir).select(
        "doc_id", "fingerprint"
    )
    j = docs.join(q, "doc_id").join(fp, "doc_id")
    agg = j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("keep").cast("long").alias("n_keep"),
        F.countDistinct("fingerprint").cast("long").alias("n_uniq"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum("n_tokens").cast("long").alias("tok"),
    )
    e6 = "CAST(1000000 AS BIGINT)"
    return agg.select(
        "source",
        "n_docs",
        F.expr(ss_floordiv(f"n_keep * {e6}", "n_docs")).alias("keep_rate_e6"),
        F.expr(ss_floordiv(f"(n_docs - n_uniq) * {e6}", "n_docs")).alias(
            "dup_rate_e6"
        ),
        "n_langs",
        F.expr(ss_floordiv("tok * CAST(1000 AS BIGINT)", "n_docs")).alias(
            "mean_tokens_e3"
        ),
    )


@register(
    "supplier_scorecard",
    plan=("scalar_cross",),
    oracle="""
    WITH li AS (
        SELECT l_suppkey, l_partkey, l_returnflag,
               CAST(floor((l_extendedprice * (1 - l_discount))
                          * 10000.0 + 0.5) AS BIGINT) AS rev_e4,
               CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01'
                    AS BIGINT) AS ship_day
        FROM lineitem
    ),
    mx AS (SELECT max(ship_day) AS max_day FROM li)
    SELECT l_suppkey AS suppkey,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(sum(rev_e4) AS BIGINT) AS revenue_e4,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS return_rate_e6,
           CAST(sum(CASE WHEN ship_day > mx.max_day - 90
                         THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT)
               AS recent_quarter_share_e6
    FROM li CROSS JOIN mx
    GROUP BY l_suppkey
    """,
    doc=(
        "per-supplier scorecard: line volume, distinct parts, exact "
        "revenue (TPC-H q1 1e4 units), return rate, share of lines "
        "shipped in the corpus's final 90 days (backlog signal) — "
        "one groupBy with map-side partials plus a broadcast max-day "
        "scalar, exact 1e6 rates"
    ),
)
def supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_partkey",
        "l_returnflag",
        F.expr(
            ss_scaled_long("l_extendedprice * (1 - l_discount)", 10000)
        ).alias("rev_e4"),
        F.datediff(
            F.to_date("l_shipdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("ship_day"),
    )
    mx = li.agg(F.max("ship_day").alias("max_day"))
    e6 = "CAST(1000000 AS BIGINT)"
    agg = (
        li.crossJoin(F.broadcast(mx))
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.countDistinct("l_partkey").cast("long").alias("n_parts"),
            F.sum("rev_e4").cast("long").alias("revenue_e4"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            )
            .cast("long")
            .alias("n_ret"),
            F.sum(
                F.when(
                    F.col("ship_day") > F.col("max_day") - 90, 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_recent"),
        )
    )
    return agg.select(
        "suppkey",
        "n_lines",
        "n_parts",
        "revenue_e4",
        F.expr(ss_floordiv(f"n_ret * {e6}", "n_lines")).alias("return_rate_e6"),
        F.expr(ss_floordiv(f"n_recent * {e6}", "n_lines")).alias(
            "recent_quarter_share_e6"
        ),
    )
