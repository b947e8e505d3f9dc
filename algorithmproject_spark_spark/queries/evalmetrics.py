"""Classifier-evaluation metrics over the lang-ID heuristic — exact
integer micro-units, cross-engine hash-identical.

A training-data pipeline that ships a heuristic classifier (lang-ID,
quality gates, PII detectors) needs its evaluation harness to be a
first-class distributed computation too: at 100 TB the confusion
matrix IS a big aggregation, not a sklearn call on a driver sample.
This module evaluates :mod:`text`'s ``doc_lang_id`` prediction against
the corpus's ``lang`` column with the standard metric suite:

- ``langid_confusion_matrix`` — the (true, predicted) contingency
  table; one groupBy, map-side partial agg, k² result rows.
- ``langid_eval_prf`` — per-class precision / recall / F1. With
  tp + fp = col_c and tp + fn = row_c, F1 reduces to the single-floor
  exact form ``2·tp·1e6 div (row_c + col_c)`` — no composition of
  rounded precision/recall, so the figure is the true harmonic mean
  floored once.
- ``langid_cohens_kappa`` — chance-corrected agreement. Defined (and
  documented) as a floor composition: po_e6 = agree·1e6 div n;
  pe_e6 = Σ_c (row_c·1e6 div n)·(col_c·1e6 div n) div 1e6; kappa_e6 =
  sign(po−pe) · (|po_e6 − pe_e6|·1e6 div (1e6 − pe_e6)). Every floor
  divides NON-NEGATIVE operands, so Spark's truncating ``div`` and
  DuckDB's flooring ``//`` agree; the final signed ratio goes through
  an explicit abs/sign split for the same reason. Overflow contract:
  per-class marginals row_c, col_c < 2^43 (row_c·1e6 must stay under
  2^63), far beyond any corpus this engine will meet.

Scale shape: one wide scan feeds a (lang, pred_lang) projection; all
three metrics ride k- or k²-row relations after the first partial
aggregation. Nothing here materializes per-document state beyond the
base classifier's own map-only pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.functions.numeric import ss_floordiv
from algorithmproject_spark_spark.queries.text import DOC_LANG_ID_SQL, doc_lang_id
from algorithmproject_spark_spark.registry import register

_SQL_PAIRS = f"""
        SELECT lang AS t, pred_lang AS p FROM ({DOC_LANG_ID_SQL})
"""


def _pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        doc_lang_id(spark, sf_dir)
        .select(F.col("lang").alias("t"), F.col("pred_lang").alias("p"))
    )


@register(
    "langid_confusion_matrix",
    oracle=f"""
    WITH pairs AS ({_SQL_PAIRS})
    SELECT t AS true_lang, p AS pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM pairs GROUP BY t, p
    """,
    doc=(
        "(true, predicted) contingency table of the lang-ID heuristic "
        "vs the corpus lang column — the distributed confusion matrix "
        "every shipped heuristic classifier owes its users"
    ),
)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pairs(spark, sf_dir).groupBy(
        F.col("t").alias("true_lang"), F.col("p").alias("pred_lang")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))


@register(
    "langid_eval_prf",
    oracle=f"""
    WITH pairs AS ({_SQL_PAIRS}),
    rows_ AS (SELECT t AS cls, CAST(count(*) AS BIGINT) AS n_true
              FROM pairs GROUP BY t),
    cols_ AS (SELECT p AS cls, CAST(count(*) AS BIGINT) AS n_pred
              FROM pairs GROUP BY p),
    tp_ AS (SELECT t AS cls, CAST(count(*) AS BIGINT) AS n_tp
            FROM pairs WHERE t = p GROUP BY t),
    spine AS (SELECT cls FROM rows_ UNION SELECT cls FROM cols_),
    j AS (
        SELECT s.cls,
               coalesce(r.n_true, 0) AS n_true,
               coalesce(c.n_pred, 0) AS n_pred,
               coalesce(tp.n_tp, 0) AS n_tp
        FROM spine s
        LEFT JOIN rows_ r ON r.cls = s.cls
        LEFT JOIN cols_ c ON c.cls = s.cls
        LEFT JOIN tp_ tp ON tp.cls = s.cls
    )
    SELECT cls, n_true, n_pred, n_tp,
           CAST(CASE WHEN n_pred > 0
                     THEN n_tp * 1000000 // n_pred ELSE 0 END
                AS BIGINT) AS precision_e6,
           CAST(CASE WHEN n_true > 0
                     THEN n_tp * 1000000 // n_true ELSE 0 END
                AS BIGINT) AS recall_e6,
           CAST(CASE WHEN n_true + n_pred > 0
                     THEN 2 * n_tp * 1000000 // (n_true + n_pred)
                     ELSE 0 END
                AS BIGINT) AS f1_e6
    FROM j
    """,
    doc=(
        "per-class precision / recall / F1 of the lang-ID heuristic, "
        "exact 1e6 floor-div units; F1 via the single-floor harmonic "
        "form 2·tp div (support + predicted) — never a composition of "
        "rounded P and R"
    ),
)
def langid_eval_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _pairs(spark, sf_dir)
    rows = pairs.groupBy(F.col("t").alias("cls")).agg(
        F.count(F.lit(1)).cast("long").alias("n_true")
    )
    cols = pairs.groupBy(F.col("p").alias("cls")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pred")
    )
    tp = (
        pairs.filter(F.col("t") == F.col("p"))
        .groupBy(F.col("t").alias("cls"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_tp"))
    )
    spine = rows.select("cls").unionAll(cols.select("cls")).distinct()
    j = (
        spine.join(rows, "cls", "left")
        .join(cols, "cls", "left")
        .join(tp, "cls", "left")
        .select(
            "cls",
            F.coalesce("n_true", F.lit(0).cast("long")).alias("n_true"),
            F.coalesce("n_pred", F.lit(0).cast("long")).alias("n_pred"),
            F.coalesce("n_tp", F.lit(0).cast("long")).alias("n_tp"),
        )
    )
    e6 = "CAST(1000000 AS BIGINT)"

    def ratio(num: str, den: str) -> F.Column:
        return F.expr(
            f"CASE WHEN {den} > 0 THEN {ss_floordiv(num, den)}"
            " ELSE CAST(0 AS BIGINT) END"
        )

    return j.select(
        "cls",
        "n_true",
        "n_pred",
        "n_tp",
        ratio(f"n_tp * {e6}", "n_pred").alias("precision_e6"),
        ratio(f"n_tp * {e6}", "n_true").alias("recall_e6"),
        ratio(f"CAST(2 AS BIGINT) * n_tp * {e6}", "(n_true + n_pred)").alias(
            "f1_e6"
        ),
    )


@register(
    "langid_cohens_kappa",
    plan=("scalar_cross",),
    oracle=f"""
    WITH pairs AS ({_SQL_PAIRS}),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN t = p THEN 1 ELSE 0 END) AS BIGINT)
                   AS agree
        FROM pairs
    ),
    rows_ AS (SELECT t AS cls, CAST(count(*) AS BIGINT) AS n_true
              FROM pairs GROUP BY t),
    cols_ AS (SELECT p AS cls, CAST(count(*) AS BIGINT) AS n_pred
              FROM pairs GROUP BY p),
    pe AS (
        SELECT CAST(coalesce(sum(
                   (r.n_true * 1000000 // tot.n)
                 * (c.n_pred * 1000000 // tot.n) // 1000000
               ), 0) AS BIGINT) AS pe_e6
        FROM rows_ r JOIN cols_ c ON r.cls = c.cls CROSS JOIN tot
    )
    SELECT tot.n AS n_docs,
           CAST(tot.agree * 1000000 // tot.n AS BIGINT) AS po_e6,
           pe.pe_e6,
           CAST(CASE
             WHEN 1000000 - pe.pe_e6 = 0 THEN 0
             WHEN tot.agree * 1000000 // tot.n >= pe.pe_e6
             THEN (tot.agree * 1000000 // tot.n - pe.pe_e6) * 1000000
                  // (1000000 - pe.pe_e6)
             ELSE -((pe.pe_e6 - tot.agree * 1000000 // tot.n) * 1000000
                  // (1000000 - pe.pe_e6))
           END AS BIGINT) AS kappa_e6
    FROM tot CROSS JOIN pe
    """,
    doc=(
        "Cohen's kappa of the lang-ID heuristic vs the corpus lang "
        "column — chance-corrected agreement as a documented floor "
        "composition in exact 1e6 units; abs/sign split keeps the one "
        "possibly-negative division truncation-identical across engines"
    ),
)
def langid_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _pairs(spark, sf_dir)
    e6 = "CAST(1000000 AS BIGINT)"
    tot = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("t") == F.col("p"), 1).otherwise(0))
        .cast("long")
        .alias("agree"),
    )
    rows = pairs.groupBy(F.col("t").alias("cls")).agg(
        F.count(F.lit(1)).cast("long").alias("n_true")
    )
    cols = pairs.groupBy(F.col("p").alias("cls")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pred")
    )
    # pe as per-factor floors: each marginal share is ≤ 1e6, so the
    # per-class product is ≤ 1e12 and the sum over k classes never
    # nears BIGINT range regardless of corpus size.
    pe = (
        rows.join(cols, "cls")
        .crossJoin(F.broadcast(tot))
        .select(
            F.expr(
                ss_floordiv(
                    f"{ss_floordiv(f'n_true * {e6}', 'n')}"
                    f" * {ss_floordiv(f'n_pred * {e6}', 'n')}",
                    e6,
                )
            ).alias("term")
        )
        .agg(
            F.coalesce(F.sum("term"), F.lit(0))
            .cast("long")
            .alias("pe_e6")
        )
    )
    combined = tot.crossJoin(F.broadcast(pe)).select(
        F.col("n").alias("n_docs"),
        F.expr(ss_floordiv(f"agree * {e6}", "n")).alias("po_e6"),
        "pe_e6",
    )
    den = f"({e6} - pe_e6)"
    num = "(po_e6 - pe_e6)"
    kappa = F.expr(
        f"CASE WHEN {den} = 0 THEN CAST(0 AS BIGINT)"
        f" WHEN {num} >= 0 THEN {ss_floordiv(f'{num} * {e6}', den)}"
        f" ELSE -{ss_floordiv(f'-{num} * {e6}', den)} END"
    )
    return combined.select(
        "n_docs", "po_e6", "pe_e6", kappa.alias("kappa_e6")
    )
