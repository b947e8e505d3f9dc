"""Revenue analytics: cohort LTV matrix + exact Gini concentration.

- **Cohort LTV matrix** (``orders_cohort_ltv_matrix``): the
  lifetime-value triangle every subscription/commerce dashboard draws —
  customers bucketed by first-order month, revenue accumulated per
  months-since-cohort age cell. Month index is pure integer arithmetic
  (year·12 + month − 1), revenue in exact cents; two keyed shuffles
  (per-customer cohort, then (cohort, age) cells).

- **Spend concentration, exactly** (``customer_spend_gini``): the Gini
  coefficient of per-customer spend from the grouped-value identity
  over the compacted spend distribution (v, c) sorted by v:

      T = Σ v·c·(2·cum − c + 1)          (Σ rank-weighted spend ×2)
      gini = (T − (n+1)·Σv·c) / (n·Σv·c)

  — every term BIGINT; the final ratio is emitted both as an exact
  (num, den) pair and as ppm via the six-step ss_ppm_wide
  (num < den because Gini < 1, satisfying its precondition). The
  cumulative window rides distinct spend values (the compacted-
  distribution shape), never customer rows.

  Overflow contract (found BY the sf0.1/sf1 gates, not reasoned
  post-hoc): T ≤ 2n·Σv and ppm_wide needs den = n·Σv ≤ 9.2·10¹⁷ — at
  cent granularity sf1 already breaches both (den 5.6·10¹⁸). Spend
  is therefore DOLLAR-rounded (v = cents div 100, floored once per
  customer, mirrored in SQL — Gini is scale-invariant up to the
  documented rounding), good to ~10⁷ customers × ~10¹⁰ total dollars;
  beyond that, promote v to DECIMAL(38) on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from algorithmproject_spark_spark.functions.numeric import (
    sql_ppm_wide,
    sql_scaled_long,
    ss_floordiv,
    ss_ppm_wide,
    ss_scaled_long,
)
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table


@register(
    "orders_cohort_ltv_matrix",
    oracle=f"""
    WITH o AS (
        SELECT o_custkey,
               CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
                    AS BIGINT) AS m,
               {sql_scaled_long('o_totalprice')} AS cents
        FROM orders
    ),
    cohort AS (
        SELECT o_custkey, CAST(min(m) AS BIGINT) AS m0
        FROM o GROUP BY o_custkey
    )
    SELECT cohort.m0 AS cohort_month,
           o.m - cohort.m0 AS age_months,
           CAST(sum(o.cents) AS BIGINT) AS revenue_cents,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_customers
    FROM o JOIN cohort USING (o_custkey)
    GROUP BY 1, 2
    """,
    doc=(
        "cohort LTV triangle: revenue / orders / distinct buyers per "
        "(first-order month, months-since) cell — exact cents, "
        "integer month arithmetic"
    ),
)
def orders_cohort_ltv_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
        )
        .cast("long")
        .alias("m"),
        F.expr(ss_scaled_long("o_totalprice")).alias("cents"),
    )
    cohort = o.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    return (
        o.join(cohort, "o_custkey")
        .groupBy(
            F.col("m0").alias("cohort_month"),
            (F.col("m") - F.col("m0")).alias("age_months"),
        )
        .agg(
            F.sum("cents").alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )


@register(
    "customer_spend_gini",
    oracle=f"""
    WITH spend AS (
        SELECT o_custkey,
               CAST(sum({sql_scaled_long('o_totalprice')}) AS BIGINT)
                   // 100 AS v
        FROM orders GROUP BY o_custkey
    ),
    dist AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM spend GROUP BY v),
    cum AS (
        SELECT v, c,
               CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS cum,
               CAST(SUM(c) OVER () AS BIGINT) AS n,
               CAST(SUM(v * c) OVER () AS BIGINT) AS svc
        FROM dist
    ),
    t AS (
        SELECT CAST(sum(v * c * (2 * cum - c + 1)) AS BIGINT) AS tt,
               CAST(max(n) AS BIGINT) AS n,
               CAST(max(svc) AS BIGINT) AS svc
        FROM cum
    )
    SELECT n AS n_customers, svc AS total_dollars,
           tt - (n + 1) * svc AS gini_num,
           n * svc AS gini_den,
           {sql_ppm_wide('tt - (n + 1) * svc', 'n * svc')} AS gini_ppm
    FROM t
    """,
    doc=(
        "exact Gini coefficient of per-customer spend via the "
        "grouped-value rank identity over the compacted distribution "
        "— emitted as an exact integer ratio plus overflow-safe ppm"
    ),
)
def customer_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.expr(ss_scaled_long("o_totalprice")).alias("cents")
    )
    spend = o.groupBy("o_custkey").agg(
        F.expr(ss_floordiv("sum(cents)", "100")).alias("v")
    )
    dist = spend.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    full = W.partitionBy().rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cum = dist.select(
        "v",
        "c",
        F.sum("c")
        .over(W.orderBy("v").rowsBetween(W.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("c").over(full).alias("n"),
        F.sum(F.col("v") * F.col("c")).over(full).alias("svc"),
    )
    t = cum.agg(
        F.sum(
            F.col("v")
            * F.col("c")
            * (F.lit(2) * F.col("cum") - F.col("c") + F.lit(1))
        ).alias("tt"),
        F.max("n").alias("n"),
        F.max("svc").alias("svc"),
    )
    num = "tt - (n + 1) * svc"
    den = "n * svc"
    return t.select(
        F.col("n").alias("n_customers"),
        F.col("svc").alias("total_dollars"),
        F.expr(num).alias("gini_num"),
        F.expr(den).alias("gini_den"),
        F.expr(ss_ppm_wide(num, den)).alias("gini_ppm"),
    )
