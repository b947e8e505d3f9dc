"""Exact proportional allocation + robust outlier statistics.

Two corpus-engineering primitives that must be INTEGER-exact to be
auditable:

- **Largest-remainder quota allocation** (Hamilton method): split a
  fixed budget (sample slots, labeling budget, shard quota) across
  groups proportionally to their sizes with exact rounding — every
  unit allocated, no group off by more than 1 from its real quota.
  The floating "multiply by fraction and round" version both
  over/under-allocates and diverges across engines; the
  largest-remainder form is pure integer arithmetic: base = B·c div n,
  leftover units go to the largest remainders (deterministic
  tiebreak). Shape: one keyed count, then windows over the GROUP-sized
  relation (≤ #groups rows) — the data is scanned once.

- **MAD outliers** (median absolute deviation): robust center/spread
  per event type — median via the compacted (value, count)
  distribution (the events_exact_global_quantiles shape, partitioned
  per group), MAD as the median of |x − med| over the same compacted
  relation, outliers = values beyond 3·MAD. Mean/stddev outlier flags
  break under the very outliers they hunt; MAD doesn't. "Median" here
  is the LOWER median (min v with 2·cum ≥ n) — exact, engine-portable,
  no even-count averaging (which would leave integer space).

Reference parity: none — the reference hard-codes its sampling and has
no robust stats; these productize the arithmetic its jobs assume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from algorithmproject_spark_spark.functions.numeric import ss_floordiv, ss_scaled_long
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

ALLOC_BUDGET = 10_000


@register(
    "corpus_quota_allocation",
    oracle=f"""
    WITH qa_c AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang
    ),
    qa_b AS (
        SELECT lang, n_docs,
               SUM(n_docs) OVER () AS n,
               ({ALLOC_BUDGET} * n_docs) // SUM(n_docs) OVER () AS base,
               ({ALLOC_BUDGET} * n_docs) % SUM(n_docs) OVER () AS rem
        FROM qa_c
    ),
    qa_r AS (
        SELECT lang, n_docs, base, rem,
               {ALLOC_BUDGET} - SUM(base) OVER () AS leftover,
               row_number() OVER (ORDER BY rem DESC, lang) AS rk
        FROM qa_b
    )
    SELECT lang, n_docs,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
               AS alloc
    FROM qa_r
    """,
    doc="largest-remainder (Hamilton) quota allocation of a 10k-slot "
    "budget across languages proportional to doc counts — pure "
    "integer arithmetic (base = B*c div n, leftover units to the "
    "largest remainders, lang tiebreak), every slot allocated, "
    "windows only over the group-sized relation",
)
def corpus_quota_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    b = counts.select(
        "lang",
        "n_docs",
        F.expr(
            ss_floordiv(
                f"{ALLOC_BUDGET} * n_docs",
                "sum(n_docs) OVER (ROWS BETWEEN UNBOUNDED PRECEDING"
                " AND UNBOUNDED FOLLOWING)",
            )
        ).alias("base"),
        (
            (F.lit(ALLOC_BUDGET) * F.col("n_docs"))
            % F.sum("n_docs").over(wall)
        ).alias("rem"),
    )
    r = b.select(
        "lang",
        "n_docs",
        "base",
        (F.lit(ALLOC_BUDGET) - F.sum("base").over(wall)).alias("leftover"),
        F.row_number()
        .over(W.orderBy(F.col("rem").desc(), "lang"))
        .alias("rk"),
    )
    return r.select(
        "lang",
        "n_docs",
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        ).alias("alloc"),
    )


@register(
    "events_mad_outliers",
    oracle="""
    WITH mo_v AS (
        SELECT event_type,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v
        FROM events
    ),
    mo_d AS (
        SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c
        FROM mo_v GROUP BY event_type, v
    ),
    mo_med AS (
        SELECT event_type,
               MIN(CASE WHEN cum * 2 >= n THEN v END) AS med
        FROM (
            SELECT event_type, v,
                   SUM(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
                   SUM(c) OVER (PARTITION BY event_type) AS n
            FROM mo_d
        ) GROUP BY event_type
    ),
    mo_dev AS (
        SELECT d.event_type, abs(d.v - m.med) AS dev, d.c
        FROM mo_d d JOIN mo_med m USING (event_type)
    ),
    mo_dd AS (
        SELECT event_type, dev, CAST(SUM(c) AS BIGINT) AS c
        FROM mo_dev GROUP BY event_type, dev
    ),
    mo_mad AS (
        SELECT event_type,
               MIN(CASE WHEN cum * 2 >= n THEN dev END) AS mad
        FROM (
            SELECT event_type, dev,
                   SUM(c) OVER (PARTITION BY event_type ORDER BY dev) AS cum,
                   SUM(c) OVER (PARTITION BY event_type) AS n
            FROM mo_dd
        ) GROUP BY event_type
    )
    SELECT v.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(m.med) AS BIGINT) AS med_e2,
           CAST(MAX(a.mad) AS BIGINT) AS mad_e2,
           CAST(COUNT(*) FILTER (WHERE abs(v.v - m.med) > 3 * a.mad)
                AS BIGINT) AS n_outliers
    FROM mo_v v
    JOIN mo_med m USING (event_type)
    JOIN mo_mad a USING (event_type)
    GROUP BY v.event_type
    """,
    doc="robust per-type outlier stats: exact lower-median and MAD "
    "over the compacted (value, count) distribution (windows over "
    "distinct values, never data rows), outliers = |x-med| > 3*MAD — "
    "the robust complement to winsorization (mean/stddev flags break "
    "under the outliers they hunt)",
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.expr(ss_scaled_long("value", 100)).alias("v")
    )
    dist = ev.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("c"))
    wt = W.partitionBy("event_type")
    wcum = wt.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    med = (
        dist.select(
            "event_type",
            "v",
            F.sum("c").over(wcum).alias("cum"),
            F.sum("c").over(wt.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)).alias("n"),
        )
        .groupBy("event_type")
        .agg(
            F.min(
                F.when(F.col("cum") * 2 >= F.col("n"), F.col("v"))
            ).alias("med")
        )
    )
    dev = dist.join(med, "event_type").select(
        "event_type", F.abs(F.col("v") - F.col("med")).alias("dev"), "c"
    )
    dd = dev.groupBy("event_type", "dev").agg(F.sum("c").alias("c"))
    wdev = wt.orderBy("dev").rowsBetween(W.unboundedPreceding, 0)
    mad = (
        dd.select(
            "event_type",
            "dev",
            F.sum("c").over(wdev).alias("cum"),
            F.sum("c").over(wt.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)).alias("n"),
        )
        .groupBy("event_type")
        .agg(
            F.min(
                F.when(F.col("cum") * 2 >= F.col("n"), F.col("dev"))
            ).alias("mad")
        )
    )
    return (
        ev.join(med, "event_type")
        .join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("med").alias("med_e2"),
            F.max("mad").alias("mad_e2"),
            F.count(
                F.when(
                    F.abs(F.col("v") - F.col("med")) > 3 * F.col("mad"), 1
                )
            ).alias("n_outliers"),
        )
    )
