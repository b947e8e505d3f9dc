"""Grouped-aggregate pandas UDF (UDAF surface) — exact weighted median.

SURVEY.md §2.10's UDAF slot: the reference approximates per-class
medians with sorted ``limit`` passes; Spark's native surface for a
custom aggregate over a group is ``pandas_udf`` in GROUPED_AGG mode —
one Arrow batch per (group, partial), JVM-side partial aggregation does
NOT apply (the whole group's columns ship to Python), so the 100 TB
rule is: use it only when the aggregate is not expressible in Catalyst
(weighted quantiles, trimmed estimators) AND group sizes are bounded.
For unbounded groups, pre-aggregate or sketch first.

The kernel is integer-exact: weights and the scaled values are BIGINTs,
the weighted lower median is a deterministic function of the sorted
(value, weight) multiset — so the DuckDB oracle (cumulative-weight
window form) matches bit-for-bit.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import pandas_udf

from algorithmproject_spark_spark.functions.numeric import ss_scaled_long
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table


def _weighted_median_kernel(value_cents: pd.Series, weight: pd.Series) -> int:
    """Weighted LOWER median: smallest v whose cumulative weight reaches
    half the total (ties resolved by value order — deterministic)."""
    df = pd.DataFrame({"v": value_cents, "w": weight}).sort_values("v")
    cum = df["w"].cumsum()
    half = (df["w"].sum() + 1) // 2  # ceil(total/2) in integers
    return int(df.loc[cum >= half, "v"].iloc[0])


def weighted_median_cents():
    """GROUPED_AGG pandas UDF (built lazily — the decorator resolves its
    return type against the active session)."""
    return pandas_udf(_weighted_median_kernel, "bigint")


@register(
    "grouped_agg_weighted_median",
    plan=("arrow",),
    oracle="""
    WITH wv AS (
        SELECT event_type,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v,
               (user_id % 5) + 1 AS w
        FROM events
    ),
    ranked AS (
        SELECT event_type, v, w,
               sum(w) OVER (PARTITION BY event_type ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS cum,
               sum(w) OVER (PARTITION BY event_type) AS total
        FROM wv
    )
    SELECT event_type,
           min(v) AS wmedian_cents
    FROM ranked
    WHERE cum >= (total + 1) // 2
    GROUP BY event_type
    """,
    doc="UDAF surface (pandas_udf GROUPED_AGG): exact integer weighted "
    "median per event type; oracle is the cumulative-weight window "
    "form — bit-identical because the kernel is integer arithmetic "
    "over a deterministically sorted multiset",
)
def grouped_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    prepped = ev.select(
        "event_type",
        F.expr(ss_scaled_long("value", 100)).alias("v"),
        ((F.col("user_id") % 5) + 1).alias("w"),
    )
    return prepped.groupBy("event_type").agg(
        weighted_median_cents()("v", "w").alias("wmedian_cents")
    )
