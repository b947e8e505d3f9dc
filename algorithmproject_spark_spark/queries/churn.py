"""Churn-model feature table — the wide per-user aggregation a
retention pipeline materializes nightly as classifier input.

One groupBy over events produces every feature; the bit-packed
activity mask from :mod:`behavior` supplies the streak features with
plain integer arithmetic, so the whole table is a single shuffle on
user_id plus a broadcast of the corpus max-day scalar. Features are
exact integers (1e3 rates via floor division), making the table
hash-identical cross-engine and layout-independent — a feature store
whose training snapshots are reproducible byte-for-byte.

Features (per user):
- ``tenure_days``     — max_day − first active day + 1
- ``recency_days``    — max_day − last active day
- ``n_events``        — total events
- ``n_active_days``   — distinct active days (all history)
- ``n_types``         — distinct event types used
- ``events_per_active_day_e3`` — intensity, exact 1e3 units
- ``active_share_e3`` — active days / tenure, exact 1e3 units
- ``current_streak`` / ``longest_streak`` — from the 63-day bitmask
  (behavior.user_activity_bitmask's packing, recomputed inline so the
  feature table is one self-contained scan)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.functions.numeric import ss_floordiv
from algorithmproject_spark_spark.queries.behavior import ACTIVITY_WINDOW
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

_STREAK_FOLD = f"""
CAST(aggregate(
    sequence(0, {ACTIVITY_WINDOW - 1}),
    CAST(0 AS BIGINT),
    (acc, i) -> CASE
        WHEN (shiftright(mask, i) & 1) = 1
        THEN (acc div 128 + 1) * 128
             + greatest(acc % 128, acc div 128 + 1)
        ELSE acc % 128
    END
) % 128 AS BIGINT)
"""

_SQL_STREAK_FOLD = f"""
CAST(list_reduce(
    list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(0, {ACTIVITY_WINDOW}),
                                i_ -> CAST(i_ AS BIGINT))),
    (acc_, i_) -> CASE
        WHEN (mask >> CAST(i_ AS INT)) & 1 = 1
        THEN (acc_ // 128 + 1) * 128
             + greatest(acc_ % 128, acc_ // 128 + 1)
        ELSE acc_ % 128
    END
) % 128 AS BIGINT)
"""


@register(
    "user_churn_features",
    plan=("scalar_cross",),
    oracle=f"""
    WITH days AS (
        SELECT user_id, event_type,
               CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                   AS day
        FROM events
    ),
    mx AS (SELECT max(day) AS max_day FROM days),
    agg AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT day) AS BIGINT) AS n_active_days,
               CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
               min(day) AS first_day, max(day) AS last_day,
               coalesce(bit_or(CASE
                   WHEN mx.max_day - day < {ACTIVITY_WINDOW}
                   THEN CAST(1 AS BIGINT) << CAST(mx.max_day - day AS INT)
               END), 0) AS mask,
               max(mx.max_day) AS max_day
        FROM days CROSS JOIN mx
        GROUP BY user_id
    )
    SELECT user_id,
           max_day - first_day + 1 AS tenure_days,
           max_day - last_day AS recency_days,
           n_events, n_active_days, n_types,
           CAST(n_events * 1000 // n_active_days AS BIGINT)
               AS events_per_active_day_e3,
           CAST(n_active_days * 1000 // (max_day - first_day + 1)
                AS BIGINT) AS active_share_e3,
           -- all-63-days mask is BIGINT max: mask+1 would overflow
           CAST(CASE WHEN mask = 9223372036854775807
                     THEN {ACTIVITY_WINDOW}
                     ELSE bit_count(mask & ~(mask + 1)) END
                AS BIGINT) AS current_streak,
           {_SQL_STREAK_FOLD} AS longest_streak
    FROM agg
    """,
    doc=(
        "nightly churn-model feature table: tenure, recency, volume, "
        "diversity, intensity and bitmask streak features per user — "
        "one shuffle on user_id, exact-integer rates, byte-reproducible "
        "training snapshots"
    ),
)
def user_churn_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    )
    mx = ev.agg(F.max("day").alias("max_day"))
    agg = (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("day").cast("long").alias("n_active_days"),
            F.countDistinct("event_type").cast("long").alias("n_types"),
            F.min("day").alias("first_day"),
            F.max("day").alias("last_day"),
            F.coalesce(
                F.bit_or(
                    F.when(
                        F.col("max_day") - F.col("day")
                        < ACTIVITY_WINDOW,
                        F.expr(
                            "shiftleft(1L, cast(max_day - day as int))"
                        ),
                    )
                ),
                F.lit(0).cast("long"),
            ).alias("mask"),
            F.max("max_day").alias("max_day"),
        )
    )
    tenure = F.col("max_day") - F.col("first_day") + 1
    return agg.select(
        "user_id",
        tenure.alias("tenure_days"),
        (F.col("max_day") - F.col("last_day")).alias("recency_days"),
        "n_events",
        "n_active_days",
        "n_types",
        F.expr(
            ss_floordiv("n_events * CAST(1000 AS BIGINT)", "n_active_days")
        ).alias("events_per_active_day_e3"),
        F.expr(
            ss_floordiv(
                "n_active_days * CAST(1000 AS BIGINT)", "max_day - first_day + 1"
            )
        ).alias("active_share_e3"),
        # all-63-days mask is BIGINT max; mask+1 would raise on ANSI
        # overflow — the full window is its own case (CASE branches
        # are per-row short-circuited in both engines' execution)
        F.when(
            F.col("mask") == F.lit((1 << ACTIVITY_WINDOW) - 1).cast("long"),
            F.lit(ACTIVITY_WINDOW),
        )
        .otherwise(
            F.bit_count(
                F.col("mask").bitwiseAND(F.bitwise_not(F.col("mask") + 1))
            )
        )
        .cast("long")
        .alias("current_streak"),
        F.expr(_STREAK_FOLD).alias("longest_streak"),
    )
