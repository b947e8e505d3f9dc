"""Product-analytics primitives: activation time and A/B split rates.

Two funnel-adjacent metrics the events family (funnels, cohort
retention, attribution) doesn't yet expose:

- **Activation-time survival stats**
  (``events_signup_to_purchase_survival``): per user, the delay from
  FIRST signup to FIRST subsequent purchase; one summary row with the
  conversion counts (the censored population = signups that never
  purchased — the number a naive "average time to convert" silently
  drops) and exact nearest-rank quartiles of the delay distribution.
  Deltas in whole seconds from integer microsecond timestamps
  (``unix_micros`` / ``epoch_us`` — engine-exact); quartiles via the
  compacted-distribution conditional-MIN shape
  (events_exact_global_quantiles).

- **Deterministic A/B split rates** (``events_ab_split_rates``): users
  assigned to arms by the engine-portable multiplicative hash
  (functions/numeric.hash_mod — stable under re-runs, repartitioning,
  and engine changes, which ``rand()`` is not), per-arm distinct
  users / converters / exact conversion ppm. The A/B harness
  primitive: any experiment pipeline needs exactly this shape before
  any stats test runs.

Both are a handful of keyed aggregations over compact keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from algorithmproject_spark_spark.functions.numeric import (
    sql_hash_mod,
    sql_ppm,
    ss_floordiv,
    ss_hash_mod,
    ss_micros,
    ss_ppm,
)
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

SIGNUP, PURCHASE = "signup", "purchase"


@register(
    "events_signup_to_purchase_survival",
    oracle=f"""
    WITH su AS (
        SELECT user_id, CAST(min(epoch_us(ts)) AS BIGINT) AS s_us
        FROM events WHERE event_type = '{SIGNUP}' GROUP BY user_id
    ),
    pu AS (
        SELECT e.user_id,
               CAST(min(epoch_us(e.ts)) AS BIGINT) AS p_us
        FROM events e JOIN su ON e.user_id = su.user_id
        WHERE e.event_type = '{PURCHASE}' AND epoch_us(e.ts) >= su.s_us
        GROUP BY e.user_id
    ),
    delta AS (
        SELECT (pu.p_us - su.s_us) // 1000000 AS d_s
        FROM su JOIN pu ON su.user_id = pu.user_id
    ),
    dist AS (SELECT d_s, CAST(count(*) AS BIGINT) AS c FROM delta GROUP BY d_s),
    cum AS (
        SELECT d_s, CAST(SUM(c) OVER (ORDER BY d_s) AS BIGINT) AS cum,
               CAST(SUM(c) OVER () AS BIGINT) AS m
        FROM dist
    ),
    q AS (
        SELECT CAST(max(m) AS BIGINT) AS n_converted,
               CAST(MIN(CASE WHEN cum * 4 >= m * 1 THEN d_s END) AS BIGINT) AS p25_s,
               CAST(MIN(CASE WHEN cum * 4 >= m * 2 THEN d_s END) AS BIGINT) AS p50_s,
               CAST(MIN(CASE WHEN cum * 4 >= m * 3 THEN d_s END) AS BIGINT) AS p75_s
        FROM cum
    ),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n_signups FROM su)
    SELECT n_signups, n_converted,
           n_signups - n_converted AS n_censored, p25_s, p50_s, p75_s
    FROM q CROSS JOIN s
    """,
    doc=(
        "activation-time survival summary: first-signup to first-"
        "subsequent-purchase delay quartiles (exact, nearest-rank) "
        "plus the censored never-converted count"
    ),
    plan=("scalar_cross",),
)
def events_signup_to_purchase_survival(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    su = (
        ev.filter(F.col("event_type") == SIGNUP)
        .groupBy("user_id")
        .agg(F.min("us").alias("s_us"))
    )
    pu = (
        ev.filter(F.col("event_type") == PURCHASE)
        .join(su, "user_id")
        .filter(F.col("us") >= F.col("s_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"), F.min("s_us").alias("s_us2"))
    )
    delta = pu.select(F.expr(ss_floordiv("p_us - s_us2", "1000000")).alias("d_s"))
    dist = delta.groupBy("d_s").agg(F.count(F.lit(1)).alias("c"))
    cum = dist.select(
        "d_s",
        F.sum("c")
        .over(W.orderBy("d_s").rowsBetween(W.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("c")
        .over(
            W.partitionBy().rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        )
        .alias("m"),
    )

    def pick(k: int):
        return F.min(
            F.when(F.col("cum") * 4 >= F.col("m") * k, F.col("d_s"))
        )

    q = cum.agg(
        F.max("m").alias("n_converted"),
        pick(1).alias("p25_s"),
        pick(2).alias("p50_s"),
        pick(3).alias("p75_s"),
    )
    s = su.agg(F.count(F.lit(1)).alias("n_signups"))
    return q.crossJoin(F.broadcast(s)).select(
        "n_signups",
        "n_converted",
        (F.col("n_signups") - F.col("n_converted")).alias("n_censored"),
        "p25_s",
        "p50_s",
        "p75_s",
    )


@register(
    "events_ab_split_rates",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               {sql_hash_mod('user_id', 2)} AS arm,
               CAST(max(CASE WHEN event_type = '{PURCHASE}'
                             THEN 1 ELSE 0 END) AS BIGINT) AS converted
        FROM events GROUP BY user_id
    )
    SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(converted) AS BIGINT) AS n_converters,
           {sql_ppm('sum(converted)', 'count(*)')} AS conv_ppm
    FROM u GROUP BY arm
    """,
    doc=(
        "deterministic A/B assignment (portable multiplicative hash, "
        "never rand()) with per-arm distinct users, converters, and "
        "exact conversion ppm — the experiment-harness primitive"
    ),
)
def events_ab_split_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == PURCHASE, 1).otherwise(0)
        )
        .cast("long")
        .alias("converted")
    )
    arms = u.select(F.expr(ss_hash_mod("user_id", 2)).alias("arm"), "converted")
    agg = arms.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_converters"),
    )
    return agg.select(
        "arm",
        "n_users",
        "n_converters",
        F.expr(ss_ppm("n_converters", "n_users")).alias("conv_ppm"),
    )


# --------------------------------------------------------------------------
# Two-proportion z-test between the A/B arms — the significance layer
# the split-rates table feeds. "Converted" is FAST ACTIVATION (first
# subsequent purchase within 24h of first signup): on these fixtures
# every user eventually purchases, so the any-purchase rate is
# degenerate (pooled rate 1.0 → z undefined) while the activation-
# window rate genuinely varies between arms. Counts are exact BIGINTs;
# the single z normalization is ONE fixed double expression tree
# evaluated identically in both engines (the micros contract, as in
# the log-rank test), so the statistic hash-matches.
# --------------------------------------------------------------------------
ACTIVATION_US = 24 * 3600 * 1_000_000


@register(
    "events_ab_ztest",
    oracle=f"""
    WITH zt_su AS (
        SELECT user_id, CAST(min(epoch_us(ts)) AS BIGINT) AS s_us
        FROM events WHERE event_type = '{SIGNUP}' GROUP BY user_id
    ),
    zt_pu AS (
        SELECT e.user_id, CAST(min(epoch_us(e.ts)) AS BIGINT) AS p_us
        FROM events e JOIN zt_su s ON e.user_id = s.user_id
        WHERE e.event_type = '{PURCHASE}' AND epoch_us(e.ts) >= s.s_us
        GROUP BY e.user_id
    ),
    u AS (
        SELECT {sql_hash_mod('s.user_id', 2)} AS arm,
               CASE WHEN p.p_us IS NOT NULL
                     AND p.p_us - s.s_us <= {ACTIVATION_US}
                    THEN 1 ELSE 0 END AS converted
        FROM zt_su s LEFT JOIN zt_pu p USING (user_id)
    ),
    pv AS (
        SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END)
                   AS BIGINT) AS x0,
               CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END)
                   AS BIGINT) AS x1
        FROM u
    )
    SELECT n0, x0, n1, x1,
           -- empty-arm guard: ANSI Spark THROWS on integer div-by-zero
           -- while DuckDB // returns NULL — make both engines say NULL
           -- explicitly (edge-fixture finding, round 9b)
           CASE WHEN n0 > 0 THEN {sql_ppm('x0', 'n0')}
                ELSE NULL END AS p0_ppm,
           CASE WHEN n1 > 0 THEN {sql_ppm('x1', 'n1')}
                ELSE NULL END AS p1_ppm,
           CASE WHEN n0 > 0 AND n1 > 0 AND x0 + x1 > 0
                 AND x0 + x1 < n0 + n1 THEN
               CAST(floor(
                   ((CAST(x0 AS DOUBLE) / n0 - CAST(x1 AS DOUBLE) / n1)
                    / sqrt((CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
                           * (1.0 - CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
                           * (1.0 / n0 + 1.0 / n1)))
                   * 1000000.0 + 0.5) AS BIGINT)
           ELSE NULL END AS z_micros
    FROM pv
    """,
    doc=(
        "two-proportion z-test between the deterministic A/B arms on "
        "the 24h fast-activation rate (first purchase within a day of "
        "first signup): per-arm signup/activation counts (exact), "
        "activation ppm, and the pooled-variance z statistic in micros "
        "via ONE fixed double expression over exact integers — the "
        "significance readout the split-rates table feeds"
    ),
)
def events_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    su = (
        ev.filter(F.col("event_type") == SIGNUP)
        .groupBy("user_id")
        .agg(F.min("us").alias("s_us"))
    )
    pu = (
        ev.filter(F.col("event_type") == PURCHASE)
        .join(su, "user_id")
        .filter(F.col("us") >= F.col("s_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"))
    )
    u = su.join(pu, "user_id", "left").select(
        "user_id",
        F.when(
            F.col("p_us").isNotNull()
            & (F.col("p_us") - F.col("s_us") <= ACTIVATION_US),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("converted"),
    )
    arms = u.select(F.expr(ss_hash_mod("user_id", 2)).alias("arm"), "converted")
    n0 = "CAST(sum(CASE WHEN (arm = 0) THEN 1 ELSE 0 END) AS BIGINT)"
    x0 = "CAST(sum(CASE WHEN (arm = 0) THEN converted ELSE 0 END) AS BIGINT)"
    n1 = "CAST(sum(CASE WHEN (arm = 1) THEN 1 ELSE 0 END) AS BIGINT)"
    x1 = "CAST(sum(CASE WHEN (arm = 1) THEN converted ELSE 0 END) AS BIGINT)"
    pool = f"(CAST(({x0} + {x1}) AS DOUBLE) / ({n0} + {n1}))"
    z = (
        f"(CAST({x0} AS DOUBLE) / {n0} - CAST({x1} AS DOUBLE) / {n1})"
        f" / sqrt({pool} * (1.0D - {pool}) * (1.0D / {n0} + 1.0D / {n1}))"
    )
    null = "ELSE CAST(NULL AS BIGINT) END"
    return arms.agg(
        F.expr(n0).alias("n0"),
        F.expr(x0).alias("x0"),
        F.expr(n1).alias("n1"),
        F.expr(x1).alias("x1"),
        # CASE guards: ANSI div-by-zero throws on an empty arm (the
        # mini edge fixture has single-user cohorts) — NULL like DuckDB
        F.expr(f"CASE WHEN {n0} > 0 THEN {ss_ppm(x0, n0)} {null}").alias("p0_ppm"),
        F.expr(f"CASE WHEN {n1} > 0 THEN {ss_ppm(x1, n1)} {null}").alias("p1_ppm"),
        F.expr(
            f"CASE WHEN ((({n0} > 0) AND ({n1} > 0)) AND ({x0} + {x1} > 0))"
            f" AND ({x0} + {x1} < {n0} + {n1}) THEN {ss_micros(z)} {null}"
        ).alias("z_micros"),
    )
