"""Sequence-pattern detection (CEP) — MATCH_RECOGNIZE semantics as
window composition.

The classic complex-event-processing ask — "pattern A{3} within T1,
then B within T2" — has no native Spark operator (Flink has CEP /
MATCH_RECOGNIZE; Spark does not). The relational compilation used
here handles the whole fixed-length-pattern class:

1. one per-key ordered pass over ALL events computes, for every row,
   the next-occurrence time of the CLOSING symbol (min of a
   conditional over the strictly-following frame — 'next purchase
   after me');
2. restrict to the OPENING symbol's sub-sequence (errors) and read
   the pattern body with ``lead(k)`` over that sub-sequence: the
   3-error burst is (t, lead(t,2)) within BURST_US, and the closing
   symbol's time rides along via ``lead(next_purchase, 2)``;
3. the match predicate is pure integer micro arithmetic on those
   columns — map-side after the two keyed windows.

Cost: two window passes over one (user-keyed) shuffle partition
order, zero self-joins — at 100 TB this is the same shape as any
sessionization, and per-key state is the window frame, never the
corpus. Contrast with the naive EXISTS-subquery form, which compiles
to a per-burst correlated probe (a join per pattern element).

The detected pattern here: an ERROR BURST (3 errors inside 48 h)
followed by a PURCHASE within 24 h of the burst's end — "did the
user recover and convert after repeated failures", rolled up per
user.

Reference parity: none — the reference has no ordered-sequence
analytics; extends the funnel family (events_ordered_funnel) from
fixed single-step ordering to bounded multi-event patterns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

BURST_N = 3
BURST_US = 48 * 3600 * 1_000_000
RECOVER_US = 24 * 3600 * 1_000_000


def error_burst_recovery(events: DataFrame) -> DataFrame:
    """Per-user burst/recovery counts: ``(user_id, n_bursts,
    n_recovered, min_burst_span_us)`` over users with ≥1 burst."""
    t = F.unix_micros(F.col("ts"))
    all_w = Window.partitionBy("user_id").orderBy("t", "event_id")
    base = events.select(
        "user_id", "event_id", "event_type", t.alias("t")
    ).withColumn(
        "next_purchase",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("t"))
        ).over(all_w.rowsBetween(1, Window.unboundedFollowing)),
    )
    err_w = Window.partitionBy("user_id").orderBy("t", "event_id")
    errs = base.filter(F.col("event_type") == "error").select(
        "user_id",
        "t",
        F.lead("t", BURST_N - 1).over(err_w).alias("t3"),
        F.lead("next_purchase", BURST_N - 1).over(err_w).alias("np3"),
    )
    bursts = errs.filter(
        F.col("t3").isNotNull() & (F.col("t3") - F.col("t") <= F.lit(BURST_US))
    )
    recovered = (
        F.col("np3").isNotNull()
        & (F.col("np3") - F.col("t3") <= F.lit(RECOVER_US))
    ).cast("long")
    return bursts.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_bursts"),
        F.sum(recovered).alias("n_recovered"),
        F.min(F.col("t3") - F.col("t")).alias("min_burst_span_us"),
    )


@register(
    "events_error_burst_recovery",
    oracle=f"""
        WITH cep_b AS (
            SELECT user_id, event_id, event_type, epoch_us(ts) AS t
            FROM events
        ),
        cep_np AS (
            SELECT user_id, event_id, event_type, t,
                   MIN(CASE WHEN event_type = 'purchase' THEN t END) OVER (
                       PARTITION BY user_id ORDER BY t, event_id
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
                   ) AS next_purchase
            FROM cep_b
        ),
        cep_e AS (
            SELECT user_id, t,
                   lead(t, {BURST_N - 1}) OVER w AS t3,
                   lead(next_purchase, {BURST_N - 1}) OVER w AS np3
            FROM cep_np WHERE event_type = 'error'
            WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
        ),
        cep_m AS (
            SELECT user_id, t, t3, np3 FROM cep_e
            WHERE t3 IS NOT NULL AND t3 - t <= {BURST_US}
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_bursts,
               CAST(SUM(CASE WHEN np3 IS NOT NULL
                              AND np3 - t3 <= {RECOVER_US}
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_recovered,
               CAST(MIN(t3 - t) AS BIGINT) AS min_burst_span_us
        FROM cep_m GROUP BY user_id
        """,
    doc="CEP pattern 'ERROR{3} within 48h then PURCHASE within "
    "24h' compiled to two keyed window passes (next-closing-"
    "symbol carried via lead) — zero self-joins, per-user "
    "burst/recovery counts; the MATCH_RECOGNIZE class Spark "
    "lacks natively",
)
def events_error_burst_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return error_burst_recovery(load_table(spark, sf_dir, "events"))


FUNNEL_GAP_US = 24 * 3600 * 1_000_000


@register(
    "events_strict_funnel_matches",
    oracle=f"""
        WITH pm_r AS (
            SELECT user_id AS key, epoch_us(ts) AS t, event_id,
                   event_type = 'view' AS s0,
                   event_type = 'click' AS s1,
                   event_type = 'purchase' AS s2
            FROM events
            WHERE event_type IN ('view', 'click', 'purchase')
        ),
        pm_l AS (
            SELECT key, t, s0,
                   lead(s1, 1) OVER w AS ls1, lead(s2, 2) OVER w AS ls2,
                   lead(t, 1) OVER w AS lt1, lead(t, 2) OVER w AS lt2
            FROM pm_r
            WINDOW w AS (PARTITION BY key ORDER BY t, event_id)
        ),
        pm_m AS (
            SELECT key, t, lt2 FROM pm_l
            WHERE s0 AND COALESCE(ls1, false)
              AND lt1 - t <= {FUNNEL_GAP_US}
              AND COALESCE(ls2, false)
              AND lt2 - lt1 <= {FUNNEL_GAP_US}
        )
        SELECT key AS user_id,
               CAST(COUNT(*) AS BIGINT) AS n_matches,
               CAST(MIN(lt2 - t) AS BIGINT) AS min_span_us
        FROM pm_m GROUP BY key
        """,
    doc="general pattern matcher (operators/pattern.py) on the "
    "strict view→click→purchase funnel: MATCH_RECOGNIZE "
    "contiguity over the relevant substream (an intervening "
    "relevant event breaks the match), 24h step bounds, one "
    "keyed window pass for any pattern length — per-user match "
    "counts and tightest span",
)
def events_strict_funnel_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from algorithmproject_spark_spark.operators.pattern import (
        match_contiguous_pattern,
    )

    ev = load_table(spark, sf_dir, "events")
    m = match_contiguous_pattern(
        ev,
        "user_id",
        "ts",
        "event_id",
        [
            F.col("event_type") == "view",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
        [FUNNEL_GAP_US, FUNNEL_GAP_US],
    )
    return m.groupBy(F.col("key").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("span_us").alias("min_span_us"),
    )


@register(
    "events_skip_funnel_matches",
    oracle=f"""
        WITH sk_r AS (
            SELECT user_id AS key, epoch_us(ts) AS t, event_id AS o,
                   event_type = 'view' AS s0,
                   event_type = 'click' AS s1,
                   event_type = 'purchase' AS s2
            FROM events
            WHERE event_type IN ('view', 'click', 'purchase')
        ),
        sk_np AS (
            SELECT *, min(CASE WHEN s2 THEN t END) OVER (
                       PARTITION BY key ORDER BY t DESC, o DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS np
            FROM sk_r
        ),
        sk_nc AS (
            SELECT *, min(CASE WHEN s1 THEN
                             struct_pack(t := t, o := o, np := np)
                          END) OVER (
                       PARTITION BY key ORDER BY t DESC, o DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS nc
            FROM sk_np
        ),
        sk_m AS (
            SELECT key, t, nc.np AS t_end FROM sk_nc
            WHERE s0 AND nc IS NOT NULL
              AND nc.t - t <= {FUNNEL_GAP_US}
              AND nc.np IS NOT NULL
              AND nc.np - nc.t <= {FUNNEL_GAP_US}
        )
        SELECT key AS user_id,
               CAST(COUNT(*) AS BIGINT) AS n_matches,
               CAST(MIN(t_end - t) AS BIGINT) AS min_span_us
        FROM sk_m GROUP BY key
        """,
    doc="skip-till-next-match funnel view->click->purchase "
    "(operators/pattern.py::match_skip_to_next): events between "
    "steps are ALLOWED — each step binds to the first matching "
    "event strictly after the previous step (FlinkCEP followedBy "
    "semantics, greedy, no backtracking), 24h per-step bounds, "
    "ties broken by event_id. Compiled to two backward "
    "running-min window passes over one keyed sort; the oracle "
    "pins the binding (first occurrence), tie, and timeout "
    "semantics via the identical struct-min algebra",
)
def events_skip_funnel_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from algorithmproject_spark_spark.operators.pattern import (
        match_skip_to_next,
    )

    ev = load_table(spark, sf_dir, "events")
    m = match_skip_to_next(
        ev,
        "user_id",
        "ts",
        "event_id",
        [
            F.col("event_type") == "view",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
        [FUNNEL_GAP_US, FUNNEL_GAP_US],
    )
    return m.groupBy(F.col("key").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("span_us").alias("min_span_us"),
    )
