"""Event-log queries — JSON extraction (F3) and time-bucketed
aggregation, the batch twins of the streaming facade.

The reference addresses JSON-in-string event fields with
``get_json_object(event, '$.2')``
(``label/driver/URLandSearchwordExtractorDriver.scala:40``,
``article/ReadPushClickData.scala:41-42``); its streaming library has
sources/sinks but no event-time windows (SURVEY.md §3.4) — the
tumbling-window aggregate here is the extension, and
``streaming/windows.py`` runs the same logical plan incrementally.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.functions.numeric import ss_floordiv, ss_scaled_long
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table


@register(
    "events_json_extract",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    GROUP BY 1
    """,
    doc="F3: get_json_object on a JSON-string column + group agg",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.get_json_object("props", "$.k").cast("int").alias("k"),
            F.expr(ss_scaled_long("value", 100)).alias("value_cents_row"),
        )
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value_cents_row").alias("value_cents"),
        )
    )


@register(
    "events_tumbling_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    GROUP BY 1, 2
    """,
    doc="tumbling 1h event-time window agg (streaming twin in streaming/windows.py)",
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(f"sum({ss_scaled_long('value', 100)})").alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "value_cents",
        )
    )


@register(
    "events_type_funnel",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'view') AS views,
           count(*) FILTER (WHERE event_type = 'click') AS clicks,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchases
    FROM events
    GROUP BY user_id
    """,
    doc="conditional aggregation (push/click join stats — article/ReadPushClickData.scala)",
)
def events_type_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def cnt(t: str) -> Column:
        return F.count(F.when(F.col("event_type") == t, 1))

    return ev.groupBy("user_id").agg(
        cnt("view").alias("views"),
        cnt("click").alias("clicks"),
        cnt("purchase").alias("purchases"),
    )


# --------------------------------------------------------------------------
# Hypertable-style multi-resolution rollup (north-star extension): one
# pass computes hour-level, day-level and day-total aggregates via
# GROUPING SETS — the batch twin of a timeseries store's continuous
# aggregate ladder. Expressed through the SQL frontend (S10) over a
# registered view; Catalyst plans a single Expand + partial/final
# aggregate, so the corpus is scanned ONCE for all three resolutions —
# at 100 TB that's the difference between one shuffle and three jobs.
# Exact cents math keeps it oracle-checkable.
# --------------------------------------------------------------------------
@register(
    "events_multires_rollup",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
           date_trunc('hour', ts) AS h,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    GROUP BY GROUPING SETS ((d, h, event_type), (d, event_type), (d))
    """,
    doc="hypertable rollup: hour/day/day-total aggregates in ONE scan "
    "via GROUPING SETS (single Expand+aggregate plan)",
)
def events_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_v")
    return spark.sql(
        """
        SELECT date_trunc('day', ts) AS d,
               date_trunc('hour', ts) AS h,
               event_type,
               count(*) AS n,
               sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS value_cents
        FROM events_v
        GROUP BY GROUPING SETS ((d, h, event_type), (d, event_type), (d))
        """
    )


# --------------------------------------------------------------------------
# Cohort retention — the standard product-analytics rollup (no reference
# analogue; nearest is the push/click funnel, ReadPushClickData.scala).
# Day numbers are pure BIGINT epoch-microsecond division, so both
# engines bucket identically with zero date-function dialect risk; the
# whole query is two hash aggregations + one broadcast-sized join
# (cohort table is one row per user).
# --------------------------------------------------------------------------
@register(
    "events_cohort_retention",
    oracle="""
    WITH activity AS (
        SELECT DISTINCT user_id,
               epoch_us(ts) // 86400000000 AS day_num
        FROM events
    ),
    cohort AS (
        SELECT user_id, min(day_num) AS cohort_day FROM activity GROUP BY user_id
    )
    SELECT c.cohort_day,
           (a.day_num - c.cohort_day) // 7 AS week_offset,
           count(DISTINCT a.user_id) AS n_users
    FROM activity a JOIN cohort c USING (user_id)
    GROUP BY 1, 2
    """,
    doc="cohort retention: users bucketed by first-activity day, distinct "
    "actives per week offset (exact epoch-day integer arithmetic)",
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day_num = F.expr("unix_micros(ts) div 86400000000")
    activity = ev.select("user_id", day_num.alias("day_num")).distinct()
    cohort = activity.groupBy("user_id").agg(F.min("day_num").alias("cohort_day"))
    return (
        activity.join(cohort, "user_id")
        .groupBy(
            "cohort_day",
            F.expr("(day_num - cohort_day) div 7").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "events_sliding_2h_1h",
    oracle="""
    SELECT date_trunc('hour', ts) - (o * INTERVAL 1 HOUR) AS window_start,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events, (VALUES (0), (1)) offs(o)
    GROUP BY 1, 2
    """,
    doc="sliding 2h-window/1h-slide event-time agg: each event lands in "
    "exactly 2 epoch-aligned windows; Spark's window() explodes "
    "map-side then partial-aggregates, so the shuffle carries groups, "
    "not the 2x exploded rows",
)
def events_sliding_2h_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(f"sum({ss_scaled_long('value', 100)})").alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "value_cents",
        )
    )


# Cardinality sketches — the 100 TB path for distinct counts. An exact
# count(DISTINCT user) shuffles every distinct key; a Datasketches HLL
# sketch is a fixed-size mergeable state (map-side partials, tiny
# shuffle) with a published error envelope. The estimate is a
# deterministic function of the input SET (engine-specific, so not
# hash-comparable across engines); what IS cross-engine-checkable is
# the exact count and the claim that the sketch landed inside its
# envelope — the oracle pins that claim to literal TRUE.
@register(
    "events_distinct_users_hll",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users_exact,
           TRUE AS hll_within_5pct
    FROM events
    GROUP BY event_type
    """,
    doc="HLL sketch cardinality (hll_sketch_agg, lgK=14) vs exact "
    "distinct per type; returns the exact count plus a sketch-accuracy "
    "flag the oracle pins to TRUE. The asserted envelope is 5% — ~6 "
    "sigma at lgK=14's ~0.8% RSE — so a driver testdata regeneration "
    "with much higher distinct cardinality cannot fail the gate on an "
    "ordinary sketch excursion",
)
def events_distinct_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users_exact"),
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(14))).alias("est"),
        )
        .select(
            "event_type",
            "n_users_exact",
            (
                F.abs(F.col("est") - F.col("n_users_exact")) * F.lit(20)
                <= F.col("n_users_exact")
            ).alias("hll_within_5pct"),
        )
    )


@register(
    "events_hourly_gapfill",
    oracle="""
    WITH bounds AS (
        SELECT event_type,
               date_trunc('hour', min(ts)) AS lo,
               date_trunc('hour', max(ts)) AS hi
        FROM events GROUP BY event_type
    ),
    dense AS (
        SELECT b.event_type, gs.h AS hour
        FROM bounds b, LATERAL (
            SELECT unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS h
        ) gs
    ),
    agg AS (
        SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT d.event_type, d.hour, coalesce(a.n, 0) AS n
    FROM dense d LEFT JOIN agg a
      ON a.event_type = d.event_type AND a.hour = d.hour
    """,
    doc="time-series resample with gap fill: dense per-type hourly grid "
    "(sequence+explode bounded by the type's own time span) left-joined "
    "to the hourly counts, zeros for silent hours — the hypertable-"
    "rollup companion for charts/anomaly detection that need explicit "
    "empty buckets",
)
def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    bounds = ev.groupBy("event_type").agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    dense = bounds.select(
        "event_type",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    return dense.join(agg, ["event_type", "hour"], "left").select(
        "event_type", "hour", F.coalesce("n", F.lit(0)).alias("n")
    )


@register(
    "events_gapfill_interpolate",
    oracle="""
    WITH agg AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS val_e6
        FROM events GROUP BY 1, 2
    ),
    bounds AS (
        SELECT event_type, min(hour) AS lo, max(hour) AS hi FROM agg GROUP BY 1
    ),
    dense AS (
        SELECT b.event_type, gs.h AS hour
        FROM bounds b, LATERAL (
            SELECT unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS h
        ) gs
    ),
    grid AS (
        SELECT d.event_type, d.hour,
               CAST(epoch(d.hour) // 3600 AS BIGINT) AS hidx,
               a.val_e6
        FROM dense d LEFT JOIN agg a
          ON a.event_type = d.event_type AND a.hour = d.hour
    ),
    ctx AS (
        SELECT event_type, hour, hidx, val_e6,
               last_value(val_e6 IGNORE NULLS) OVER w_prev AS pv,
               last_value(CASE WHEN val_e6 IS NOT NULL THEN hidx END IGNORE NULLS) OVER w_prev AS ph,
               first_value(val_e6 IGNORE NULLS) OVER w_next AS nv,
               first_value(CASE WHEN val_e6 IS NOT NULL THEN hidx END IGNORE NULLS) OVER w_next AS nh
        FROM grid
        WINDOW
          w_prev AS (PARTITION BY event_type ORDER BY hidx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          w_next AS (PARTITION BY event_type ORDER BY hidx
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, hour,
           CAST(CASE WHEN val_e6 IS NOT NULL THEN val_e6
                ELSE pv + CAST(floor(CAST((nv - pv) * (hidx - ph) AS DOUBLE) / (nh - ph)) AS BIGINT)
           END AS BIGINT) AS filled_e6,
           (val_e6 IS NOT NULL) AS was_present
    FROM ctx
    """,
    doc="Gap-fill with LINEAR INTERPOLATION: the dense hourly grid "
    "(bounded per type by its own present span, so an interior gap "
    "always has both neighbors) carries each silent hour the "
    "prev/next present values via ignore-nulls window frames, then "
    "fills floor(pv + (nv-pv)*(h-hp)/(hn-hp)) in exact e6 fixed-point "
    "— the float division is a single IEEE op on <2^53 integers, so "
    "floor is bit-stable in both engines. Two frames over one keyed "
    "sort, no self-join per gap",
)
def events_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W


    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.expr(f"sum({ss_scaled_long('value', 1000000)})").alias("val_e6"))
    bounds = agg.groupBy("event_type").agg(
        F.min("hour").alias("lo"), F.max("hour").alias("hi")
    )
    dense = bounds.select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias(
            "hour"
        ),
    )
    grid = dense.join(agg, ["event_type", "hour"], "left").select(
        "event_type",
        "hour",
        (F.unix_timestamp("hour") / 3600).cast("long").alias("hidx"),
        "val_e6",
    )
    w_prev = (
        W.partitionBy("event_type")
        .orderBy("hidx")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_next = (
        W.partitionBy("event_type")
        .orderBy("hidx")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    present_h = F.when(F.col("val_e6").isNotNull(), F.col("hidx"))
    ctx = grid.select(
        "event_type",
        "hour",
        "hidx",
        "val_e6",
        F.last("val_e6", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(present_h, ignorenulls=True).over(w_prev).alias("ph"),
        F.first("val_e6", ignorenulls=True).over(w_next).alias("nv"),
        F.first(present_h, ignorenulls=True).over(w_next).alias("nh"),
    )
    interp = F.col("pv") + F.floor(
        ((F.col("nv") - F.col("pv")) * (F.col("hidx") - F.col("ph"))).cast(
            "double"
        )
        / (F.col("nh") - F.col("ph"))
    ).cast("long")
    return ctx.select(
        "event_type",
        "hour",
        F.when(F.col("val_e6").isNotNull(), F.col("val_e6"))
        .otherwise(interp)
        .cast("long")
        .alias("filled_e6"),
        F.col("val_e6").isNotNull().alias("was_present"),
    )


@register(
    "events_ordered_funnel",
    plan=("scalar_cross",),
    oracle="""
    WITH windowed AS (
        SELECT e.* FROM events e
        WHERE e.ts < (SELECT min(ts) FROM events) + INTERVAL 48 HOUR
    )
    SELECT CAST(count(t_view) AS BIGINT) AS n_viewed,
           CAST(count(t_click) AS BIGINT) AS n_view_then_click,
           CAST(count(t_purchase) AS BIGINT) AS n_full_funnel
    FROM (
        SELECT user_id, t_view, t_click,
               list_min(list_filter(purchases, x -> x >= t_click)) AS t_purchase
        FROM (
            SELECT user_id, t_view,
                   list_min(list_filter(clicks, x -> x >= t_view)) AS t_click,
                   purchases
            FROM (
                SELECT user_id,
                       min(ts) FILTER (WHERE event_type = 'view') AS t_view,
                       list(ts) FILTER (WHERE event_type = 'click') AS clicks,
                       list(ts) FILTER (WHERE event_type = 'purchase') AS purchases
                FROM windowed GROUP BY user_id
            )
        )
    )
    """,
    doc="ORDERED funnel conversion (view -> later click -> later "
    "purchase) over the first 48 hours of the stream — the window is "
    "RELATIVE to min(ts) (a broadcast 1-row scalar) so regenerated "
    "testdata keeps the funnel discriminating (92/41/21 at sf0.01). "
    "One aggregation pass collects each user's first view time plus "
    "click/purchase time arrays; the step times resolve with "
    "array_min over a filtered array — order-independent per user, so "
    "ONE keyed shuffle regardless of funnel depth, versus the "
    "per-step self-join the naive formulation costs",
)
def events_ordered_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev0 = load_table(spark, sf_dir, "events")
    lo = ev0.agg(F.min("ts").alias("t0"))
    ev = ev0.crossJoin(F.broadcast(lo)).filter(
        F.col("ts") < F.col("t0") + F.expr("INTERVAL 48 HOURS")
    )
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_view"
        ),
        F.collect_list(
            F.when(F.col("event_type") == "click", F.col("ts"))
        ).alias("clicks"),
        F.collect_list(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("purchases"),
    )
    t_click = F.array_min(
        F.filter("clicks", lambda c: c >= F.col("t_view"))
    ).alias("t_click")
    steps = per_user.select("user_id", "t_view", t_click, "purchases")
    t_purchase = F.array_min(
        F.filter("purchases", lambda p: p >= F.col("t_click"))
    ).alias("t_purchase")
    return steps.select("t_view", "t_click", t_purchase).agg(
        F.count("t_view").alias("n_viewed"),
        F.count("t_click").alias("n_view_then_click"),
        F.count("t_purchase").alias("n_full_funnel"),
    )


WINSOR_PCT = 5  # clip 5% in each tail


@register(
    "events_value_winsorized",
    oracle=f"""
    WITH v AS (
        SELECT event_type,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v_e2,
               event_id
        FROM events
    ),
    r AS (
        SELECT event_type, v_e2,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY v_e2, event_id
               ) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM v
    ),
    k AS (SELECT *, (n * {WINSOR_PCT}) // 100 AS kt FROM r)
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(MAX(CASE WHEN rn = kt + 1 THEN v_e2 END) AS BIGINT) AS lo_thr_e2,
           CAST(MAX(CASE WHEN rn = n - kt THEN v_e2 END) AS BIGINT) AS hi_thr_e2,
           CAST(SUM(CASE WHEN rn > kt AND rn <= n - kt THEN v_e2 ELSE 0 END)
                + MAX(kt) * MAX(CASE WHEN rn = kt + 1 THEN v_e2 END)
                + MAX(kt) * MAX(CASE WHEN rn = n - kt THEN v_e2 END)
                AS BIGINT) AS winsorized_sum_e2,
           CAST((SUM(CASE WHEN rn > kt AND rn <= n - kt THEN v_e2 ELSE 0 END)
                + MAX(kt) * MAX(CASE WHEN rn = kt + 1 THEN v_e2 END)
                + MAX(kt) * MAX(CASE WHEN rn = n - kt THEN v_e2 END)
                ) * 100 // MAX(n) AS BIGINT) AS wmean_e4
    FROM k GROUP BY event_type
    """,
    doc="Exact winsorized statistics per event type: clip 5% in each "
    "tail at exact order-statistic thresholds (deterministic "
    "tie-break), all arithmetic in scaled integers. One per-type "
    "window pass + one aggregate; production swaps exact order "
    "statistics for approx_percentile thresholds (A6) when per-group "
    "volumes make a sort unreasonable",
)
def events_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winsorized_value_stats(
        load_table(spark, sf_dir, "events"), pct=WINSOR_PCT
    )


def winsorized_value_stats(events: DataFrame, pct: int = WINSOR_PCT) -> DataFrame:
    """Exact winsorized per-type stats over ``events(event_type,
    value, event_id)`` — clip ``pct``% in each tail at exact order
    statistics, scaled-integer arithmetic throughout."""
    from pyspark.sql import Window as W

    ev = events.select(
        "event_type", F.expr(ss_scaled_long("value")).alias("v_e2"), "event_id"
    )
    wo = W.partitionBy("event_type").orderBy("v_e2", "event_id")
    wp = W.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "v_e2",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    ).withColumn("kt", F.expr("n * {} div 100".format(pct)))
    mid_sum = F.sum(
        F.when(
            (F.col("rn") > F.col("kt")) & (F.col("rn") <= F.col("n") - F.col("kt")),
            F.col("v_e2"),
        ).otherwise(F.lit(0))
    )
    lo_thr = F.max(F.when(F.col("rn") == F.col("kt") + 1, F.col("v_e2")))
    hi_thr = F.max(F.when(F.col("rn") == F.col("n") - F.col("kt"), F.col("v_e2")))
    kt = F.max("kt")
    wsum = mid_sum + kt * lo_thr + kt * hi_thr
    return r.groupBy("event_type").agg(
        F.max("n").alias("n"),
        lo_thr.alias("lo_thr_e2"),
        hi_thr.alias("hi_thr_e2"),
        wsum.alias("winsorized_sum_e2"),
    ).withColumn(
        # derived from the aggregated sum, not a second copy of the
        # formula — the two outputs cannot desynchronize
        "wmean_e4",
        F.expr("winsorized_sum_e2 * 100 div n"),
    )


@register(
    "events_exact_global_quantiles",
    oracle="""
    WITH v AS (
        SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v_e2
        FROM events
    ),
    dist AS (SELECT v_e2, COUNT(*) AS c FROM v GROUP BY v_e2),
    cum AS (
        SELECT v_e2,
               SUM(c) OVER (ORDER BY v_e2) AS cum,
               SUM(c) OVER () AS n
        FROM dist
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN cum * 100 >= n * 50 THEN v_e2 END) AS BIGINT) AS p50_e2,
           CAST(MIN(CASE WHEN cum * 100 >= n * 90 THEN v_e2 END) AS BIGINT) AS p90_e2,
           CAST(MIN(CASE WHEN cum * 100 >= n * 99 THEN v_e2 END) AS BIGINT) AS p99_e2
    FROM cum
    """,
    doc="Exact global quantiles WITHOUT a global sort of the data: "
    "compact the value column to its (value, count) distribution "
    "(one keyed groupBy with map-side partials), then a cumulative "
    "sum over the bounded distinct-value relation selects the exact "
    "order statistics. The single-partition window runs over "
    "distribution rows (distinct values), never data rows — the "
    "standard scalable exact-quantile shape for bounded-cardinality "
    "domains; unbounded domains fall back to approx_percentile (A6)",
)
def events_exact_global_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        F.expr(ss_scaled_long("value")).alias("v_e2")
    )
    dist = ev.groupBy("v_e2").agg(F.count(F.lit(1)).alias("c"))
    cum = dist.select(
        "v_e2",
        F.sum("c").over(
            W.orderBy("v_e2").rowsBetween(W.unboundedPreceding, 0)
        ).alias("cum"),
        F.sum("c").over(
            W.partitionBy().rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        ).alias("n"),
    )
    def pick(q: int):
        return F.min(
            F.when(F.col("cum") * 100 >= F.col("n") * q, F.col("v_e2"))
        )
    return cum.agg(
        F.max("n").alias("n"),
        pick(50).alias("p50_e2"),
        pick(90).alias("p90_e2"),
        pick(99).alias("p99_e2"),
    )


# --------------------------------------------------------------------------
# Pivot (wide-format reshaping): the DataFrame API's
# groupBy().pivot().agg() with an EXPLICIT value list — the only form
# that scales (without the list Spark runs an extra distinct job to
# discover columns, and unbounded pivot width is a schema explosion).
# The event-type alphabet is a bounded domain (5 values), so the plan
# is one partial/final aggregate with 5 conditional counters per
# group. Spark plans it as two aggregate phases (partials keyed on
# (d, type), then the width-5 pivot fold keyed on d) — both phases
# map-side-combined, payload bounded by days x 5 types. The DuckDB
# twin is the explicit CASE aggregation (pivot IS sugar for it, which
# the oracle makes visible).
# --------------------------------------------------------------------------
_PIVOT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "events_pivot_daily_type_counts",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
           CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_click,
           CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_error,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
           CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS n_signup,
           CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_view,
           CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS purchase_cents
    FROM events
    GROUP BY d
    """,
    doc="pivot to wide format: per-day event-type count matrix + "
    "purchase revenue, via groupBy().pivot() with an EXPLICIT value "
    "list (no column-discovery job, bounded width) — compiles to the "
    "standard two-phase aggregate (keyed partials on (d, type), then "
    "the width-5 pivot fold on d), the reshaped twin of the "
    "long-format groupBy",
)
def events_pivot_daily_type_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("d"),
        "event_type",
        F.expr(ss_scaled_long("value", 100)).alias("cents"),
    )
    wide = (
        ev.groupBy("d")
        .pivot("event_type", list(_PIVOT_TYPES))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents"))
    )
    # pivot names columns "<value>_<agg alias>"; project to the stable
    # contract names (counts coalesced: a day without a type is 0)
    return wide.select(
        "d",
        *[
            F.coalesce(F.col(f"{t}_n"), F.lit(0)).alias(f"n_{t}")
            for t in _PIVOT_TYPES
        ],
        F.col("purchase_cents").alias("purchase_cents"),
    )


# --------------------------------------------------------------------------
# Time-weighted average over irregular samples (step interpolation):
# each event's value holds until the user's next event of the same
# type; the weight is that holding duration. THE aggregation for
# unevenly-sampled gauges (a plain AVG over-weights chatty periods).
# Exact integers end-to-end: cents × whole-second durations (micros
# floor-divided by 1e6 — identical IntegralDivide in both engines),
# bounded: cents ≤ ~1e5, dt_s ≤ ~2.6e6 (30-day window), so a term is
# ≤ 2.6e11 and 1e7 intervals stay < 2^62. One keyed window (lead) +
# one keyed aggregate — linear, partial-agg friendly.
# --------------------------------------------------------------------------
@register(
    "events_time_weighted_value",
    oracle="""
    WITH twa_s AS (
        SELECT event_type,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
               (lead(epoch_us(ts)) OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY epoch_us(ts), event_id
                ) - epoch_us(ts)) // 1000000 AS dt_s
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dt_s) AS BIGINT) AS total_s,
           CAST(SUM(cents * dt_s) // NULLIF(SUM(dt_s), 0) AS BIGINT)
               AS twa_cents
    FROM twa_s WHERE dt_s IS NOT NULL
    GROUP BY event_type
    """,
    doc="time-weighted average value per event type: step "
    "interpolation over each user's irregular series (value holds "
    "until the next same-type event, weight = holding seconds), "
    "aggregated across users — one lead window + one keyed aggregate, "
    "exact cents x whole-second integer arithmetic",
)
def events_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    t = "unix_micros(ts)"
    lead_t = (
        f"lead({t}) OVER (PARTITION BY user_id, event_type ORDER BY {t}, event_id)"
    )
    series = ev.select(
        "event_type",
        F.expr(ss_scaled_long("value", 100)).alias("cents"),
        F.expr(ss_floordiv(f"{lead_t} - {t}", "1000000")).alias("dt_s"),
    ).filter(F.col("dt_s").isNotNull())
    return series.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("dt_s").alias("total_s"),
        F.expr(
            ss_floordiv("sum(cents * dt_s)", "nullif(sum(dt_s), 0)")
        ).alias("twa_cents"),
    )
