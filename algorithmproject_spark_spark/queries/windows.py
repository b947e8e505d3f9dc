"""Window-function queries — SURVEY.md §2.5 W1-W3.

The reference has ZERO ``Window.partitionBy`` usage and emulates every
windowed computation imperatively: global row ids via
``rdd.zipWithIndex`` + schema rebuild copied 4× (W1,
``ArticleInfoProcess.scala:17-36``), per-entity top-N by sorting Scala
lists inside UDFs (W2, ``TextRank.scala:90``), and per-class quotas via
``filter(class).limit(n)`` repeated per class then unioned (W3,
``mark/NewsMarchSubCategoryTrainProcess.scala:67-73``). Real window
functions replace all three — one shuffle, no driver involvement, and
deterministic because every ORDER BY ends in a unique key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from algorithmproject_spark_spark.functions.numeric import ss_scaled_long
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table


@register(
    "window_global_rownum",
    plan=("arrow", "global_sort",),
    oracle="""
    SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
    FROM documents
    """,
    doc="W1: dfZipWithIndex replacement — row_number over global order",
)
def window_global_rownum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scalable W1: an unpartitioned row_number window funnels ALL rows
    # through one task; zip_with_global_index keeps the sort range-
    # partitioned and assigns offsets from per-partition counts instead
    # (operators/core.py) — identical result for the unique doc_id key.
    from algorithmproject_spark_spark.operators.core import zip_with_global_index

    docs = load_table(spark, sf_dir, "documents")
    return zip_with_global_index(docs.select("doc_id"), "doc_id", "rn0").select(
        "doc_id", (F.col("rn0") + 1).cast("int").alias("rn")
    )


@register(
    "window_topk_orders_per_cust",
    oracle="""
    SELECT * FROM (
        SELECT o_custkey, o_orderkey,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) DESC, o_orderkey
               ) AS rk
        FROM orders
    ) WHERE rk <= 3
    """,
    doc="W2: top-N per entity via row_number (reference sorts inside UDFs)",
)
def window_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.expr(ss_scaled_long("o_totalprice", 100)).desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "rk")
    )


@register(
    "window_quota_per_class",
    oracle="""
    SELECT * FROM (
        SELECT l_returnflag, l_orderkey, l_linenumber,
               row_number() OVER (
                   PARTITION BY l_returnflag ORDER BY l_orderkey, l_linenumber
               ) AS rk
        FROM lineitem
    ) WHERE rk <= 500
    """,
    doc="W3: per-class quota sampling in ONE pass (reference: filter+limit per class, unioned)",
)
def window_quota_per_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_returnflag").orderBy("l_orderkey", "l_linenumber")
    return (
        li.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 500)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "rk")
    )


@register(
    "window_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS running_cents
    FROM orders
    """,
    doc="running total per customer (exact integer frame sum)",
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.expr(f"sum({ss_scaled_long('o_totalprice', 100)})").over(w).alias("running_cents"),
    )


@register(
    "window_lag_session_gap",
    oracle="""
    SELECT user_id, event_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS gap_us
    FROM events
    """,
    doc="sessionization primitive: per-user lag(ts) gap in microseconds",
)
def window_lag_session_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    micros_ts = F.unix_micros(F.col("ts"))
    return ev.select(
        "user_id",
        "event_id",
        (micros_ts - F.lag(micros_ts).over(w)).alias("gap_us"),
    )


@register(
    "window_ntile_price_quartiles",
    oracle="""
    WITH q AS (
        SELECT c.c_mktsegment,
               ntile(4) OVER (PARTITION BY c.c_mktsegment
                              ORDER BY o.o_totalprice, o.o_orderkey) AS quartile,
               o.o_totalprice
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    )
    SELECT c_mktsegment,
           quartile,
           count(*) AS n,
           CAST(min(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS min_cents,
           CAST(max(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS max_cents
    FROM q GROUP BY 1, 2
    """,
    doc="ntile(4) price quartiles per market segment (deterministic "
    "tie-break on orderkey) rolled up to quartile boundaries — the "
    "banding window the reference approximates with per-class "
    "filter+limit passes",
)
def window_ntile_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy("o_totalprice", "o_orderkey")
    q = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_mktsegment", "o_totalprice", "o_orderkey")
        .withColumn("quartile", F.ntile(4).over(w))
    )
    return q.groupBy("c_mktsegment", "quartile").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"min({ss_scaled_long('o_totalprice', 100)})").alias("min_cents"),
        F.expr(f"max({ss_scaled_long('o_totalprice', 100)})").alias("max_cents"),
    )


@register(
    "window_rank_distribution_funcs",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           CAST(floor(percent_rank() OVER w * 1000000.0 + 0.5) AS BIGINT)
               AS pct_rank_e6,
           CAST(floor(cume_dist() OVER w * 1000000.0 + 0.5) AS BIGINT)
               AS cume_e6,
           first_value(o_orderkey) OVER w AS first_key
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice, o_orderkey)
    """,
    doc="ranking-function battery per status partition: rank, "
    "dense_rank, percent_rank, cume_dist (scaled to exact integers), "
    "first_value — deterministic tie-break on orderkey",
)
def window_rank_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    w_sql = "(PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)"
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.expr(ss_scaled_long(f"percent_rank() OVER {w_sql}", 1000000)).alias(
            "pct_rank_e6"
        ),
        F.expr(ss_scaled_long(f"cume_dist() OVER {w_sql}", 1000000)).alias(
            "cume_e6"
        ),
        F.first("o_orderkey").over(w).alias("first_key"),
    )


@register(
    "window_trailing_2h_range_frame",
    oracle="""
    SELECT event_id, user_id, ts,
           CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 7200000000 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS trailing_2h_e6,
           CAST(count(*) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 7200000000 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS trailing_2h_n
    FROM events
    WHERE user_id % 97 = 0
    """,
    doc="True RANGE window frame: per-user trailing-2-hour sum/count "
    "keyed by event TIME, not row position (rangeBetween over epoch "
    "MICROseconds — uneven event spacing means a rows-frame would be "
    "wrong, and whole-second keys would be too: Spark unix_timestamp "
    "floors the fractional second while DuckDB epoch() keeps it, so a "
    "neighbor inside the fractional window lands on different sides "
    "of the 2h boundary — a real divergence the sf1 sweep caught at "
    "10x event density. One keyed sort per user partition; the frame "
    "bound is a pointer walk within the sorted run, no self-join per "
    "row. Values are exact e6 fixed-point so the trailing sums "
    "hash-match",
)
def window_trailing_2h_range_frame(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 97 == 0
    )
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-7_200_000_000, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.expr(f"sum({ss_scaled_long('value', 1000000)})").over(w).alias("trailing_2h_e6"),
        F.count(F.lit(1)).over(w).alias("trailing_2h_n"),
    )
