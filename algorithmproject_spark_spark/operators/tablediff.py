"""Keyed table diff — the other half of migration validation.

``table_checksum`` (checksum.py) answers *whether* two relations
differ; this operator answers *where*: per-key classification into
``added`` / ``removed`` / ``changed`` / ``unchanged`` via ONE
key-keyed full-outer join of per-row value hashes. Each side is a
single scan + hash projection (map-only); the join is the only
shuffle, AQE-skew-splittable, and nothing is ever collected.

At 100 TB both sides would be bucketed on the key (sources/writers.py
``write_bucketed_table``) making the diff join shuffle-free; the
operator itself is layout-agnostic.

Reference parity: none — the reference re-reads full snapshots and
has no diff primitive; this complements the CDC family
(operators/cdc.py) by *deriving* a changeset from two snapshots (the
inverse of cdc_apply, which applies one).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.operators.checksum import row_hash, sql_row_hash_expr
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table


def table_diff(
    a: DataFrame, b: DataFrame, key_cols: list[str], val_cols: list[str]
) -> DataFrame:
    """Per-key change classification from snapshot ``a`` to ``b``:
    ``(key_cols..., change_type)`` with change_type in
    added/removed/changed/unchanged. Keys must be unique per side."""
    ha = a.select(*key_cols, row_hash(val_cols).alias("__ha"))
    hb = b.select(*key_cols, row_hash(val_cols).alias("__hb"))
    j = ha.join(hb, key_cols, "full_outer")
    status = (
        F.when(F.col("__hb").isNull(), F.lit("removed"))
        .when(F.col("__ha").isNull(), F.lit("added"))
        .when(F.col("__ha") != F.col("__hb"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(*key_cols, status.alias("change_type"))


def diff_summary(diff: DataFrame, key_col: str) -> DataFrame:
    """Roll a diff up to ``(change_type, n_rows, min_key, max_key)`` —
    the compact artifact a migration gate records."""
    return diff.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(key_col).alias("min_key"),
        F.max(key_col).alias("max_key"),
    )


def sql_table_diff_summary(
    a_sql: str, b_sql: str, key: str, val_cols: list[str]
) -> str:
    """DuckDB twin: summary of the keyed diff between two relations
    given as SQL subqueries with a single key column ``key``."""
    h = sql_row_hash_expr(val_cols)
    return f"""
    WITH td_a AS (SELECT {key} AS k, {h} AS ha FROM ({a_sql})),
    td_b AS (SELECT {key} AS k, {h} AS hb FROM ({b_sql})),
    td_j AS (
        SELECT COALESCE(td_a.k, td_b.k) AS k,
               CASE WHEN hb IS NULL THEN 'removed'
                    WHEN ha IS NULL THEN 'added'
                    WHEN ha <> hb THEN 'changed'
                    ELSE 'unchanged' END AS change_type
        FROM td_a FULL OUTER JOIN td_b ON td_a.k = td_b.k
    )
    SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(k) AS min_key, MAX(k) AS max_key
    FROM td_j GROUP BY change_type
    """


_VALS = ["o_custkey", "o_orderstatus", "o_orderpriority", "o_totalprice"]


def _mutated(orders: DataFrame) -> DataFrame:
    """Deterministic second snapshot: drop keys ≡0 (mod 97), change
    priority on keys ≡0 (mod 101), add offset copies of keys ≡0
    (mod 89)."""
    kept = orders.filter(F.col("o_orderkey") % 97 != 0)
    changed = kept.withColumn(
        "o_orderpriority",
        F.when(
            F.col("o_orderkey") % 101 == 0, F.lit("0-RESTATED")
        ).otherwise(F.col("o_orderpriority")),
    )
    added = orders.filter(F.col("o_orderkey") % 89 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(1_000_000_000)
    )
    return changed.unionByName(added)


_SQL_MUTATED = """
        SELECT o_orderkey,
               o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 101 = 0 THEN '0-RESTATED'
                    ELSE o_orderpriority END AS o_orderpriority,
               o_totalprice
        FROM orders WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + 1000000000,
               o_custkey, o_orderstatus, o_orderpriority, o_totalprice
        FROM orders WHERE o_orderkey % 89 = 0
    """


@register(
    "orders_snapshot_diff",
    oracle=sql_table_diff_summary(
        "SELECT * FROM orders", _SQL_MUTATED, "o_orderkey", _VALS
    ),
    doc="Keyed snapshot diff (added/removed/changed/unchanged "
    "counts + key witnesses) between orders and a deterministic "
    "mutation of it — one full-outer hash join, the inverse of "
    "cdc_apply",
)
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    d = table_diff(orders, _mutated(orders), ["o_orderkey"], _VALS)
    return diff_summary(d, "o_orderkey")
