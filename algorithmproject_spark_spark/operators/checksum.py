"""Cross-engine table checksum — migration validation as an operator.

Comparing a migrated table against its source is exactly what this
repo's oracle methodology does per query; this operator productizes
it: one row summarizing the full value multiset of a relation, built
ONLY from primitives both engines (and most warehouses) compute
bit-identically:

- per-row hash: md5 of the joined length-prefixed string forms of the
  chosen columns (md5 is specified byte-exact everywhere; the length
  prefix makes the encoding a prefix code, so no value content — not
  even one containing the separator — can shift bytes across a column
  boundary: ("ab","c") / ("a","bc") and ("a\\x1f1b","c") /
  ("a","b\\x1f1c") all hash differently),
- xor_hash: bit_xor of the first 15 hex digits as a 60-bit int — an
  ORDER-INDEPENDENT, OVERFLOW-FREE aggregate (xor never overflows, so
  unlike a modular sum it needs no row-count bound at 100 TB),
- n_rows / n_distinct_rows, min/max row hash as cheap extra witnesses
  (xor alone cannot see a row repeated an even number of times —
  n_rows + n_distinct close that gap for multiset equality).

Two tables match iff every column of the two checksum rows matches;
each side is ONE aggregation pass with map-side partials.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

SEP = "\x1f"  # ASCII unit separator


def row_hash(cols: list[str]) -> F.Column:
    """md5 hex string of the row's chosen columns.

    Null-safe AND injection-safe: ``concat_ws`` DROPS null inputs *and
    their separator*, so (NULL,'x') and ('x',NULL) would concatenate
    identically; and a raw separator-join is ambiguous when a VALUE
    contains the separator. Each value is therefore encoded as the
    prefix code ``1<char_length>:<value>`` for non-null, ``0`` for
    null, before joining — the length prefix pins every column
    boundary regardless of value content, so ('a\\x1f1b','c') and
    ('a','b\\x1f1c') hash differently."""
    tagged = []
    for c in cols:
        s = F.col(c).cast("string")
        tagged.append(
            F.coalesce(
                F.concat(
                    F.lit("1"), F.length(s).cast("string"), F.lit(":"), s
                ),
                F.lit("0"),
            )
        )
    return F.md5(F.concat_ws(SEP, *tagged))


def table_checksum(df: DataFrame, cols: list[str]) -> DataFrame:
    """1-row multiset checksum of ``df[cols]``."""
    h = row_hash(cols).alias("h")
    hashed = df.select(h)
    hex60 = F.conv(F.substring("h", 1, 15), 16, 10).cast("long")
    return hashed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("h").alias("n_distinct_rows"),
        F.bit_xor(hex60).alias("xor_hash"),
        F.min("h").alias("min_hash"),
        F.max("h").alias("max_hash"),
    )


def sql_row_hash_expr(cols: list[str]) -> str:
    """DuckDB twin of :func:`row_hash` (same length-prefix code).

    Both engines' ``length`` counts CHARACTERS on strings, so the
    prefixes agree cross-engine even for non-ASCII values."""
    tagged = ", ".join(
        "COALESCE('1' || CAST(length(CAST({c} AS VARCHAR)) AS VARCHAR)"
        " || ':' || CAST({c} AS VARCHAR), '0')".format(c=c)
        for c in cols
    )
    return f"md5(concat_ws(chr(31), {tagged}))"


def sql_table_checksum(table: str, cols: list[str]) -> str:
    """DuckDB twin of :func:`table_checksum`."""
    return f"""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_rows,
           CAST(bit_xor(CAST(concat('0x', substr(h, 1, 15)) AS BIGINT)) AS BIGINT) AS xor_hash,
           min(h) AS min_hash,
           max(h) AS max_hash
    FROM (SELECT {sql_row_hash_expr(cols)} AS h FROM {table})
    """


N_MERKLE_BUCKETS = 64


def bucket_checksums(
    df: DataFrame, cols: list[str], key: str, n_buckets: int = N_MERKLE_BUCKETS
) -> DataFrame:
    """Merkle-style per-bucket checksums: the drill-down companion to
    :func:`table_checksum`. When two table copies' global checksums
    diverge, comparing the ``n_buckets`` bucket rows locates WHICH key
    range differs at 1/n_buckets of the reconciliation cost — the
    anti-entropy pattern (Dynamo/Cassandra repair), in one keyed
    aggregation pass per side. Bucket = key % n_buckets (non-negative
    keys; engine-identical)."""
    h = row_hash(cols).alias("h")
    hashed = df.select((F.col(key) % n_buckets).alias("bucket"), h)
    hex60 = F.conv(F.substring("h", 1, 15), 16, 10).cast("long")
    return hashed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor(hex60).alias("xor_hash"),
        F.min("h").alias("min_hash"),
    )


def sql_bucket_checksums(
    table: str, cols: list[str], key: str, n_buckets: int = N_MERKLE_BUCKETS
) -> str:
    """DuckDB twin of :func:`bucket_checksums`."""
    return f"""
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(CAST(concat('0x', substr(h, 1, 15)) AS BIGINT)) AS BIGINT) AS xor_hash,
           min(h) AS min_hash
    FROM (SELECT ({key}) % {n_buckets} AS bucket,
                 {sql_row_hash_expr(cols)} AS h FROM {table})
    GROUP BY bucket
    """


_ORDERS_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


@register(
    "table_checksum_orders",
    oracle=sql_table_checksum("orders", _ORDERS_COLS),
    doc="Cross-engine migration-validation checksum of the orders "
    "table: order-independent bit_xor of 60-bit md5 prefixes + "
    "row/distinct counts + min/max hash witnesses, one "
    "aggregation pass per side — the operator form of this "
    "repo's own oracle gate",
)
def table_checksum_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table_checksum(load_table(spark, sf_dir, "orders"), _ORDERS_COLS)


@register(
    "orders_partition_merkle",
    oracle=sql_bucket_checksums("orders", _ORDERS_COLS, "o_orderkey"),
    doc="Merkle-style per-bucket reconciliation checksums of "
    "orders (key-mod buckets, xor'd 60-bit md5 prefixes): when "
    "global checksums diverge, one 64-row compare locates the "
    "differing key range — the anti-entropy repair primitive",
)
def orders_partition_merkle(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bucket_checksums(
        load_table(spark, sf_dir, "orders"), _ORDERS_COLS, "o_orderkey"
    )
