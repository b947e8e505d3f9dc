"""Count-Min Sketch — heavy-hitter estimation as pure relational algebra.

The 100 TB use: estimate per-item frequencies without shuffling every
distinct item. The counter table is d × w cells (here 4 × 1024 = 4096
rows TOTAL, independent of corpus size): each token updates one bucket
per hash row, so the build is a groupBy on (row, bucket) — map-side
partial aggregation compresses each partition to ≤ 4096 cells before
the shuffle, exactly like a count(*) by a low-cardinality key. Probing
an item takes the MIN over its d buckets (classic CMS upper bound:
``exact ≤ estimate``, error ≤ εN with ε = e/w at δ = e^-d).

Everything is integer arithmetic over the engine-portable polynomial
string hash, so DuckDB rebuilds the identical counter table and the
driver hash-compares estimates exactly — a sketch family member with a
full-value oracle, unlike HLL (engine-specific internals, envelope
oracle only; see ``events_distinct_users_hll``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.cacheutil import tracked_local_checkpoint

from algorithmproject_spark_spark.functions.hashing import (
    sql_char_fold_hash,
    ss_char_fold_hash,
)
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

CMS_W = 1024
CMS_ROWS = ((1, 0), (2654435761, 40503), (2246822519, 604171), (179424673, 97))
CMS_P = 2_147_483_629  # prime < 2^31: products stay < 2^62 in BIGINT


def _ss_bucket(h_expr: str, a: int, b: int) -> str:
    return f"((({h_expr}) * {a} + {b}) % {CMS_P}) % {CMS_W}"


def _sql_bucket(h_expr: str, a: int, b: int) -> str:
    return f"((({h_expr}) * {a} + {b}) % {CMS_P}) % {CMS_W}"


def _ss_row_buckets(col: str) -> str:
    """Spark text: ``array(struct(row, bucket), ...)`` — one cell per
    hash row for the string column ``col``."""
    h = ss_char_fold_hash(col)
    return "array(" + ", ".join(
        f"struct({i} AS row, {_ss_bucket(h, a, b)} AS bucket)"
        for i, (a, b) in enumerate(CMS_ROWS)
    ) + ")"


def cms_counters(
    items: DataFrame, col: str, weight: str | None = None
) -> DataFrame:
    """(row, bucket, n) counter table — ≤ d×w rows regardless of input
    size; the scan is shared across the d rows via one explode.

    With ``weight`` set, each item adds that column's value instead of
    1 — the compacted-distribution form: feeding a pre-aggregated
    (item, count) relation yields the IDENTICAL counter table while the
    d-way explode runs over |vocab| rows, not the corpus."""
    return (
        items.selectExpr(
            f"{weight or 1} AS w_", f"explode({_ss_row_buckets(col)}) AS rb"
        )
        .groupBy(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .agg(F.sum("w_").cast("long").alias("n"))
    )


@register(
    "words_countmin_estimates",
    oracle=f"""
    WITH wc AS MATERIALIZED (
        SELECT word, CAST(count(*) AS BIGINT) AS exact_n
        FROM (SELECT unnest(string_split(text, ' ')) AS word
              FROM documents)
        GROUP BY word
    ),
    cells AS (
        {" UNION ALL ".join(
            f"SELECT {i} AS row, {_sql_bucket(sql_char_fold_hash('word'), a, b)} AS bucket,"
            f" exact_n FROM wc"
            for i, (a, b) in enumerate(CMS_ROWS)
        )}
    ),
    counters AS (
        SELECT row, bucket, CAST(sum(exact_n) AS BIGINT) AS n
        FROM cells GROUP BY row, bucket
    ),
    topw AS (
        SELECT word, exact_n FROM wc
        ORDER BY exact_n DESC, word LIMIT 20
    ),
    probes AS (
        {" UNION ALL ".join(
            f"SELECT word, exact_n, {i} AS row,"
            f" {_sql_bucket(sql_char_fold_hash('word'), a, b)} AS bucket FROM topw"
            for i, (a, b) in enumerate(CMS_ROWS)
        )}
    )
    SELECT p.word, p.exact_n,
           CAST(min(c.n) AS BIGINT) AS cms_n,
           min(c.n) >= p.exact_n AS upper_bound_holds
    FROM probes p JOIN counters c ON c.row = p.row AND c.bucket = p.bucket
    GROUP BY p.word, p.exact_n
    """,
    doc="Count-Min Sketch (4x1024, portable integer hashes) built as a "
    "groupBy on (row, bucket) — counter table <= 4096 rows regardless "
    "of corpus size; top-20 words probed with min-over-rows, full-value "
    "oracle incl. the exact <= estimate bound",
)
def words_countmin_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("word"))
    # ONE corpus scan: compact to the (word, count) distribution first,
    # then build the counter table weighted by count — identical cells,
    # but the d-way explode and the top-20 rank both run over |vocab|
    # rows instead of re-scanning and re-splitting every document
    # (the un-compacted form was the #2 sf1 hotspot at 29 s)
    # pin the vocab relation: Catalyst does not dedupe the shared
    # subtree, and both the counter build and the top-20 rank consume
    # it — without the pin the corpus scan+split+explode runs twice
    wc = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .transform(tracked_local_checkpoint)
    )
    counters = cms_counters(wc, "word", weight="exact_n")

    topw = wc.orderBy(F.desc("exact_n"), F.asc("word")).limit(20)
    probes = topw.selectExpr(
        "word", "exact_n", f"explode({_ss_row_buckets('word')}) AS rb"
    ).select("word", "exact_n", F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(counters), ["row", "bucket"])
        .groupBy("word", "exact_n")
        .agg(F.min("n").alias("cms_n"))
        .select(
            "word",
            "exact_n",
            "cms_n",
            (F.col("cms_n") >= F.col("exact_n")).alias("upper_bound_holds"),
        )
    )
