"""Skew-aware aggregation — salting for heavy-hitter keys.

SURVEY.md §7 flags "salted aggregation fallback for skewed word
counts" as part of the 100 TB posture. Plain ``groupBy(key).count()``
is already safe at scale (hash aggregation partial-aggregates map-side
before the shuffle), but aggregations whose buffers grow with group
size — ``collect_list``/``collect_set``, exact distinct — funnel the
ENTIRE group through one reducer task. With a skewed key (a language
column where one value is 90 % of a 100 TB corpus) that task OOMs.

The fix is classic two-phase salting, expressed relationally so
Catalyst/AQE still optimize around it:

1. phase 1 groups by ``(key, salt)`` — the heavy key's rows spread over
   ``buckets`` reducers, each building a bounded partial buffer;
2. phase 2 groups by ``key`` over the ``buckets`` partial results and
   merges them.

The salt is derived deterministically from the VALUE column
(``xxhash64 % buckets``), not from randomness or partition ids, so
plans stay reproducible run-to-run and the final merged result is
bit-stable. Ordering introduced by salting is erased with a canonical
``array_sort`` merge, which is what makes the operator oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_collect_sorted_list(
    df: DataFrame,
    key: str,
    value: str,
    buckets: int = 16,
    out_col: str = "vals",
) -> DataFrame:
    """Per-key sorted list of values, skew-safe.

    Equivalent to ``groupBy(key).agg(array_sort(collect_list(value)))``
    but no single task ever materializes a whole heavy group: phase-1
    buffers are ~group_size/buckets, and phase 2 merges ``buckets``
    pre-built arrays per key.
    """
    salt = F.pmod(F.xxhash64(F.col(value)), F.lit(buckets)).alias("__salt")
    partial = df.groupBy(F.col(key), salt).agg(
        F.collect_list(F.col(value)).alias("__part")
    )
    return partial.groupBy(key).agg(
        F.array_sort(F.flatten(F.collect_list("__part"))).alias(out_col)
    )


def two_phase_count_distinct(
    df: DataFrame,
    key: str,
    value: str,
    out_col: str = "n_distinct",
) -> DataFrame:
    """Exact distinct count per key: dedup on (key, value) first — that
    shuffle hash-partitions on BOTH columns, spreading a heavy key
    across reducers — then a cheap count per key.

    Note: Catalyst's distinct-aggregate rewrite produces this same
    two-exchange shape for a single ``countDistinct`` (verified on the
    physical plan), so this helper adds nothing there; it exists for
    composability (combine with other aggregates without triggering
    expand-based multi-distinct plans) and as the documented skew-safe
    spelling.
    """
    deduped = df.select(key, value).dropDuplicates([key, value])
    return deduped.groupBy(key).agg(F.count(F.lit(1)).alias(out_col))


# --------------------------------------------------------------------------
# Oracle-checked demo on the most skewed key in the testdata: lang on
# documents (a handful of values over the whole corpus). Result equals
# the naive groupBy exactly — the salt only changes the physical shape.
# --------------------------------------------------------------------------
from pyspark.sql import DataFrame as _DF, SparkSession as _SS  # noqa: E402

from algorithmproject_spark_spark.registry import register  # noqa: E402
from algorithmproject_spark_spark.sources.catalog import load_table  # noqa: E402


@register(
    "lang_doc_ids_salted",
    oracle="""
    SELECT lang,
           md5(array_to_string(list_sort(list(doc_id)), ',')) AS doc_ids_digest,
           count(*) AS n
    FROM documents GROUP BY lang
    """,
    doc="skew-safe salted collect_list over the heavy lang key; merged "
    "result identical to the naive groupBy. The driver-facing shape "
    "digests the array to md5(csv) — the external canonicalizer cannot "
    "hash list cells — while the array-valued operator API "
    "(salted_collect_sorted_list) is unchanged and pytest-verified.",
)
def lang_doc_ids_salted(spark: _SS, sf_dir: str) -> _DF:
    docs = load_table(spark, sf_dir, "documents")
    out = salted_collect_sorted_list(docs, "lang", "doc_id", buckets=16, out_col="doc_ids")
    return out.select(
        "lang",
        F.md5(F.concat_ws(",", F.transform("doc_ids", lambda x: x.cast("string")))).alias(
            "doc_ids_digest"
        ),
        F.size("doc_ids").cast("long").alias("n"),
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe shuffle join: salt the big side, replicate the small.

    AQE's skew-join split (on in `session.py`) handles most hot keys by
    splitting oversized partitions, but it only kicks in when the probe
    side is the skewed one and the join is sort-merge. The manual form
    remains the remedy when the small side is too big to broadcast AND
    the big side has a hot key: big rows get a salt in [0, buckets)
    mixing the row-content hash with a positional component
    (``monotonically_increasing_id``, which encodes partition id +
    offset), the small side is exploded ``buckets``-fold, and the join
    key becomes ``(key, salt)`` — the hot key's rows spread across
    ``buckets`` reducers. The positional mix-in matters for the common
    log-data case where a hot key's rows are byte-identical duplicates:
    a content-only hash would send them all to ONE salt bucket, spreading
    nothing. Replication cost is |small| × buckets, which is the
    explicit trade against one OOM-ing reducer.

    The salt is not stable across recomputes (positional), which is
    safe here: every salt value joins the one small-side replica
    carrying that salt, so the JOIN RESULT is salt-independent even if
    a retried task re-salts its rows differently.

    Join semantics for inner/left are unchanged (each big row matches
    exactly the one replica carrying its salt). Result column set =
    big's columns + small's non-key columns.
    """
    if how not in ("inner", "left"):
        raise NotImplementedError("salted_join supports inner/left")
    # pmod each term before summing: ANSI mode is on, and raw
    # xxhash64 + monotonically_increasing_id could overflow BIGINT
    salt = F.pmod(
        F.pmod(F.xxhash64(*big.columns), F.lit(buckets))
        + F.pmod(F.monotonically_increasing_id(), F.lit(buckets)),
        F.lit(buckets),
    ).alias("__salt")
    b = big.withColumn("__salt", salt)
    s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    )
    out = b.join(s, [key, "__salt"], how)
    return out.drop("__salt")


@register(
    "salted_join_order_priority",
    oracle="""
    SELECT o.o_orderpriority,
           count(*) AS n_lines,
           CAST(sum(CAST(floor(l.l_quantity * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS qty_c2
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="lineitem joined to orders through salted_join (8-way salt on "
    "the big side, replicated small side) then rolled up per priority "
    "— result provably identical to the plain join, which is the "
    "oracle",
)
def salted_join_order_priority(spark: _SS, sf_dir: str) -> _DF:
    from algorithmproject_spark_spark.functions.numeric import ss_scaled_long
    from algorithmproject_spark_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    joined = salted_join(li, orders, "o_orderkey", buckets=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.expr(f"sum({ss_scaled_long('l_quantity', 100)})").alias("qty_c2"),
    )
