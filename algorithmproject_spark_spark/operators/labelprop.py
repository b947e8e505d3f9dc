"""Label-propagation community detection (synchronous LPA), the
mode-update sibling of min-label connected components.

CC answers "which vertices are reachable"; LPA answers "which vertices
are DENSELY tied" — on a near-dup graph it splits a weakly-bridged
component into its tight clusters, the right granularity for choosing
dedup survivors when two template families share one boilerplate pair.

Determinism contract: classic LPA is order- and tie-unstable. This
variant is fully deterministic — synchronous rounds (all updates read
the PREVIOUS round's labels), the new label is the most frequent
neighbor label with ties broken by MIN label, and the round count is
fixed — so a DuckDB oracle re-derives it exactly with one unrolled CTE
per round (the same pattern as components.py / fixed-point PageRank).

Scale: each round is one equi-join on vertex id (shuffle O(edges)) +
one (v, lbl) partial-agg count + one per-vertex top-1 window.
``localCheckpoint`` per round cuts the 2^k lineage nesting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from algorithmproject_spark_spark.cacheutil import tracked_lazy_local_checkpoint

LPA_ITERS = 3


def label_propagation(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    iterations: int = LPA_ITERS,
) -> DataFrame:
    """(v, community): synchronous LPA labels after `iterations` rounds
    over the undirected graph given as unordered pairs.

    Labels are localCheckpointed every second round (VERDICT r10 #7):
    skipping alternate rounds trades one extra plan-nesting level for
    one fewer materialization per pair of rounds. Checkpointing is
    lineage management, not semantics, and the final round always
    checkpoints so callers never receive an unbounded plan."""
    edges = (
        pairs.selectExpr(f"{a_col} AS s", f"{b_col} AS d")
        .unionAll(pairs.selectExpr(f"{b_col} AS s", f"{a_col} AS d"))
        .transform(tracked_lazy_local_checkpoint)
    )
    labels = edges.selectExpr("s AS v").distinct().selectExpr("v", "v AS lbl")
    for i in range(iterations):
        neighbor_labels = edges.join(
            labels.withColumnRenamed("v", "d"), "d"
        ).selectExpr("s AS v", "lbl")
        # top-1 by (count DESC, lbl ASC) as ONE aggregation (r12):
        # argmin of the struct (-c, lbl) — struct ordering is
        # field-by-field, counts are BIGINT, so min((-c, lbl)).lbl is
        # exactly the row_number()-over-window winner, without the
        # window's full-partition sort and with map-side partial
        # aggregation on (v, lbl) and v (guide §2.3 "aggregate before
        # you shuffle"; §2.4 — drops the window's extra exchange).
        # One-parse glue (r13): each round's towers cost ~190 py4j
        # round-trips through the Column API; the text forms parse the
        # identical expressions in 4 trips.
        labels = (
            neighbor_labels.groupBy("v", "lbl")
            .agg(F.expr("count(1) AS c"))
            .groupBy("v")
            .agg(F.expr("min(struct(-c AS nc, lbl)) AS t"))
            .selectExpr("v", "t.lbl AS lbl")
        )
        if i % 2 == 1 or i == iterations - 1:
            labels = labels.transform(tracked_lazy_local_checkpoint)
    return labels.selectExpr("v", "lbl AS community")


def sql_label_propagation(
    edges_cte: str, iterations: int = LPA_ITERS
) -> str:
    """DuckDB twin: one unrolled CTE per synchronous round. `edges_cte`
    must name a relation with columns (s, d), already bidirected."""
    parts = [
        f"lp0 AS (SELECT DISTINCT s AS v, s AS lbl FROM {edges_cte})"
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""lp{i} AS (
        SELECT v, lbl FROM (
            SELECT e.s AS v, l.lbl, count(*) AS c,
                   row_number() OVER (
                       PARTITION BY e.s ORDER BY count(*) DESC, l.lbl
                   ) AS rn
            FROM {edges_cte} e JOIN lp{i - 1} l ON l.v = e.d
            GROUP BY e.s, l.lbl
        ) WHERE rn = 1
    )"""
        )
    return ",\n    ".join(parts)
