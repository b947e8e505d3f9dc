"""Connected components over near-duplicate pairs — the step that turns
pairwise dedup verdicts into canonical clusters (pair A~B, B~C must
collapse to ONE survivor, which a pairwise anti-join alone gets wrong
when the transitive closure matters).

Min-label propagation as a bounded DataFrame loop: every vertex starts
as its own label; each round takes the min of its own and its
neighbors' labels. After k rounds every component of diameter ≤ k
agrees on the component-minimum id. Fixed k keeps the computation
deterministic and lets a DuckDB oracle re-derive it exactly (loop
unrolled one CTE per round, like the fixed-point PageRank).

Scale: each round is one equi-join on vertex id + one partial-agg min —
shuffle volume is O(edges), and near-dup graphs are sparse by
construction (LSH-verified pairs).

Two variants:

- :func:`connected_components_min_label` — FIXED k rounds, exact for
  components whose min-label eccentricity ≤ k. This is the
  oracle-checkable form (DuckDB unrolls one CTE per round); every
  registered query that needs components uses it.
- :func:`connected_components` — the convergence reference, called by
  no registered query: ``test_driver_cc_query_is_converged_at_sf001``
  runs it to prove the fixed-round labels are already at their fixed
  point on the real pair graph. Neighbor-min PLUS pointer jumping
  (lbl ← lbl[lbl]) each round, looping until a fixed point. Jumping halves the label-tree depth per round, so
  convergence is O(log diameter) rounds regardless of chain length —
  a diameter-d path needs ~log₂(d) rounds, not d. The per-round
  convergence probe is one count() on the changed-label set — an
  AQE-style runtime decision, the same bounded-action pattern as the
  two-phase global index (operators/core.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from algorithmproject_spark_spark.cacheutil import (
    tracked_lazy_local_checkpoint,
    tracked_local_checkpoint,
)

CC_ITERS = 5


def connected_components_min_label(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    iterations: int = CC_ITERS,
) -> DataFrame:
    """(v, lbl): component-min label for every vertex in ``pairs``.

    ``localCheckpoint`` per round, like the fixed-point PageRank
    (plans/pipelines.py): the label relation feeds the next round twice,
    so without cutting the plan the lineage — including the whole
    upstream pairs derivation — nests 2^k-fold and Catalyst re-analyzes
    the tower every loop.
    """
    edges = (
        pairs.selectExpr(f"{a_col} AS s", f"{b_col} AS d")
        .unionAll(pairs.selectExpr(f"{b_col} AS s", f"{a_col} AS d"))
        .transform(tracked_lazy_local_checkpoint)
    )
    labels = edges.selectExpr("s AS v").distinct().selectExpr("v", "v AS lbl")
    for _ in range(iterations):
        # One join + ONE aggregation per round (r12): the neighbor
        # labels pushed along edges are unioned with each vertex's own
        # label and min-reduced in a single groupBy —
        # min({own} ∪ {neighbors}) ≡ least(own, coalesce(nbr_min, own)),
        # exactly (BIGINT min is associative/commutative), so this
        # replaces the former groupBy + left-join round body (3
        # exchanges of the label relation) with 2 exchanges and one
        # fewer join stage. Vertex set is preserved: the union always
        # contains every `labels` row. Guide §2.4 (remove shuffles).
        # One-parse glue (r13): text forms of the same expressions.
        pushed = edges.join(labels.withColumnRenamed("v", "s"), "s").selectExpr(
            "d AS v", "lbl"
        )
        # LAZY checkpoint (r12): the loop has no per-round action, so
        # deferring materialization collapses k eager jobs into the
        # consumer's one final DAG; plan truncation (the reason to
        # checkpoint at all) is identical either way.
        labels = (
            pushed.unionAll(labels)
            .groupBy("v")
            .agg(F.expr("min(lbl) AS lbl"))
            .transform(tracked_lazy_local_checkpoint)
        )
    return labels


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_rounds: int = 40,
) -> DataFrame:
    """(v, lbl): exact component-min labels, any diameter.

    Each round: (1) neighbor-min as in the fixed variant, then
    (2) pointer jump lbl ← lbl[lbl] (valid because labels are always
    vertex ids and lbl(v) ≤ v is invariant, so the jump only shrinks).
    Stops at the first round that changes nothing — at that fixed point
    every vertex's label is ≤ all neighbors' labels, hence constant and
    minimal on each component. ``max_rounds`` is a runaway backstop
    (2^40 diameter is unreachable), not a semantic bound.
    """
    edges = (
        pairs.select(F.col(a_col).alias("s"), F.col(b_col).alias("d"))
        .unionAll(pairs.select(F.col(b_col).alias("s"), F.col(a_col).alias("d")))
        .transform(tracked_local_checkpoint)
    )
    labels = (
        edges.select(F.col("s").alias("v")).distinct().withColumn("lbl", F.col("v"))
        .transform(tracked_local_checkpoint)
    )
    for _ in range(max_rounds):
        # same union-agg round body as the fixed-count variant (r12)
        pushed = edges.join(labels.withColumnRenamed("v", "s"), "s").select(
            F.col("d").alias("v"), "lbl"
        )
        stepped = (
            pushed.unionAll(labels).groupBy("v").agg(F.min("lbl").alias("lbl"))
        )
        jumped = (
            stepped.alias("x")
            .join(
                stepped.select(
                    F.col("v").alias("lbl"), F.col("lbl").alias("jmp")
                ).alias("y"),
                "lbl",
                "left",
            )
            .select("v", F.least(F.col("lbl"), F.coalesce("jmp", F.col("lbl"))).alias("lbl"))
            .transform(tracked_local_checkpoint)
        )
        changed = (
            labels.withColumnRenamed("lbl", "old")
            .join(jumped, "v")
            .filter(F.col("old") != F.col("lbl"))
            .count()
        )
        labels = jumped
        if changed == 0:
            break
    return labels


def sql_connected_components(pairs_cte: str, iterations: int = CC_ITERS) -> str:
    """DuckDB twin: unrolled min-label rounds over a pairs CTE named
    ``{pairs_cte}`` with columns (doc_a, doc_b). Returns CTE text ending
    in ``ccN`` with columns (v, lbl)."""
    # MATERIALIZED: DuckDB inlines CTEs by default, so the 2 references
    # per round would re-run the whole upstream pairs derivation 2·k
    # times (measured 85 s vs ~3 s on the near-dup oracle).
    out = [
        f"cc_edges AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM {pairs_cte} "
        f"UNION ALL SELECT doc_b AS s, doc_a AS d FROM {pairs_cte})",
        "cc0 AS (SELECT DISTINCT s AS v, s AS lbl FROM cc_edges)",
    ]
    # every round also MATERIALIZED: cc{i} references cc{i-1} twice, so
    # inlining would expand the join tree 2^k-fold.
    for i in range(1, iterations + 1):
        prev = f"cc{i - 1}"
        out.append(
            f"cc{i} AS MATERIALIZED (SELECT l.v, least(l.lbl, COALESCE(nm.m, l.lbl)) AS lbl "
            f"FROM {prev} l LEFT JOIN ("
            f"SELECT e.d AS v, min(p.lbl) AS m FROM cc_edges e "
            f"JOIN {prev} p ON e.s = p.v GROUP BY e.d) nm ON l.v = nm.v)"
        )
    return ",\n    ".join(out)
