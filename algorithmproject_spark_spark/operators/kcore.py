"""k-core extraction — dense-subgraph peeling, fixed-round relational.

The k-core of a graph is the maximal subgraph where every vertex has
degree ≥ k; it is THE standard dense-cluster certificate (a vertex in
a k-core sits in a blob of mutually-connected duplicates — template
spam in a near-dup graph). Peeling computes it by repeatedly deleting
vertices with degree < k.

Relational form, same contract as the LPA operator (labelprop.py): a
FIXED number of unrolled peel rounds, each round one degree aggregate
+ one semi-join filter of the edge list — O(edges) keyed work per
round, no driver-side iteration state. Peeling converges when a round
removes nothing; ``KCORE_ROUNDS`` rounds guarantee convergence for
any graph whose peel depth is ≤ that (the near-dup graphs here peel
in ≤2; production would loop-with-AQE until a streamed-count metric
stabilizes, trading plan size for generality — see SCALE.md).

Reference parity: none (the reference has no graph ops); completes
the graph family: connected components (global structure), label
propagation (communities), triangles (local density), k-core (dense
subgraph membership).

Oracle: DuckDB unrolls the identical rounds as CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from algorithmproject_spark_spark.cacheutil import tracked_lazy_local_checkpoint

from algorithmproject_spark_spark.operators.triangles import (
    sql_vertex_degrees,
    vertex_degrees as _degrees,
)

KCORE_K = 2
KCORE_ROUNDS = 4


def kcore_vertices(
    edges: DataFrame,
    k: int = KCORE_K,
    rounds: int = KCORE_ROUNDS,
) -> DataFrame:
    """Vertices surviving ``rounds`` peel rounds at threshold ``k``,
    with their degree inside the surviving subgraph: ``(v, deg)``.
    ``edges(a, b)`` must be distinct undirected pairs, ``a != b``.

    The survivor edge list is ``localCheckpoint``ed every second round
    and after the last one (the LPA operator's lineage-truncation
    trade): without it the unrolled plan re-derives the (expensive)
    input edge relation once per round and the plan tree grows
    multiplicatively.

    CONVERGENCE IS VERIFIED, not assumed: after the unrolled rounds
    the surviving degree relation is checked for any ``deg < k``
    vertex (one limit-1 action over the already-checkpointed, peeled —
    therefore small — edge set). A graph whose peel depth exceeds
    ``rounds`` fails loudly with a ValueError instead of silently
    returning a non-k-core as a dense-cluster certificate."""
    e = edges.select("a", "b").transform(tracked_lazy_local_checkpoint)
    for i in range(rounds):
        keep = _degrees(e).filter(f"deg >= {k}").select("v")
        e = e.join(
            keep.selectExpr("v AS a"), "a", "left_semi"
        ).join(keep.selectExpr("v AS b"), "b", "left_semi")
        # cadence 2 (VERDICT r10 #7): lineage management only;
        # the final round always truncates
        if i % 2 == 1 or i == rounds - 1:
            e = e.transform(tracked_lazy_local_checkpoint)
    deg = _degrees(e)
    # min-degree invariant: every vertex of a true k-core has deg >= k
    # in the surviving subgraph; a deg < k survivor means one more peel
    # round would still remove vertices, i.e. rounds was too shallow
    if deg.filter(f"deg < {k}").limit(1).count() > 0:
        raise ValueError(
            f"k-core peel did not converge in {rounds} rounds "
            f"(a surviving vertex still has degree < {k}); "
            "raise `rounds` for this graph's peel depth"
        )
    return deg


def sql_kcore_vertices(
    edges_cte: str, k: int = KCORE_K, rounds: int = KCORE_ROUNDS
) -> str:
    """DuckDB twin: CTE chain ending in ``kc_out(v, deg)``. Requires a
    CTE named ``edges_cte`` with columns (a, b)."""
    # MATERIALIZED: every kc_e{r} is referenced three times by round
    # r+1; without the hint DuckDB may inline, re-deriving the whole
    # upstream chain per reference — multiplicative blowup across
    # rounds (the oracle twin of the Spark side's localCheckpoint)
    parts = [f"kc_e0 AS MATERIALIZED (SELECT a, b FROM {edges_cte})"]
    for r in range(rounds):
        parts.append(f"""
    kc_keep{r} AS MATERIALIZED (
        SELECT v FROM ({sql_vertex_degrees(f'kc_e{r}')}) WHERE deg >= {k}
    ),
    kc_e{r + 1} AS MATERIALIZED (
        SELECT e.a, e.b FROM kc_e{r} e
        JOIN kc_keep{r} ka ON e.a = ka.v
        JOIN kc_keep{r} kb ON e.b = kb.v
    )""")
    parts.append(f"""
    kc_out AS ({sql_vertex_degrees(f'kc_e{rounds}')})""")
    return ",".join(parts)
