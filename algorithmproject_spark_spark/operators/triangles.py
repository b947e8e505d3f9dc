"""Degree-ordered triangle counting — the scalable wedge-join form.

The naive triangle count joins the edge list to itself twice with no
discipline, so a single high-degree vertex (every real graph has them)
produces O(deg²) wedges. The standard remedy (Cohen's MapReduce
triangle algorithm / "compact-forward") orients every undirected edge
from its lower-(degree, id) endpoint to its higher one. The
orientation is a total order, so:

- every triangle is generated exactly ONCE (from its minimum vertex);
- wedge volume drops from Σ deg(v)² to Σ O(arboricity·deg) — the
  hot-vertex blowup disappears because a vertex only fans out to its
  HIGHER-ordered neighbors.

Both joins are keyed equi-joins (on the wedge pivot, then on the
closing edge's endpoints); nothing is all-pairs and per-vertex state
never exceeds its oriented out-neighborhood.

Reference parity: none — the reference has no graph operators at all;
this extends the repo's near-dup graph family (connected components,
label propagation) with the local-clustering primitive used to find
overly-dense duplicate clusters (e.g. template spam) in a corpus.

Used by ``dedup_triangle_counts`` (queries/dedup.py side) over the
verified near-dup pair graph; the DuckDB oracle mirrors the identical
orientation and joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from algorithmproject_spark_spark.cacheutil import tracked_lazy_local_checkpoint


def vertex_degrees(edges: DataFrame) -> DataFrame:
    """``(v, deg)`` over distinct undirected ``edges(a, b)`` — the
    shared degree primitive of the graph family (orientation here,
    peel threshold in operators/kcore.py)."""
    e = edges.selectExpr(
        f"{edges.columns[0]} AS a", f"{edges.columns[1]} AS b"
    )
    return (
        e.selectExpr("a AS v")
        .unionAll(e.selectExpr("b AS v"))
        .groupBy("v")
        .agg(F.expr("count(1) AS deg"))
    )


def sql_vertex_degrees(edges_cte: str) -> str:
    """DuckDB twin of :func:`vertex_degrees` (a SELECT, not a CTE)."""
    return f"""
        SELECT v, CAST(COUNT(*) AS BIGINT) AS deg
        FROM (SELECT a AS v FROM {edges_cte}
              UNION ALL SELECT b AS v FROM {edges_cte})
        GROUP BY v
    """


def oriented_edges(edges: DataFrame) -> DataFrame:
    """Orient ``edges(a, b)`` (distinct undirected pairs, ``a != b``)
    from lower (degree, id) to higher. Returns ``(src, dst, dd)`` with
    ``dd`` = the destination's degree (kept so downstream wedge joins
    can order destinations without another degree join)."""
    e = edges.selectExpr(
        f"{edges.columns[0]} AS a", f"{edges.columns[1]} AS b"
    )
    deg = vertex_degrees(e)
    ea = e.join(deg.selectExpr("v AS a", "deg AS da"), "a")
    eab = ea.join(deg.selectExpr("v AS b", "deg AS db"), "b")
    fwd = "(da < db OR (da = db AND a < b))"
    return eab.selectExpr(
        f"CASE WHEN {fwd} THEN a ELSE b END AS src",
        f"CASE WHEN {fwd} THEN b ELSE a END AS dst",
        f"CASE WHEN {fwd} THEN db ELSE da END AS dd",
    )


def triangles(edges: DataFrame) -> DataFrame:
    """All triangles ``(u, v, w)`` of the undirected graph, each exactly
    once, ordered by the degree orientation (u is the min vertex).

    The oriented relation is referenced three times (both wedge sides
    + the closing-edge probe); ``localCheckpoint`` truncates its
    lineage so an expensive upstream edge derivation (e.g. the
    LSH+verify near-dup join) is computed once, not three times —
    measured 10.3s → ~4s on the near-dup graph at sf0.1."""
    o = oriented_edges(edges).transform(tracked_lazy_local_checkpoint)
    e1, e2 = o.alias("e1"), o.alias("e2")
    wedges = e1.join(
        e2,
        F.expr(
            "e1.src = e2.src AND (e1.dd < e2.dd"
            " OR (e1.dd = e2.dd AND e1.dst < e2.dst))"
        ),
    ).selectExpr("e1.src AS u", "e1.dst AS v", "e2.dst AS w")
    e3 = o.alias("e3")
    return wedges.join(
        e3, F.expr("v = e3.src AND w = e3.dst"), "left_semi"
    )


def vertex_triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle participation: ``(v, n_triangles)`` for
    every vertex in at least one triangle."""
    tri = triangles(edges)
    return (
        tri.selectExpr("explode(array(u, v, w)) AS v")
        .groupBy("v")
        .agg(F.expr("count(1) AS n_triangles"))
    )


def sql_vertex_triangle_counts(edges_cte: str) -> str:
    """DuckDB twin over a CTE named ``edges_cte`` with columns (a, b):
    per-vertex triangle counts via the identical orientation."""
    return f"""
    tc_deg AS ({sql_vertex_degrees(edges_cte)}),
    tc_o AS (
        SELECT CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.a ELSE e.b END AS src,
               CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.b ELSE e.a END AS dst,
               CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN db.deg ELSE da.deg END AS dd
        FROM {edges_cte} e
        JOIN tc_deg da ON e.a = da.v
        JOIN tc_deg db ON e.b = db.v
    ),
    tc_tri AS (
        SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
        FROM tc_o e1
        JOIN tc_o e2 ON e1.src = e2.src
                    AND (e1.dd, e1.dst) < (e2.dd, e2.dst)
        WHERE EXISTS (SELECT 1 FROM tc_o e3
                      WHERE e3.src = e1.dst AND e3.dst = e2.dst)
    ),
    tc_counts AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM (SELECT u AS v FROM tc_tri
              UNION ALL SELECT v FROM tc_tri
              UNION ALL SELECT w FROM tc_tri)
        GROUP BY v
    )
    """
