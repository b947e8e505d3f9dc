"""Community-quality metrics over the near-dup graph — Newman
modularity of the label-propagation clustering, integer-exact.

The dedup graph family PRODUCES structure (components, LPA
communities, k-cores, triangles) but never measures how good the
clustering is. Modularity (Newman & Girvan 2004) is the standard
score: Q = Σ_c [ e_c/m − (d_c/2m)² ] — each community's intra-edge
fraction minus the fraction expected under the degree-preserving null
model. Q near 0 means the "communities" are no better than random
wiring; the per-community rows localize which clusters are real
(template families) and which are bridge artifacts.

Exactness: both fractions are ppm via the overflow-safe ``ss_ppm``
helper, and the expected term squares the ppm RATE (the modeleval
Gini trick), so every intermediate is bounded by 1e12 regardless of
graph size. The per-community contribution q_ppm floors twice
(documented composition); the corpus-level Q is the plain SUM of the
rows, exact in every engine.

Scale shape: edges come from the banded-MinHash candidate join
(bounded, skew-proven); LPA is the existing fixed-round operator. On
top: one degree aggregation (O(edges) partial-agg), one edge→community
double equi-join for intra-edge counts, one broadcast 1-row m frame
(scalar_cross), one groupBy community. Nothing new materializes beyond
O(edges) relations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.cacheutil import tracked_cache
from algorithmproject_spark_spark.functions.numeric import sql_ppm, ss_ppm
from algorithmproject_spark_spark.operators.labelprop import (
    LPA_ITERS,
    label_propagation,
    sql_label_propagation,
)
from algorithmproject_spark_spark.queries.dedup import (
    jaccard_pairs_above,
    sql_dup_pairs_cte,
)
from algorithmproject_spark_spark.registry import register

E6 = 1_000_000


@register(
    "dedup_community_modularity",
    plan=("scalar_cross",),
    oracle=f"""
    WITH {sql_dup_pairs_cte()},
    lp_edges AS (
        SELECT doc_a AS s, doc_b AS d FROM dup_pairs
        UNION ALL
        SELECT doc_b AS s, doc_a AS d FROM dup_pairs
    ),
    {sql_label_propagation('lp_edges', LPA_ITERS)},
    gm_comm AS (SELECT v, lbl AS community FROM lp{LPA_ITERS}),
    gm_m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM dup_pairs),
    gm_deg AS (
        SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT doc_a AS v FROM dup_pairs
            UNION ALL SELECT doc_b FROM dup_pairs
        ) GROUP BY v
    ),
    gm_pn AS (
        SELECT c.community,
               CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(d.deg) AS BIGINT) AS d_sum
        FROM gm_deg d JOIN gm_comm c USING (v) GROUP BY c.community
    ),
    gm_intra AS (
        SELECT a.community, CAST(count(*) AS BIGINT) AS e_intra
        FROM dup_pairs p
        JOIN gm_comm a ON p.doc_a = a.v
        JOIN gm_comm b ON p.doc_b = b.v
        WHERE a.community = b.community
        GROUP BY a.community
    ),
    gm_rows AS (
        SELECT pn.community, pn.n_nodes,
               COALESCE(i.e_intra, 0) AS e_intra, pn.d_sum, m.m
        FROM gm_pn pn LEFT JOIN gm_intra i USING (community)
        CROSS JOIN gm_m m
    )
    SELECT community, n_nodes, e_intra, d_sum,
           {sql_ppm('e_intra', 'm')} AS intra_ppm,
           ({sql_ppm('d_sum', '2 * m')} * {sql_ppm('d_sum', '2 * m')})
               // 1000000 AS expected_ppm,
           CAST({sql_ppm('e_intra', 'm')}
               - ({sql_ppm('d_sum', '2 * m')} * {sql_ppm('d_sum', '2 * m')})
                   // 1000000 AS BIGINT) AS q_ppm
    FROM gm_rows
    """,
    doc=(
        "Newman modularity of the label-propagation communities over "
        "the verified near-dup graph: per community the node count, "
        "intra-edge count, degree sum, intra-edge fraction (ppm), "
        "degree-null expectation ((d_c/2m)^2 as a squared ppm rate — "
        "size-independent intermediates), and the modularity "
        "contribution q_ppm; Σ q_ppm is the graph's Q. One degree agg "
        "+ one edge-to-community double equi-join + broadcast scalar m"
    ),
)
def dedup_community_modularity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pairs = tracked_cache(
        jaccard_pairs_above(spark, sf_dir).select("doc_a", "doc_b")
    )
    # LPA is the expensive iterative stage and its result feeds BOTH
    # the degree-sum and the intra-edge joins — pin it once
    comm = tracked_cache(label_propagation(pairs))
    # one-parse text glue (r13): identical expressions
    m1 = pairs.agg(F.expr("CAST(count(1) AS BIGINT) AS m"))
    deg = (
        pairs.selectExpr("doc_a AS v")
        .union(pairs.select("doc_b"))
        .groupBy("v")
        .agg(F.expr("CAST(count(1) AS BIGINT) AS deg"))
    )
    per_node = deg.join(comm, "v").groupBy("community").agg(
        F.expr("CAST(count(1) AS BIGINT) AS n_nodes"),
        F.expr("CAST(sum(deg) AS BIGINT) AS d_sum"),
    )
    ca = comm.selectExpr("v AS doc_a", "community AS cc_a")
    cb = comm.selectExpr("v AS doc_b", "community AS cc_b")
    intra = (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .filter("cc_a = cc_b")
        .groupBy(F.col("cc_a").alias("community"))
        .agg(F.expr("CAST(count(1) AS BIGINT) AS e_intra"))
    )
    rows = (
        per_node.join(intra, "community", "left")
        .selectExpr(
            "community",
            "n_nodes",
            "CAST(coalesce(e_intra, 0) AS BIGINT) AS e_intra",
            "d_sum",
        )
        .crossJoin(F.broadcast(m1))
    )
    intra_ppm = ss_ppm("e_intra", "m")
    deg_rate = ss_ppm("d_sum", "2 * m")
    expected_ppm = f"(({deg_rate}) * ({deg_rate})) div {E6}"
    return rows.selectExpr(
        "community",
        "n_nodes",
        "e_intra",
        "d_sum",
        f"{intra_ppm} AS intra_ppm",
        f"{expected_ppm} AS expected_ppm",
        f"({intra_ppm}) - ({expected_ppm}) AS q_ppm",
    )
