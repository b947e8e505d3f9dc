"""Prototype-distance data pruning over the labeled embedding table.

Sorscher et al., "Beyond neural scaling laws: beating power law scaling
via data pruning" (NeurIPS 2022) rank examples by distance to their
class prototype (the label centroid in embedding space): far examples
are hard/noisy candidates to prune under abundant data, near examples
are redundant under scarce data. This is the centroid-based sibling of
knn_label_noise (neighborhood vote) and SemDeDup (pairwise cosine) —
one pass, no pair joins at all.

Exactness discipline: the centroid is kept as the integer-micros sum
rational (Σx_e6, n) and realized as a floor mean via the affine-shift
trick ``(S + C·n) div n − C`` with C = 2^21 > max|x_e6| — the shifted
numerator is non-negative, so Spark's truncating ``div`` equals
DuckDB's flooring ``//`` even for negative coordinate means (the
functions/numeric.py pattern). Distances are then exact BIGINT sums of
squared micro-deviations: Σ_d (x_d − m_d)² ≤ 64·(2·C)² ≈ 1.1e15 per
vector, far inside BIGINT.

Scale shape: one narrow shuffle (the 64·n long-form rows partial-sum
to labels×64 on the map side), a BROADCAST of the labels×64 centroid
relation back, one map-side-combined groupBy(vec_id), and a per-label
rank window. Window parallelism equals label cardinality — fine for
real curation taxonomies (hundreds to thousands of classes); a
two-class corpus would swap the rank flags for the mean-relative
variant (dist2·n vs k·Σdist2, no window) noted inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

from algorithmproject_spark_spark.functions.numeric import ss_floordiv, ss_micros
from algorithmproject_spark_spark.functions.vectors import (
    EMB_DIM,
    sql_to_double,
    ss_to_double,
)
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

DIM = EMB_DIM
#: affine shift for the floor mean — must exceed max|coordinate|·1e6
#: (fixtures peak at ~0.58 → 5.8e5; 2^21 ≈ 2.1e6 leaves 3.6× headroom,
#: and the shifted numerator S + C·n stays < 9.2e18 for n ≤ 2.9e12)
C_SHIFT = 1 << 21
#: prune fraction denominator: rank·FRAC ≤ n flags the top 1/FRAC far
#: (outlier) and near (prototype) tails
FRAC = 20


@register(
    "label_centroid_outliers",
    oracle=f"""
    WITH pc_cn AS MATERIALIZED (
        SELECT vec_id, label, {sql_to_double('embedding')} AS we
        FROM embeddings
    ),
    pc_x AS MATERIALIZED (
        SELECT vec_id, label, d,
               CAST(floor(we[d] * 1000000.0 + 0.5) AS BIGINT) AS x
        FROM pc_cn CROSS JOIN (SELECT unnest(range(1, {DIM} + 1)) AS d) dims
    ),
    pc_cent AS (
        SELECT label, d, CAST(sum(x) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM pc_x GROUP BY label, d
    ),
    pc_m AS (
        SELECT label, d,
               (s + {C_SHIFT} * n) // n - {C_SHIFT} AS m, n
        FROM pc_cent
    ),
    pc_dist AS (
        SELECT x.vec_id, x.label,
               CAST(sum((x.x - m.m) * (x.x - m.m)) AS BIGINT) AS dist2_e12,
               max(m.n) AS n_label
        FROM pc_x x JOIN pc_m m USING (label, d)
        GROUP BY x.vec_id, x.label
    ),
    pc_r AS (
        SELECT vec_id, label, dist2_e12, n_label,
               row_number() OVER (
                   PARTITION BY label ORDER BY dist2_e12 DESC, vec_id
               ) AS rk_far
        FROM pc_dist
    )
    SELECT vec_id, label, dist2_e12, CAST(rk_far AS BIGINT) AS rk_far,
           n_label,
           CASE WHEN rk_far * {FRAC} <= n_label THEN 1 ELSE 0 END AS outlier,
           CASE WHEN (n_label - rk_far + 1) * {FRAC} <= n_label
                THEN 1 ELSE 0 END AS prototype
    FROM pc_r
    """,
    doc=(
        "Prototype-distance data pruning (Sorscher et al. 2022): exact "
        "integer-micros distance of every vector to its label centroid "
        "(affine-shift floor mean), per-label far-rank, top-5% far "
        "flagged outlier and top-5% near flagged prototype — one "
        "narrow shuffle + broadcast centroids, no pair join"
    ),
)
def label_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cn = emb.select(
        "vec_id", "label", F.expr(ss_to_double("embedding")).alias("we")
    )
    x = cn.select(
        "vec_id",
        "label",
        F.posexplode(F.expr(f"transform(we, v -> {ss_micros('v')})")).alias(
            "d0", "x"
        ),
    ).select("vec_id", "label", (F.col("d0") + 1).alias("d"), "x")
    cent = x.groupBy("label", "d").agg(
        F.sum("x").alias("s"), F.count(F.lit(1)).alias("n")
    )
    m = cent.select(
        "label",
        "d",
        (
            F.expr(f"{ss_floordiv(f's + {C_SHIFT} * n', 'n')} - {C_SHIFT}")
        ).alias("m"),
        "n",
    )
    dev = F.col("x") - F.col("m")
    dist = (
        x.join(F.broadcast(m), ["label", "d"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(dev * dev).alias("dist2_e12"),
            F.max("n").alias("n_label"),
        )
    )
    w = W.partitionBy("label").orderBy(F.desc("dist2_e12"), F.asc("vec_id"))
    r = dist.withColumn("rk_far", F.row_number().over(w).cast("long"))
    # two-class corpora: replace the rank flags with the windowless
    # mean-relative form (dist2_e12 * n_label vs k * sum(dist2_e12))
    return r.select(
        "vec_id",
        "label",
        "dist2_e12",
        "rk_far",
        "n_label",
        F.when(F.col("rk_far") * FRAC <= F.col("n_label"), 1)
        .otherwise(0)
        .alias("outlier"),
        F.when(
            (F.col("n_label") - F.col("rk_far") + 1) * FRAC
            <= F.col("n_label"),
            1,
        )
        .otherwise(0)
        .alias("prototype"),
    )
