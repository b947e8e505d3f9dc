"""Grid-bucketed 2-D spatial join — closest pairs without O(n²).

The classic fixed-grid spatial-join pattern the ANN family's
hyperplane/IVF buckets don't cover: embed points on an integer grid
whose cell width equals the search radius, expand each point to its
3×3 neighbor cells map-side (a 9× explode, no join blow-up), and
equi-join on the cell id — every pair within the radius shares at
least one (point-cell, neighbor-cell) match, by construction, exactly
once (the non-expanded side's cell is unique). Candidate volume is
linear in points × local density; distance verification runs only on
co-located candidates. This is the same bucket-equi-join scale shape
as MinHash LSH, instantiated for metric space instead of set space.

Exactness: coordinates are the first two embedding dims, fixed-pointed
per row (floor(x·2²⁰ + 0.5) — one IEEE multiply+floor, engine-exact),
then SHIFTED by +2²¹ so cell ids come from division of non-negative
ints (Spark's ``div`` truncates toward zero, DuckDB's ``//`` floors —
identical only for non-negative operands; the shift removes the
divergence class instead of documenting it). Squared distance in
BIGINT (diffs < 2²², squares < 2⁴⁴).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.cacheutil import tracked_local_checkpoint

from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

SCALE_BITS = 20  # fixed-point: 2^-20 coordinate units
COORD_OFFSET = 1 << 21  # shifts every coordinate non-negative
CELL_W = 1 << 14  # grid cell width == search radius (≈0.0156 units)
TOPK_PAIRS = 20


def _ss_fixed(expr: str) -> str:
    return (
        f"CAST(floor(CAST({expr} AS DOUBLE)"
        f" * {float(1 << SCALE_BITS)!r}D + 0.5D) AS BIGINT)"
        f" + {COORD_OFFSET}"
    )


def _sql_fixed(expr: str) -> str:
    return (
        f"CAST(floor(CAST({expr} AS DOUBLE) * {float(1 << SCALE_BITS)}"
        f" + 0.5) AS BIGINT) + {COORD_OFFSET}"
    )


def sql_grid_pairs_cte() -> str:
    """CTE chain producing ``grid_cand(vec_i, vec_j, d2)`` — every
    within-radius pair via the 3x3 neighbor-cell join (no limit)."""
    return f"""pts AS (
        SELECT vec_id,
               {_sql_fixed('embedding[1]')} AS x,
               {_sql_fixed('embedding[2]')} AS y
        FROM embeddings
    ),
    cells AS (
        SELECT vec_id, x, y,
               x // {CELL_W} AS cx, y // {CELL_W} AS cy
        FROM pts
    ),
    expanded AS (
        SELECT vec_id, x, y, cx + dx.d AS ex, cy + dy.d AS ey
        FROM cells,
             (SELECT unnest([-1, 0, 1]) AS d) dx,
             (SELECT unnest([-1, 0, 1]) AS d) dy
    ),
    grid_cand AS (
        SELECT a.vec_id AS vec_i, b.vec_id AS vec_j,
               (a.x - b.x) * (a.x - b.x)
             + (a.y - b.y) * (a.y - b.y) AS d2
        FROM expanded a JOIN cells b
          ON a.ex = b.cx AND a.ey = b.cy AND a.vec_id < b.vec_id
        WHERE (a.x - b.x) * (a.x - b.x)
            + (a.y - b.y) * (a.y - b.y) <= {CELL_W * CELL_W}
    )"""


def grid_neighbor_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All within-radius pairs (vec_i < vec_j, d2) — the reusable
    spatial adjacency relation (closest-pairs query + message-passing
    graph both consume it)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # one-parse text glue (r13): identical expressions, ~180 fewer
    # py4j trips per consumer build
    pts = emb.selectExpr(
        "vec_id",
        f"{_ss_fixed('element_at(embedding, 1)')} AS x",
        f"{_ss_fixed('element_at(embedding, 2)')} AS y",
    )
    cells = pts.selectExpr(
        "vec_id",
        "x",
        "y",
        f"x div {CELL_W} AS cx",
        f"y div {CELL_W} AS cy",
    )
    expanded = (
        cells.selectExpr(
            "vec_id AS vec_i",
            "x AS xa",
            "y AS ya",
            "cx",
            "cy",
            "explode(array(-1, 0, 1)) AS dx",
        )
        .selectExpr(
            "vec_i",
            "xa",
            "ya",
            "cx + dx AS ex",
            "cy",
            "explode(array(-1, 0, 1)) AS dy",
        )
        .selectExpr("vec_i", "xa", "ya", "ex", "cy + dy AS ey")
    )
    b = cells.selectExpr(
        "vec_id AS vec_j",
        "x AS xb",
        "y AS yb",
        "cx AS cbx",
        "cy AS cby",
    )
    cand = expanded.join(
        b, F.expr("ex = cbx AND ey = cby AND vec_i < vec_j")
    )
    return cand.selectExpr(
        "vec_i",
        "vec_j",
        "(xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) AS d2",
    ).filter(f"d2 <= {CELL_W * CELL_W}")


@register(
    "grid_closest_pairs_2d",
    oracle=f"""
    WITH {sql_grid_pairs_cte()}
    SELECT vec_i, vec_j, d2 FROM grid_cand
    ORDER BY d2, vec_i, vec_j LIMIT {TOPK_PAIRS}
    """,
    doc=(
        "top-20 closest point pairs in the (dim0, dim1) embedding "
        "plane via 3x3 neighbor-cell grid join — radius-complete, "
        "never all-pairs"
    ),
)
def grid_closest_pairs_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        grid_neighbor_pairs(spark, sf_dir)
        .orderBy("d2", "vec_i", "vec_j")
        .limit(TOPK_PAIRS)
    )


# feature fixed-point shift: h + FEAT_OFFSET >= 0 keeps the mean's
# floor division in non-negative territory (Spark div truncates toward
# zero, DuckDB // floors — identical only for non-negative operands);
# the shift is affine so mean(h+C) - C is the shifted-exact mean
FEAT_OFFSET = 1 << 21
MSG_ROUNDS = 2
TOPK_NODES = 15


@register(
    "graph_message_passing_2hop",
    oracle=f"""
    WITH {sql_grid_pairs_cte()},
    sym AS MATERIALIZED (
        SELECT vec_i AS s, vec_j AS d FROM grid_cand
        UNION ALL SELECT vec_j, vec_i FROM grid_cand
    ),
    f0 AS (
        SELECT vec_id,
               CASE WHEN abs(CAST(floor(CAST(embedding[4] AS DOUBLE)
                                  * {1 << 20} + 0.5) AS BIGINT))
                         > {FEAT_OFFSET}
                    THEN CAST(error(
                        'feature exceeds affine-shift bound 2^21'
                    ) AS BIGINT)
                    ELSE CAST(floor(CAST(embedding[4] AS DOUBLE)
                              * {1 << 20} + 0.5) AS BIGINT) END AS h
        FROM embeddings
    ),
    h1 AS (
        SELECT s AS vec_id,
               CAST(sum(h + {FEAT_OFFSET}) AS BIGINT) // count(*)
                   - {FEAT_OFFSET} AS h
        FROM sym JOIN f0 ON d = vec_id GROUP BY s
    ),
    h2 AS (
        SELECT s AS vec_id,
               CAST(sum(h + {FEAT_OFFSET}) AS BIGINT) // count(*)
                   - {FEAT_OFFSET} AS h
        FROM sym JOIN h1 ON d = vec_id GROUP BY s
    )
    SELECT vec_id, h AS h2_q20 FROM h2
    ORDER BY h2_q20 DESC, vec_id LIMIT {TOPK_NODES}
    """,
    doc=(
        "2-round GNN-style mean message passing over the spatial "
        "neighbor graph: h_t+1(v) = floor-mean of neighbors' h_t, "
        "exact fixed-point with an affine shift keeping division "
        "non-negative — each round one equi-join + one keyed agg"
    ),
)
def graph_message_passing_2hop(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # pin the PAIR relation first: the unionAll references it twice
    # and Catalyst does not dedupe identical join subtrees — unpinned,
    # the 3x3 grid join would execute once per branch
    pairs = grid_neighbor_pairs(spark, sf_dir).transform(tracked_local_checkpoint)
    sym = (
        pairs.selectExpr("vec_i AS s", "vec_j AS d")
        .unionAll(pairs.selectExpr("vec_j AS s", "vec_i AS d"))
        .transform(tracked_local_checkpoint)
    )
    raw_h = (
        f"CAST(floor(CAST(element_at(embedding, 4) AS DOUBLE)"
        f" * {float(1 << 20)!r}D + 0.5D) AS BIGINT)"
    )
    # loud precondition: the affine shift only removes the truncate-
    # vs-floor division divergence while h + FEAT_OFFSET >= 0 — an
    # out-of-range feature must FAIL the job, never silently diverge
    # (adversarial-review finding; same discipline as the argmax
    # composite guard)
    guard = (
        f"coalesce(CAST(assert_true(abs({raw_h}) <= {FEAT_OFFSET},"
        f" 'feature exceeds affine-shift bound 2^21') AS BIGINT), 0)"
    )
    h = emb.selectExpr("vec_id", f"{raw_h} + {guard} AS h")
    for _ in range(MSG_ROUNDS):
        h = (
            sym.join(h, sym["d"] == h["vec_id"])
            .groupBy(F.col("s").alias("v"))
            .agg(
                F.expr(
                    f"sum(h + {FEAT_OFFSET}) div count(1)"
                    f" - {FEAT_OFFSET} AS h"
                )
            )
            .selectExpr("v AS vec_id", "h")
        )
    return (
        h.orderBy(F.desc("h"), F.asc("vec_id"))
        .limit(TOPK_NODES)
        .selectExpr("vec_id", "h AS h2_q20")
    )
