"""Corpus drift — exact distribution comparison between two corpus
slices.

The data-quality question behind every corpus refresh: did the token
distribution MOVE? Comparing two 50-TB crawls can't use χ²/KL
directly (logs and float sums diverge across engines); the
total-variation contribution per token is exact in integers:

    drift_ppm(t) = | ppm(c_A(t), N_A) - ppm(c_B(t), N_B) |

where ppm is the overflow-bounded exact parts-per-million helper
(functions/numeric.py — counts over ~9.2e12 would wrap the naive
c*1e6). Σ drift_ppm / 2e6 IS the total-variation distance between
the two unigram distributions; the per-token rows rank WHAT moved.

Spark shape: one map-only side split (deterministic hash-mod on
doc_id — reproducible, partition-independent), one (tok, side) keyed
count collapsed to per-token A/B columns via conditional aggregation
(single shuffle, never a pivot of unknown width), totals as a
broadcast 1-row aggregate, top-k via TakeOrderedAndProject (bounded
driver result, no global sort stage).

Reference parity: none — the reference has no distribution-comparison
op; this extends the quality family (operators/quality.py) with the
drift primitive batch curation needs before swapping a corpus in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.functions.numeric import (
    sql_hash_mod,
    sql_ppm,
    ss_floordiv,
    ss_hash_mod,
    ss_ppm,
)
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

TOP_N = 50


def token_drift(docs: DataFrame, top_n: int = TOP_N) -> DataFrame:
    """Top-``top_n`` drifted tokens between the two hash-mod halves of
    ``docs``: ``(tok, c_a, c_b, ppm_a, ppm_b, drift_ppm)``, ordered by
    (drift desc, tok) with the ordering made deterministic.

    Degenerate input contract: an EMPTY side (all docs hashing to one
    half — only possible for a near-empty corpus) makes the ppm
    denominator 0, which raises loudly under ANSI mode in both engines
    rather than fabricating a drift of 0."""
    toks = docs.select(
        F.expr(ss_hash_mod("doc_id", 2)).alias("side"),
        F.explode(F.split(F.col("text"), " ")).alias("tok"),
    )
    counts = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("c_b"),
    )
    totals = counts.agg(
        F.sum("c_a").alias("n_a"), F.sum("c_b").alias("n_b")
    )
    ranked = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "tok",
            "c_a",
            "c_b",
            F.expr(ss_ppm("c_a", "n_a")).alias("ppm_a"),
            F.expr(ss_ppm("c_b", "n_b")).alias("ppm_b"),
        )
        .withColumn(
            "drift_ppm", F.abs(F.col("ppm_a") - F.col("ppm_b"))
        )
    )
    return ranked.orderBy(F.col("drift_ppm").desc(), "tok").limit(top_n)


@register(
    "corpus_token_drift",
    plan=("scalar_cross",),
    oracle=f"""
        WITH cd_t AS (
            SELECT {sql_hash_mod('doc_id', 2)} AS side,
                   unnest(string_split(text, chr(32))) AS tok
            FROM documents
        ),
        cd_c AS (
            SELECT tok,
                   CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
                   CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_b
            FROM cd_t GROUP BY tok
        ),
        cd_n AS (SELECT SUM(c_a) AS n_a, SUM(c_b) AS n_b FROM cd_c)
        SELECT tok, c_a, c_b,
               {sql_ppm('c_a', 'n_a')} AS ppm_a,
               {sql_ppm('c_b', 'n_b')} AS ppm_b,
               abs({sql_ppm('c_a', 'n_a')} - {sql_ppm('c_b', 'n_b')}) AS drift_ppm
        FROM cd_c, cd_n
        ORDER BY drift_ppm DESC, tok LIMIT {TOP_N}
        """,
    doc="Corpus drift between the two hash-mod halves of the "
    "corpus: per-token exact ppm frequencies and |Δppm| (the "
    "total-variation contribution), overflow-bounded two-step "
    "integer scaling, top-50 movers — the distribution-shift "
    "gate a corpus refresh runs before swapping sources",
)
def corpus_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_drift(load_table(spark, sf_dir, "documents"))


@register(
    "events_daily_drift_tv",
    oracle=f"""
        WITH dd_c AS (
            SELECT CAST(ts AS DATE) AS day, event_type,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY day, event_type
        ),
        dd_n AS (
            SELECT day, CAST(SUM(c) AS BIGINT) AS n FROM dd_c GROUP BY day
        ),
        dd_p AS (
            SELECT c.day, c.event_type, {sql_ppm('c.c', 'n.n')} AS p
            FROM dd_c c JOIN dd_n n USING (day)
        ),
        dd_b AS (
            -- CAST back to DATE: DuckDB's date + INTERVAL promotes to
            -- TIMESTAMP, which would type-mismatch the Spark column
            SELECT CAST(day + INTERVAL 1 DAY AS DATE) AS day,
                   event_type, p AS p_prev
            FROM dd_p
        ),
        -- FULL join: a type present only yesterday still contributes
        -- |0 - p_prev| (a left join would under-count the distance)
        dd_j AS (
            SELECT COALESCE(a.day, b.day) AS day,
                   abs(COALESCE(a.p, 0) - COALESCE(b.p_prev, 0)) AS d
            FROM dd_p a
            FULL JOIN dd_b b
              ON b.day = a.day AND b.event_type = a.event_type
        )
        SELECT j.day, CAST(SUM(j.d) // 2 AS BIGINT) AS tv_ppm
        FROM dd_j j
        WHERE EXISTS (SELECT 1 FROM dd_n x
                      WHERE CAST(x.day + INTERVAL 1 DAY AS DATE) = j.day)
          AND EXISTS (SELECT 1 FROM dd_n y WHERE y.day = j.day)
        GROUP BY j.day
        """,
    doc="day-over-day distribution shift monitor: total-variation "
    "distance (exact ppm, Σ|Δppm| div 2) between each day's and "
    "the previous day's event-type mix — the alerting primitive "
    "behind 'did the traffic mix change overnight'; one keyed "
    "count + a self-join on the tiny (day, type) relation",
)
def events_daily_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("c"))
    n = c.groupBy("day").agg(F.sum("c").alias("n"))
    p = c.join(n, "day").select(
        "day", "event_type", F.expr(ss_ppm("c", "n")).alias("p")
    )
    prev = p.select(
        F.date_add("day", 1).alias("day"),
        F.col("event_type"),
        F.col("p").alias("p_prev"),
    )
    # FULL join over the union of both days' type sets: a type
    # present only yesterday still contributes |0 - p_prev| (a
    # left join would under-count the distance)
    joined = p.join(prev, ["day", "event_type"], "full_outer").select(
        "day",
        F.abs(
            F.coalesce("p", F.lit(0)) - F.coalesce("p_prev", F.lit(0))
        ).alias("d"),
    )
    # keep only days where BOTH sides exist (first/last day have
    # no pair — no distribution to compare against)
    today_days = n.select("day")
    prev_days = n.select(F.date_add("day", 1).alias("day")).distinct()
    return (
        joined.join(today_days, "day", "left_semi")
        .join(prev_days, "day", "left_semi")
        .groupBy("day")
        .agg(F.expr(ss_floordiv("sum(d)", "2")).alias("tv_ppm"))
    )


# --------------------------------------------------------------------------
# Embedding-space drift: per-label centroid displacement between the
# two deterministic halves of the corpus (vec_id parity — the stand-in
# for "yesterday's batch vs today's"). Unlike the centroid-sim query's
# snapped avg(), the centroids here are EXACT: each element is scaled to
# integer micros per row and summed as BIGINTs (order-free), and the
# mean is one truncating division — so the displacement is
# hash-identical by construction, not empirically.
# --------------------------------------------------------------------------
@register(
    "embedding_split_centroid_drift",
    oracle="""
    WITH esd_x AS (
        SELECT label, vec_id % 2 AS half,
               unnest(range(1, len(embedding) + 1)) AS d,
               embedding
        FROM embeddings
    ),
    esd_e AS (
        SELECT label, half, d,
               CAST(floor(CAST(embedding[d] AS DOUBLE) * 1000000.0 + 0.5)
                   AS BIGINT) AS v_e6
        FROM esd_x
    ),
    esd_c AS (
        SELECT label, half, d,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v_e6) AS BIGINT) AS s_e6
        FROM esd_e GROUP BY 1, 2, 3
    ),
    esd_m AS (
        -- truncating mean (sums can be negative): DuckDB // truncates
        SELECT label, half, d, n, s_e6 // n AS c_e6 FROM esd_c
    ),
    esd_p AS (
        SELECT a.label, a.d,
               a.n AS n_even, b.n AS n_odd,
               a.c_e6 - b.c_e6 AS diff_e6
        FROM esd_m a JOIN esd_m b
          ON a.label = b.label AND a.d = b.d
         AND a.half = 0 AND b.half = 1
    )
    SELECT label,
           CAST(max(n_even) AS BIGINT) AS n_even,
           CAST(max(n_odd) AS BIGINT) AS n_odd,
           CAST(sum(diff_e6 * diff_e6) AS BIGINT) AS dist2_e12,
           CAST(floor(sqrt(CAST(sum(diff_e6 * diff_e6) AS DOUBLE))
               + 0.5) AS BIGINT) AS dist_e6
    FROM esd_p GROUP BY label
    """,
    doc=(
        "embedding-space drift monitor: per label, the exact centroid "
        "displacement between the two deterministic corpus halves "
        "(vec_id parity) — per-element integer-micros sums (order-free, "
        "no snapped avg), truncating mean, exact integer squared "
        "distance + one IEEE sqrt; the alarm a nightly embedding "
        "refresh reads before swapping indexes"
    ),
)
def embedding_split_centroid_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.col("embedding")).alias("d0", "v_raw"),
    ).select(
        "label",
        "half",
        (F.col("d0") + 1).alias("d"),
        F.floor(F.col("v_raw").cast("double") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("v_e6"),
    )
    c = ex.groupBy("label", "half", "d").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v_e6").cast("long").alias("s_e6"),
    )
    m = c.select(
        "label",
        "half",
        "d",
        "n",
        F.call_function("div", F.col("s_e6"), F.col("n")).alias("c_e6"),
    )
    a = m.filter(F.col("half") == 0).select(
        "label", "d", F.col("n").alias("n_even"), F.col("c_e6").alias("ca")
    )
    b = m.filter(F.col("half") == 1).select(
        "label", "d", F.col("n").alias("n_odd"), F.col("c_e6").alias("cb")
    )
    p = a.join(b, ["label", "d"]).select(
        "label",
        "n_even",
        "n_odd",
        (F.col("ca") - F.col("cb")).alias("diff_e6"),
    )
    dist2 = F.sum(F.col("diff_e6") * F.col("diff_e6"))
    return p.groupBy("label").agg(
        F.max("n_even").cast("long").alias("n_even"),
        F.max("n_odd").cast("long").alias("n_odd"),
        dist2.cast("long").alias("dist2_e12"),
        F.floor(F.sqrt(dist2.cast("double")) + F.lit(0.5))
        .cast("long")
        .alias("dist_e6"),
    )
