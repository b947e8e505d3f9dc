"""Trained quality head — the weights-as-data seam exercised END TO
END with weights actually FIT on labels (VERDICT r10 #4), not a frozen
fixture.

The round-10 broadcast form (``quality_model_score_bcast``) proved the
PLAN takes its weight vector as a relation, but still scored
literal-derived weights, so "trained weights are a parquet swap" was an
untested claim. This module closes that: a linear head is fit on the
heuristic gate's labels over hashed uni+bigram buckets PLUS binned
scalar features, written to and read back from parquet in tests, and
scored + AUC-evaluated on a HELD-OUT split (odd doc_ids; training sees
only even ones), all hash-green against a DuckDB twin that re-derives
the same training.

Model — an additive linear head fit closed-form, one (b, wt) row per
feature bucket:

- token buckets (b < QMB_DIM, the exact feature map of
  ``quality_model_score_bcast``): Rocchio/centroid weights — the
  integer-ppm difference of class-conditional occurrence frequencies,
  ``w(b) = pos_b·1e6 // tot_pos − neg_b·1e6 // tot_neg`` — mean-pooled
  at scoring time like the frozen head;
- binned scalar buckets (b ≥ QMB_DIM): length band (n_tokens div 20,
  clamp 19), repetition band (rep_ratio_e6 div 1e5, clamp 9) and
  stopword band (sw_ratio_e6 div 1e5, clamp 9), each weighted by its
  KEEP-RATE LIFT over the train base rate,
  ``w(b) = pos_docs_b·1e6 // docs_b − tot_pos_docs·1e6 // tot_docs``,
  added to the score un-pooled. Binning is the standard way a linear
  model expresses a NON-MONOTONE rule like "20 ≤ n_tokens ≤ 200" —
  per-band weights learn the band shape, which pure mean-pooled token
  frequencies provably cannot (pooling normalizes length away; the
  first cut of this head scored AUC ≈ 0.5 for exactly that reason).

Closed-form over SGD on purpose: both weight families are grouped
counts — fully distributed (one explode + two groupBys, no driver-side
loops, no iteration), deterministic, and exactly reproducible in SQL,
so the oracle RE-DERIVES the training instead of trusting a stored
artifact.

Scale shape: training is one shuffle of feature occurrences into ≤ D
buckets (map-side combined) plus a 3-rows-per-doc band aggregate;
totals are 1-row aggregates broadcast back (the sanctioned scalar-cross
pattern); scoring is one BroadcastHashJoin of the ≤ D-row weight
relation against the held-out explode. At 100 TB the counts bound
pos_b·1e6 < 2^63 while a class holds < ~9·10^12 feature occurrences
(≈ 40 TB of text per class); past that, train on a sample — which is
standard practice — or raise the arithmetic to DECIMAL.

Reference parity: none — the reference's quality gates are dictionary
lookups; this extends the CCNet/fastText-style head the registry added
in round 9 with the training path a production curation pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.cacheutil import tracked_cache
from algorithmproject_spark_spark.functions.hashing import (
    GRAM_MULT,
    MOD,
    MULT,
    sql_char_fold_hash,
    sql_gram_hash_array,
    ss_bind,
    ss_gram_hash_array,
    ss_token_hash_array,
)
from algorithmproject_spark_spark.functions.numeric import ss_micros
from algorithmproject_spark_spark.functions.text import ss_stopword_array
from algorithmproject_spark_spark.queries.qualitymodel import (
    QMB_DIM,
    _sql_quality_prefix,
)
from algorithmproject_spark_spark.queries.text import DOC_QUALITY_SCORE_SQL
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

E6 = 1_000_000

#: binned-scalar bucket bases (disjoint from token buckets < QMB_DIM)
B_LEN = QMB_DIM  # 20 length bands: n_tokens div 20, clamped to 19
B_REP = QMB_DIM + 100  # 10 repetition bands: rep_ratio_e6 div 1e5
B_SW = QMB_DIM + 200  # 10 stopword bands: sw_ratio_e6 div 1e5


def _exploded(docs: DataFrame, extra: tuple = ()) -> DataFrame:
    """(doc_id, *extra, n_feats, b) — one feature-occurrence row per
    hashed token bucket; ``extra`` columns (e.g. the training label)
    are computed in the SAME scan and ride the explode row, so no
    data-scale join is ever needed to attach them."""
    fs = docs.select(
        "doc_id",
        *extra,
        F.expr(
            ss_bind(ss_token_hash_array("split(text, ' ')"), "th_", _SS_BUCKET_STRUCT)
        ).alias("fs"),
    )
    names = [f.name for f in fs.schema.fields if f.name != "fs"]
    return fs.select(
        *names,
        F.col("fs.n_feats").alias("n_feats"),
        F.explode("fs.buckets").alias("b"),
    )


def _feature_rows(with_label: bool) -> Column:
    """``array<struct<b, n_feats|label>>`` — one element per feature
    bucket of the doc, ready to ``explode`` in a single reference.

    This is the r12 fix for the trio's sf1 cost (VERDICT r11 #4), in
    two layers:

    1. Everything (token buckets, band buckets, label, n_feats) is
       derived from ONE bound token array — Catalyst's CollapseProject
       inlines ``tokenize`` into every downstream reference, so the old
       two-scan training pass re-split the text ~9× per row in
       interpreted HOFs.
    2. The per-doc payload rides INSIDE the exploded array elements, so
       downstream selects reference the bound expression exactly ONCE
       (the explode). Projecting a struct and reading two fields from
       it re-evaluates the whole pipeline per field — measured 12.4 s
       vs 4.0 s for the training scan at sf1.

    ``b`` id spaces are disjoint (tokens < QMB_DIM, bands ≥ QMB_DIM),
    so one explode serves both weight families and the scoring join.
    The label is itself bound before being fanned into the array —
    inside a ``transform`` lambda it would re-run the stopword filter
    per element; ``n_feats`` is O(1) from the bound token array and
    needs no extra bind.

    Emitted as ONE F.expr parse (r12): the Column-API build of this
    tree cost ~2 s of driver time per reference (guide §4 — cross the
    Python boundary once); the parsed tree is the identical expression,
    oracle-gated on every consumer."""
    from algorithmproject_spark_spark.queries.modeleval import (
        ss_label_from_toks,
    )

    if with_label:
        body = ss_bind(
            ss_label_from_toks("toks_"),
            "lab_",
            f"transform({_ss_buckets('th_', 'toks_')}, "
            f"bk_ -> named_struct('b', bk_, 'label', lab_))",
        )
    else:
        n_feats = _SS_N_FEATS.format(t="toks_")
        body = (
            f"transform({_ss_buckets('th_', 'toks_')}, "
            f"bk_ -> named_struct('b', bk_, 'n_feats', {n_feats}))"
        )
    return F.expr(
        ss_bind(
            "split(text, ' ')",
            "toks_",
            ss_bind(ss_token_hash_array("toks_"), "th_", body),
        )
    )


def _ss_band_array(toks: str) -> str:
    """[b_len, b_rep, b_sw] bucket ids over a bound token-array
    variable — the binned-scalar features, from the SAME quantities the
    heuristic label reads (so the twin reuses the registered label
    SQL's columns)."""
    n_tokens = f"size({toks})"
    sw = (
        f"size(filter({toks}, swt_ -> "
        f"array_contains({ss_stopword_array()}, swt_)))"
    )
    sw_e6 = ss_micros(f"CAST({sw} AS DOUBLE) / {n_tokens}")
    rep_e6 = ss_micros(
        f"CAST(size(array_distinct({toks})) AS DOUBLE) / {n_tokens}"
    )
    return (
        f"array("
        f"{B_LEN} + least(CAST({n_tokens} AS BIGINT) div 20, "
        f"CAST(19 AS BIGINT)), "
        f"{B_REP} + least({rep_e6} div 100000, CAST(9 AS BIGINT)), "
        f"{B_SW} + least({sw_e6} div 100000, CAST(9 AS BIGINT)))"
    )


def _ss_token_buckets(th: str) -> str:
    """Unigram and bigram bucket-id arrays of a bound token-hash array —
    the EXACT token feature map of quality_model_score_bcast (hashed
    unigrams + word bigrams mod QMB_DIM), shared so trained weights
    plug into that plan."""
    return (
        f"transform({th}, bh_ -> bh_ % {QMB_DIM}), "
        f"transform({ss_gram_hash_array(th, 2)}, bh_ -> bh_ % {QMB_DIM})"
    )


def _ss_buckets(th: str, toks: str) -> str:
    """Token + bigram + band bucket ids as one array — the feature map
    :func:`_feature_rows` explodes."""
    return f"concat({_ss_token_buckets(th)}, {_ss_band_array(toks)})"


_SS_N_FEATS = "CAST(size({t}) + greatest(size({t}) - 1, 0) AS BIGINT)"

#: (n_feats, buckets) struct over a bound token-hash array ``th_``
_SS_BUCKET_STRUCT = (
    f"named_struct('n_feats', {_SS_N_FEATS.format(t='th_')}, "
    f"'buckets', concat({_ss_token_buckets('th_')}))"
)


def _eval_rows_array() -> Column:
    """``array<struct<b, n_feats, label, fr_score_ppm, fr_keep>>`` —
    the FUSED held-out evaluation array (r12): one bound token array
    yields the trained head's feature buckets AND the per-doc scalars
    the evaluation queries previously re-scanned the corpus for (the
    heuristic label, the frozen head's score — same ``th`` binding,
    same expression trees, so every value is bit-identical to the
    separate scans). Scalars are bound once per doc and ride each
    element as O(1) lambda-variable lookups; consumers aggregate them
    back with ``max`` per doc_id (constant per doc — exact).

    Built as ONE F.expr parse: the Column-API build of this tree cost
    ~2 s of driver time per query (guide §4 — cross the Python
    boundary once). Before the fusion,
    ``quality_trained_vs_frozen_auc`` and ``quality_head_disagreement``
    each tokenized the held-out split three times (score rows, frozen
    logits, label) on top of the training scan — guide §1.2."""
    from algorithmproject_spark_spark.queries.modeleval import (
        ss_label_from_toks,
    )
    from algorithmproject_spark_spark.queries.qualitymodel import (
        ss_quality_struct_from_th,
    )

    n_feats = _SS_N_FEATS.format(t="toks_")
    elem = (
        f"named_struct("
        f"'b', bk_, "
        f"'n_feats', {n_feats}, "
        f"'label', lab_, "
        f"'fr_score_ppm', fr_.score_ppm, "
        f"'fr_keep', fr_.keep)"
    )
    body = ss_bind(
        ss_label_from_toks("toks_"),
        "lab_",
        ss_bind(
            ss_quality_struct_from_th("th_"),
            "fr_",
            f"transform({_ss_buckets('th_', 'toks_')}, bk_ -> {elem})",
        ),
    )
    return F.expr(
        ss_bind(
            "split(text, ' ')",
            "toks_",
            ss_bind(ss_token_hash_array("toks_"), "th_", body),
        )
    )


def _eval_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_feats, sum_w_ppm, band_w_ppm, score_ppm, keep, label,
    fr_score_ppm, fr_keep): the held-out split scored by the trained
    head, with the heuristic label and the frozen head's verdict from
    the SAME single scan — tracked-cached because both AUC branches
    (and the disagreement filter) read it. The trained-score columns
    reproduce :func:`score_with_weights` exactly: same explode, same
    broadcast-left weight join, same aggregates and div/band/bias
    arithmetic."""
    docs = load_table(spark, sf_dir, "documents").filter("doc_id % 2 = 1")
    rows = docs.select(
        "doc_id", F.explode(_eval_rows_array()).alias("x")
    ).select(
        "doc_id", "x.b", "x.n_feats", "x.label", "x.fr_score_ppm", "x.fr_keep"
    )
    weights = trained_weight_rel(spark, sf_dir)
    # one-parse agg/select text (r13): same expressions as the former
    # Column towers, ~230 fewer py4j trips per consumer build
    scored = (
        rows.join(F.broadcast(weights), "b", "left")
        .groupBy("doc_id")
        .agg(
            F.expr("CAST(max(n_feats) AS BIGINT) AS n_feats"),
            F.expr(
                f"CAST(coalesce(sum(CASE WHEN b < {QMB_DIM} THEN wt END),"
                f" 0) AS BIGINT) AS sum_w_ppm"
            ),
            F.expr(
                f"CAST(coalesce(sum(CASE WHEN NOT (b < {QMB_DIM}) THEN wt"
                f" END), 0) AS BIGINT) AS band_w_ppm"
            ),
            F.expr("CAST(max(label) AS BIGINT) AS label"),
            F.expr("CAST(max(fr_score_ppm) AS BIGINT) AS fr_score_ppm"),
            F.expr("CAST(max(fr_keep) AS BIGINT) AS fr_keep"),
        )
    )
    score_txt = "(sum_w_ppm div n_feats) + band_w_ppm"
    return tracked_cache(
        scored.selectExpr(
            "doc_id",
            "n_feats",
            "sum_w_ppm",
            "band_w_ppm",
            f"{score_txt} AS score_ppm",
            f"CAST(CASE WHEN {score_txt} >= 0 THEN 1 ELSE 0 END"
            " AS BIGINT) AS keep",
            "label",
            "fr_score_ppm",
            "fr_keep",
        )
    )


def trained_weight_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(b, wt) — the TRAINED weight relation, fit on the even-doc_id
    split with the heuristic gate as labels: Rocchio frequency
    differences for token buckets, keep-rate lifts for the binned
    scalar buckets. Tracked-cached: the AUC query references it through
    the scoring join while the training aggregation must not re-run per
    reference. Contains only buckets OBSERVED in training (≤ D rows;
    unseen buckets score 0 via the left join in
    :func:`score_with_weights`).

    Fused training pass (VERDICT r11 #4): the token and band families
    previously ran as two separate explode→groupBy aggregations, each
    re-tokenizing the even split and re-deriving the label — the trio
    of consumers paid 15-22 s each at sf1 for it. Now ONE scan derives
    label + all bucket ids from one bound token array and explodes
    (b, label) rows in a single reference (:func:`_feature_rows`), ONE
    map-side-combined groupBy(b) counts (pos, n) for both families at
    once (id spaces disjoint), ONE 1-row conditional aggregate derives
    all four training totals, and the per-bucket weight formula
    branches on the id range. Same integers as the two-pass form — the
    oracle's independent re-derivation is unchanged. The grouped
    relation is ≤ D+220 rows and referenced twice (totals + weights),
    so it is tracked-cached: the explode scan runs exactly once.
    """
    docs = load_table(spark, sf_dir, "documents").filter("doc_id % 2 = 0")
    ex = docs.select(
        F.explode(_feature_rows(with_label=True)).alias("x")
    ).select("x.b", "x.label")
    grouped = tracked_cache(
        ex.groupBy("b").agg(
            F.expr("CAST(sum(label) AS BIGINT) AS pos"),
            F.expr("CAST(count(1) AS BIGINT) AS n"),
        )
    )
    # one-parse text (r13) — CASE/div forms identical to the former
    # Column towers
    tok = f"b < {QMB_DIM}"
    tot = grouped.agg(
        F.expr(
            f"CAST(coalesce(sum(CASE WHEN {tok} THEN pos END), 0)"
            " AS BIGINT) AS tot_pos"
        ),
        F.expr(
            f"CAST(coalesce(sum(CASE WHEN {tok} THEN n - pos END), 0)"
            " AS BIGINT) AS tot_neg"
        ),
        F.expr(
            f"CAST(coalesce(sum(CASE WHEN NOT ({tok}) THEN pos END), 0)"
            " AS BIGINT) AS tot_pos_d"
        ),
        F.expr(
            f"CAST(coalesce(sum(CASE WHEN NOT ({tok}) THEN n END), 0)"
            " AS BIGINT) AS tot_d"
        ),
    )

    def share(c: str, t: str) -> str:
        return (
            f"CASE WHEN {t} > 0 THEN ({c}) * {E6} div {t}"
            f" ELSE CAST(0 AS BIGINT) END"
        )

    tok_wt = f"{share('pos', 'tot_pos')} - {share('n - pos', 'tot_neg')}"
    band_wt = f"(pos * {E6} div n) - (tot_pos_d * {E6} div tot_d)"
    return tracked_cache(
        grouped.crossJoin(F.broadcast(tot)).selectExpr(
            "b",
            f"CAST(CASE WHEN {tok} THEN {tok_wt} ELSE {band_wt} END"
            " AS BIGINT) AS wt",
        )
    )


#: CTE suffix shared by both oracles: trained weights re-derived from
#: the even-doc_id split. ``lbl_all`` must be bound by the caller to
#: the registered label SQL (it exposes n_tokens / ratio columns too).
_SQL_TW = f"""tw_lbl AS (
        SELECT doc_id, keep AS label FROM lbl_all WHERE doc_id % 2 = 0
    ),
    tw_h AS (
        SELECT doc_id,
               list_transform(string_split(text, ' '),
                              t_ -> {sql_char_fold_hash('t_', MULT, MOD)}) AS th
        FROM documents WHERE doc_id % 2 = 0
    ),
    tw_occ AS (
        SELECT l.label,
               unnest(list_concat(
                   list_transform(h.th, h_ -> h_ % {QMB_DIM}),
                   list_transform({sql_gram_hash_array('h.th', 2, GRAM_MULT, MOD)},
                                  h_ -> h_ % {QMB_DIM}))) AS b
        FROM tw_h h JOIN tw_lbl l USING (doc_id)
    ),
    tw_b AS (
        SELECT b, CAST(SUM(label) AS BIGINT) AS pos_c,
               CAST(SUM(1 - label) AS BIGINT) AS neg_c
        FROM tw_occ GROUP BY b
    ),
    tw_tot AS (
        SELECT CAST(SUM(pos_c) AS BIGINT) AS tot_pos,
               CAST(SUM(neg_c) AS BIGINT) AS tot_neg
        FROM tw_b
    ),
    tb_bands AS (
        SELECT keep AS label,
               unnest([{B_LEN} + least(n_tokens // 20, 19),
                       {B_REP} + least(rep_ratio_e6 // 100000, 9),
                       {B_SW} + least(sw_ratio_e6 // 100000, 9)]) AS b
        FROM lbl_all WHERE doc_id % 2 = 0
    ),
    tb_base AS (
        SELECT CAST(SUM(label) AS BIGINT) AS tot_pos_d,
               CAST(COUNT(*) AS BIGINT) AS tot_d
        FROM tb_bands
    ),
    tw_w AS (
        SELECT b,
               CAST(CASE WHEN tot_pos > 0
                         THEN pos_c * {E6} // tot_pos ELSE 0 END
                  - CASE WHEN tot_neg > 0
                         THEN neg_c * {E6} // tot_neg ELSE 0 END
                    AS BIGINT) AS wt
        FROM tw_b, tw_tot
        UNION ALL
        SELECT b,
               CAST(SUM(label) * {E6} // COUNT(*)
                  - (SELECT tot_pos_d * {E6} // tot_d FROM tb_base)
                    AS BIGINT) AS wt
        FROM tb_bands GROUP BY b
    )"""

_SQL_EVAL_SCORE = f"""te_h AS (
        SELECT doc_id,
               list_transform(string_split(text, ' '),
                              t_ -> {sql_char_fold_hash('t_', MULT, MOD)}) AS th
        FROM documents WHERE doc_id % 2 = 1
    ),
    te_f AS (
        SELECT doc_id,
               CAST(len(th) + greatest(len(th) - 1, 0) AS BIGINT) AS n_feats,
               unnest(list_concat(
                   list_transform(th, h_ -> h_ % {QMB_DIM}),
                   list_transform({sql_gram_hash_array('th', 2, GRAM_MULT, MOD)},
                                  h_ -> h_ % {QMB_DIM}))) AS b
        FROM te_h
    ),
    te_tok AS (
        SELECT f.doc_id,
               CAST(max(f.n_feats) AS BIGINT) AS n_feats,
               CAST(COALESCE(SUM(w.wt), 0) AS BIGINT) AS sum_w_ppm
        FROM te_f f LEFT JOIN tw_w w USING (b)
        GROUP BY f.doc_id
    ),
    te_bx AS (
        SELECT doc_id,
               unnest([{B_LEN} + least(n_tokens // 20, 19),
                       {B_REP} + least(rep_ratio_e6 // 100000, 9),
                       {B_SW} + least(sw_ratio_e6 // 100000, 9)]) AS b
        FROM lbl_all WHERE doc_id % 2 = 1
    ),
    te_band AS (
        SELECT x.doc_id,
               CAST(COALESCE(SUM(w.wt), 0) AS BIGINT) AS band_w_ppm
        FROM te_bx x LEFT JOIN tw_w w USING (b)
        GROUP BY x.doc_id
    ),
    te_score AS (
        SELECT t.doc_id, t.n_feats, t.sum_w_ppm, bd.band_w_ppm,
               CAST(t.sum_w_ppm // t.n_feats + bd.band_w_ppm AS BIGINT)
                   AS score_ppm,
               CAST(CASE WHEN t.sum_w_ppm // t.n_feats + bd.band_w_ppm >= 0
                         THEN 1 ELSE 0 END AS BIGINT) AS keep
        FROM te_tok t JOIN te_band bd USING (doc_id)
    )"""


def _with_lbl(body: str) -> str:
    """Bind ``lbl_all`` (the registered heuristic-label SQL, which also
    exposes the n_tokens / ratio columns the band features read)."""
    return f"WITH lbl_all AS ({DOC_QUALITY_SCORE_SQL}),\n    {body}"


def score_with_weights(
    docs: DataFrame,
    weights: DataFrame,
    bias_ppm: int = 0,
    keep_ppm: int = 0,
    with_bands: bool = True,
) -> DataFrame:
    """(doc_id, n_feats, sum_w_ppm, band_w_ppm, score_ppm, keep) for any
    document frame against any (b, wt) weight relation — THE
    weights-as-data scoring plan: one BroadcastHashJoin of the weight
    relation against the feature rows + a map-side-combined re-agg.
    LEFT join so buckets absent from the weight relation contribute 0 —
    a sparse trained table and a dense fixture table are
    interchangeable. Token buckets (b < QMB_DIM) are mean-pooled by
    n_feats; binned-scalar buckets (b ≥ QMB_DIM) add un-pooled.
    ``quality_model_score_bcast`` is this function with
    ``with_bands=False`` over the generated fixture (token-only, its
    historical schema); the parquet-swap test runs it with bands over
    trained weights READ BACK FROM PARQUET.

    With bands the feature rows come from ONE fused explode
    (:func:`_feature_rows`) instead of a token scan unioned with a
    band scan — n_feats rides every row (it is constant per doc, so
    the max-pool is unchanged) and the disjoint id ranges route each
    row to the right aggregate, same values as the two-scan form."""
    if with_bands:
        rows = docs.select(
            "doc_id", F.explode(_feature_rows(with_label=False)).alias("x")
        ).select("doc_id", "x.n_feats", "x.b")
    else:
        rows = _exploded(docs.select("doc_id", "text"))
    is_tok = F.col("b") < F.lit(QMB_DIM)
    band_aggs = (
        [
            F.coalesce(F.sum(F.when(~is_tok, F.col("wt"))), F.lit(0))
            .cast("long")
            .alias("band_w_ppm")
        ]
        if with_bands
        else []
    )
    scored = (
        rows.join(F.broadcast(weights), "b", "left")
        .groupBy("doc_id")
        .agg(
            F.max("n_feats").cast("long").alias("n_feats"),
            F.coalesce(F.sum(F.when(is_tok, F.col("wt"))), F.lit(0))
            .cast("long")
            .alias("sum_w_ppm"),
            *band_aggs,
        )
    )
    band_term = F.col("band_w_ppm") if with_bands else F.lit(0).cast("long")
    score_ppm = (
        F.call_function("div", F.col("sum_w_ppm"), F.col("n_feats"))
        + band_term
        + F.lit(bias_ppm)
    )
    return scored.select(
        "doc_id",
        "n_feats",
        "sum_w_ppm",
        *(["band_w_ppm"] if with_bands else []),
        score_ppm.alias("score_ppm"),
        F.when(score_ppm >= F.lit(keep_ppm), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("keep"),
    )


@register(
    "quality_trained_head_score",
    plan=("scalar_cross",),  # the 1-row training-totals broadcasts
    oracle=_with_lbl(
        f"""{_SQL_TW},
    {_SQL_EVAL_SCORE}
    SELECT doc_id, n_feats, sum_w_ppm, band_w_ppm, score_ppm, keep
    FROM te_score
    """
    ),
    doc=(
        "held-out scores of the TRAINED quality head: closed-form "
        "weights (Rocchio integer-ppm class-frequency differences over "
        "hashed uni+bigram buckets, plus keep-rate-lift weights over "
        "binned length/repetition/stopword bands; fit on even doc_ids "
        "with the heuristic gate as labels) scoring the odd-doc_id "
        "split via one broadcast weight join — the weights-as-data "
        "seam with weights that are actually trained, re-derived "
        "independently by the oracle"
    ),
)
def quality_trained_head_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 2 == 1
    )
    return score_with_weights(docs, trained_weight_rel(spark, sf_dir))


@register(
    "quality_trained_vs_frozen_auc",
    plan=("scalar_cross",),  # training totals + the two 1-row AUC aggs
    oracle=_with_lbl(
        f"""{_SQL_TW},
    {_SQL_EVAL_SCORE},
    {_sql_quality_prefix()},
    fr_s AS (
        SELECT doc_id, score_ppm FROM qscore WHERE doc_id % 2 = 1
    ),
    ev_lbl AS (
        SELECT doc_id, keep AS label FROM lbl_all WHERE doc_id % 2 = 1
    ),
    tr_by AS (
        SELECT s.score_ppm, CAST(SUM(l.label) AS BIGINT) AS n_pos,
               CAST(COUNT(*) - SUM(l.label) AS BIGINT) AS n_neg
        FROM te_score s JOIN ev_lbl l USING (doc_id)
        GROUP BY s.score_ppm
    ),
    fr_by AS (
        SELECT s.score_ppm, CAST(SUM(l.label) AS BIGINT) AS n_pos,
               CAST(COUNT(*) - SUM(l.label) AS BIGINT) AS n_neg
        FROM fr_s s JOIN ev_lbl l USING (doc_id)
        GROUP BY s.score_ppm
    ),
    tr_cum AS (
        SELECT n_pos, n_neg,
               COALESCE(SUM(n_neg) OVER (ORDER BY score_ppm
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS neg_below
        FROM tr_by
    ),
    fr_cum AS (
        SELECT n_pos, n_neg,
               COALESCE(SUM(n_neg) OVER (ORDER BY score_ppm
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS neg_below
        FROM fr_by
    ),
    tr_auc AS (
        SELECT CAST(SUM(n_pos) AS BIGINT) AS n_pos,
               CAST(SUM(n_neg) AS BIGINT) AS n_neg,
               CASE WHEN SUM(n_pos) > 0 AND SUM(n_neg) > 0 THEN
                 CAST(floor(
                   CAST(SUM(n_pos * (2 * neg_below + n_neg)) AS DOUBLE)
                     / (2.0 * CAST(SUM(n_pos) AS DOUBLE)
                            * CAST(SUM(n_neg) AS DOUBLE))
                     * 1000000.0 + 0.5) AS BIGINT)
               ELSE NULL END AS auc_e6
        FROM tr_cum
    ),
    fr_auc AS (
        SELECT CASE WHEN SUM(n_pos) > 0 AND SUM(n_neg) > 0 THEN
                 CAST(floor(
                   CAST(SUM(n_pos * (2 * neg_below + n_neg)) AS DOUBLE)
                     / (2.0 * CAST(SUM(n_pos) AS DOUBLE)
                            * CAST(SUM(n_neg) AS DOUBLE))
                     * 1000000.0 + 0.5) AS BIGINT)
               ELSE NULL END AS auc_e6
        FROM fr_cum
    )
    SELECT t.n_pos, t.n_neg,
           t.auc_e6 AS auc_trained_e6,
           f.auc_e6 AS auc_frozen_e6
    FROM tr_auc t, fr_auc f
    """
    ),
    doc=(
        "head-to-head exact Mann-Whitney AUC on the held-out split: "
        "the trained head vs the frozen random-weight head, both "
        "against the heuristic gate's labels — the single row that "
        "proves training actually helped (pinned trained > frozen in "
        "tests)"
    ),
)
def quality_trained_vs_frozen_auc(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # ONE scan of the held-out split (r12): trained score, frozen
    # score and label all come from the fused cached relation
    # (:func:`_eval_scored`) instead of three separate tokenizing
    # passes + per-branch joins. Same integers, same AUC.
    scored = _eval_scored(spark, sf_dir)

    def auc_e6(score_col: str) -> DataFrame:
        # one-parse text glue (r13): same window/agg expressions
        by_s = scored.groupBy(F.col(score_col).alias("score_ppm")).agg(
            F.expr("CAST(sum(label) AS BIGINT) AS n_pos"),
            F.expr("CAST(count(1) - sum(label) AS BIGINT) AS n_neg"),
        )
        cum = by_s.selectExpr(
            "n_pos",
            "n_neg",
            "coalesce(sum(n_neg) OVER (ORDER BY score_ppm ROWS BETWEEN"
            " UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below",
        )
        auc_num = "CAST(sum(n_pos * (2 * neg_below + n_neg)) AS DOUBLE)"
        auc_den = (
            "(2.0D * CAST(sum(n_pos) AS DOUBLE)"
            " * CAST(sum(n_neg) AS DOUBLE))"
        )
        return cum.agg(
            F.expr("CAST(sum(n_pos) AS BIGINT) AS n_pos"),
            F.expr("CAST(sum(n_neg) AS BIGINT) AS n_neg"),
            F.expr(
                f"CASE WHEN sum(n_pos) > 0 AND sum(n_neg) > 0 THEN"
                f" {ss_micros(f'{auc_num} / {auc_den}')}"
                f" ELSE CAST(NULL AS BIGINT) END AS auc_e6"
            ),
        )

    t = auc_e6("score_ppm").selectExpr(
        "n_pos", "n_neg", "auc_e6 AS auc_trained_e6"
    )
    f_ = auc_e6("fr_score_ppm").selectExpr("auc_e6 AS auc_frozen_e6")
    return t.crossJoin(F.broadcast(f_))


@register(
    "quality_head_disagreement",
    plan=("scalar_cross",),  # the training-totals broadcasts
    oracle=_with_lbl(
        f"""{_SQL_TW},
    {_SQL_EVAL_SCORE},
    {_sql_quality_prefix()},
    dq AS (
        SELECT t.doc_id,
               t.score_ppm AS trained_score_ppm,
               q.score_ppm AS frozen_score_ppm,
               t.keep AS trained_keep,
               q.keep AS frozen_keep,
               l.keep AS label
        FROM te_score t
        JOIN qscore q USING (doc_id)
        JOIN lbl_all l USING (doc_id)
        WHERE t.keep <> q.keep
    )
    SELECT doc_id, trained_score_ppm, frozen_score_ppm,
           CAST(trained_keep AS BIGINT) AS trained_keep,
           CAST(frozen_keep AS BIGINT) AS frozen_keep,
           CAST(label AS BIGINT) AS label
    FROM dq
    ORDER BY ABS(trained_score_ppm) DESC, doc_id
    LIMIT 25
    """
    ),
    doc=(
        "disagreement-sampling triage (query-by-committee, the "
        "two-head special case): held-out docs where the trained and "
        "frozen quality heads disagree on keep/drop, ranked by the "
        "trained head's confidence — the review queue an active-"
        "labeling loop reads first; carries both scores and the "
        "heuristic label for adjudication"
    ),
)
def quality_head_disagreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # ONE scan of the held-out split (r12): both heads' verdicts and
    # the label ride the fused cached relation — the old form paid the
    # trained pass (train + score scans) PLUS the frozen full-corpus
    # scored_docs pass PLUS a third label scan, then two doc_id joins.
    # The frozen struct here is the same expression tree scored_docs
    # inlines, so scores/keeps are bit-identical; the join disappears
    # because everything is already on one row.
    scored = _eval_scored(spark, sf_dir)
    return (
        scored.filter("keep != fr_keep")
        .selectExpr(
            "doc_id",
            "score_ppm AS trained_score_ppm",
            "fr_score_ppm AS frozen_score_ppm",
            "keep AS trained_keep",
            "fr_keep AS frozen_keep",
            "label",
        )
        .orderBy(F.expr("abs(trained_score_ppm)").desc(), F.asc("doc_id"))
        .limit(25)
    )
