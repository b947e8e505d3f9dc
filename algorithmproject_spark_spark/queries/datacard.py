"""Corpus data card — the one-row summary a training run ships with.

Data documentation practice (Datasheets for Datasets, Gebru et al.
2021; model cards) wants every released corpus to carry its headline
statistics. At 100 TB the card IS a distributed computation: this
query composes four already-oracle-checked per-document relations into
one row of exact-integer corpus facts:

- volume: doc count, total whitespace tokens, mean tokens/doc (1e3)
- quality: share of docs passing the curation gate (1e6)
- duplication: share of docs whose full-text rolling-hash fingerprint
  collides with an earlier doc (1e6)
- language mix: number of languages + Shannon entropy of the language
  distribution in exact micro-nats (per-row-floored c·ln c, the
  user_event_entropy discipline — integer sums are partition-order
  independent, float sums are not)

Scale shape: each component is one aggregation over a map-only
per-doc relation; the five 1-row aggregates meet in broadcast
cross-joins (the plan-linter-sanctioned scalar pattern). The corpus
text is scanned once per component family — and those components are
the cached derived relations sibling queries in a session already
share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.queries.text import (
    DOC_FINGERPRINT_SQL,
    DOC_QUALITY_SCORE_SQL,
    DOC_TOKEN_STATS_SQL,
    doc_fingerprint,
    doc_quality_score,
    doc_token_stats,
)
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

@register(
    "corpus_datacard",
    plan=("scalar_cross",),
    oracle=f"""
    WITH ts AS ({DOC_TOKEN_STATS_SQL}),
    q AS ({DOC_QUALITY_SCORE_SQL}),
    fp AS ({DOC_FINGERPRINT_SQL}),
    vol AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        FROM ts
    ),
    keep AS (SELECT CAST(sum(keep) AS BIGINT) AS n_keep FROM q),
    dup AS (
        SELECT CAST(count(*) - count(DISTINCT fingerprint) AS BIGINT)
                   AS n_dups
        FROM fp
    ),
    lc AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY lang
    ),
    lent AS (
        SELECT CAST(count(*) AS BIGINT) AS n_langs,
               CAST(sum(CAST(floor(c * ln(c) * 1000000.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS s_e6,
               CAST(sum(c) AS BIGINT) AS n
        FROM lc
    )
    SELECT vol.n_docs,
           coalesce(vol.total_tokens, 0) AS total_tokens,
           -- empty-corpus contract: every figure is 0, in BOTH engines
           -- (Spark's ANSI div raises on /0 while DuckDB's // returns
           -- NULL — edge-sweep finding; the explicit guard removes the
           -- divergent failure behavior)
           CAST(CASE WHEN vol.n_docs = 0 THEN 0
                     ELSE vol.total_tokens * 1000 // vol.n_docs END
                AS BIGINT) AS mean_doc_tokens_e3,
           CAST(CASE WHEN vol.n_docs = 0 THEN 0
                     ELSE keep.n_keep * 1000000 // vol.n_docs END
                AS BIGINT) AS keep_rate_e6,
           CAST(CASE WHEN vol.n_docs = 0 THEN 0
                     ELSE dup.n_dups * 1000000 // vol.n_docs END
                AS BIGINT) AS dup_rate_e6,
           lent.n_langs,
           CAST(CASE WHEN lent.n IS NULL OR lent.n = 0 THEN 0
                     ELSE CAST(floor(ln(lent.n) * 1000000.0 + 0.5)
                               AS BIGINT) - lent.s_e6 // lent.n END
                AS BIGINT) AS lang_entropy_e6
    FROM vol CROSS JOIN keep CROSS JOIN dup CROSS JOIN lent
    """,
    doc=(
        "corpus data card: one exact-integer row of release statistics "
        "— volume (docs, tokens, mean doc length), curation keep rate, "
        "exact-dup rate via rolling-hash fingerprints, language count "
        "and mix entropy in micro-nats — Datasheets-for-Datasets as a "
        "distributed query"
    ),
)
def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one-parse text glue (r13): identical expressions
    vol = doc_token_stats(spark, sf_dir).agg(
        F.expr("CAST(count(1) AS BIGINT) AS n_docs"),
        F.expr("CAST(sum(n_tokens) AS BIGINT) AS total_tokens"),
    )
    keep = doc_quality_score(spark, sf_dir).agg(
        F.expr("CAST(sum(keep) AS BIGINT) AS n_keep")
    )
    dup = doc_fingerprint(spark, sf_dir).agg(
        F.expr(
            "CAST(count(1) - count(DISTINCT fingerprint) AS BIGINT)"
            " AS n_dups"
        )
    )
    lc = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.expr("CAST(count(1) AS BIGINT) AS c"))
    )
    lent = lc.agg(
        F.expr("CAST(count(1) AS BIGINT) AS n_langs"),
        F.expr(
            "CAST(sum(CAST(floor(CAST(c AS DOUBLE) * ln(c) * 1e6D + 0.5D)"
            " AS BIGINT)) AS BIGINT) AS s_e6"
        ),
        F.expr("CAST(sum(c) AS BIGINT) AS n"),
    )
    zero = "CAST(0 AS BIGINT)"

    def rate(num: str, alias: str) -> str:
        # empty-corpus contract: 0, never a divide-by-zero (ANSI raises
        # where DuckDB's // would NULL — the edge-sweep divergence class)
        return (
            f"CASE WHEN n_docs = 0 THEN {zero}"
            f" ELSE ({num}) div n_docs END AS {alias}"
        )

    e6 = f"CAST({1_000_000} AS BIGINT)"
    return (
        vol.crossJoin(F.broadcast(keep))
        .crossJoin(F.broadcast(dup))
        .crossJoin(F.broadcast(lent))
        .selectExpr(
            "n_docs",
            f"coalesce(total_tokens, {zero}) AS total_tokens",
            rate(
                f"coalesce(total_tokens, {zero}) * CAST(1000 AS BIGINT)",
                "mean_doc_tokens_e3",
            ),
            rate(f"coalesce(n_keep, {zero}) * {e6}", "keep_rate_e6"),
            rate(f"coalesce(n_dups, {zero}) * {e6}", "dup_rate_e6"),
            "n_langs",
            f"CASE WHEN n IS NULL OR n = 0 THEN {zero}"
            f" ELSE CAST(floor(ln(n) * 1e6D + 0.5D) AS BIGINT)"
            f" - s_e6 div n END AS lang_entropy_e6",
        )
    )
