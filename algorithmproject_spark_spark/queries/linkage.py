"""Fellegi-Sunter probabilistic record linkage over LSH candidates —
the classifier layer of entity resolution, on the engine's proven
bounded candidate generation.

The dedup family decides "same document" with a single Jaccard bar;
real entity resolution (Fellegi & Sunter 1969, the model behind
Splink/dedupe/JedAI) scores each candidate pair by an AGREEMENT VECTOR
over record fields, summing per-field log-likelihood-ratio weights:
agreement on field f contributes log2(m_f/u_f), disagreement
log2((1-m_f)/(1-u_f)), where m/u are the match/non-match agreement
probabilities. Pairs are then banded into link / possible / non-link
by two thresholds — the "possible" band is the clerical-review queue.

Exactness: the weights are FROZEN INTEGERS in milli-bits (log2 odds ×
1000), precomputed constants in this module — the QM_W_PPM pattern
(queries/qualitymodel.py): swapping EM-trained m/u estimates changes
these literals, never the plan, and keeping the logs OUT of the query
makes the score an exact integer sum both engines hash-match on.

Scale shape: candidates come from the banded-MinHash equi-join
(queries/dedup.py::jaccard_pairs_above at threshold 0 — every LSH
candidate, with its exact Jaccard), which is the part of record
linkage that decides 100 TB viability and is already skew-sweep
proven. The field attributes arrive by TWO equi-joins on doc_id
(candidates × documents), and the scoring itself is map-only
arithmetic on the joined row. The decision summary is one
map-side-combined groupBy on a 3-value key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.queries.dedup import (
    jaccard_pairs_above,
    sql_dup_pairs_cte,
)
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

#: frozen per-field (agreement, disagreement) weights in MILLI-BITS
#: (log2 likelihood ratio x 1000), derived offline from the m/u pairs
#: documented alongside — e.g. lang: m=0.95, u=0.33 ->
#: w_a = log2(.95/.33) = 1.525 bits, w_d = log2(.05/.67) = -3.744 bits.
#: EM-trained estimates would replace these literals, not the plan.
FS_W = {
    # field:        (w_agree_milli, w_disagree_milli)  (m, u)
    "lang_eq": (1525, -3744),  # m=0.95 u=0.33
    "source_eq": (1848, -2907),  # m=0.90 u=0.25
    "len_eq": (3000, -2170),  # m=0.80 u=0.10  (n_chars div 100 band)
    "jac_hi": (3807, -1663),  # m=0.70 u=0.05  (jaccard >= 0.5)
}
#: length-band width and jaccard bar for the two derived comparators
FS_LEN_BAND = 100
FS_JAC_HI_E6 = 500_000
#: decision thresholds on the summed milli-bit score
FS_T_LINK = 4_000
FS_T_NONLINK = 0


def _w(flag: Column, field: str) -> Column:
    wa, wd = FS_W[field]
    return F.when(flag == 1, F.lit(wa)).otherwise(F.lit(wd)).cast("long")


def _sql_w(flag: str, field: str) -> str:
    wa, wd = FS_W[field]
    return f"CASE WHEN {flag} = 1 THEN {wa} ELSE {wd} END"


_SQL_FS = f"""{sql_dup_pairs_cte(threshold_e6=0)},
    fs_attr AS (
        SELECT doc_id, lang, source, n_chars // {FS_LEN_BAND} AS len_band
        FROM documents
    ),
    fs_vec AS (
        SELECT p.doc_a, p.doc_b, p.jaccard_e6,
               CASE WHEN a.lang = b.lang THEN 1 ELSE 0 END AS lang_eq,
               CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS source_eq,
               CASE WHEN a.len_band = b.len_band THEN 1 ELSE 0 END AS len_eq,
               CASE WHEN p.jaccard_e6 >= {FS_JAC_HI_E6} THEN 1 ELSE 0 END
                   AS jac_hi
        FROM dup_pairs p
        JOIN fs_attr a ON p.doc_a = a.doc_id
        JOIN fs_attr b ON p.doc_b = b.doc_id
    ),
    fs_scored AS (
        SELECT doc_a, doc_b, jaccard_e6,
               CAST(lang_eq AS BIGINT) AS lang_eq,
               CAST(source_eq AS BIGINT) AS source_eq,
               CAST(len_eq AS BIGINT) AS len_eq,
               CAST(jac_hi AS BIGINT) AS jac_hi,
               CAST({_sql_w('lang_eq', 'lang_eq')}
                  + {_sql_w('source_eq', 'source_eq')}
                  + {_sql_w('len_eq', 'len_eq')}
                  + {_sql_w('jac_hi', 'jac_hi')} AS BIGINT) AS score_milli
        FROM fs_vec
    ),
    fs_dec AS (
        SELECT *,
               CASE WHEN score_milli >= {FS_T_LINK} THEN 'link'
                    WHEN score_milli < {FS_T_NONLINK} THEN 'non_link'
                    ELSE 'possible' END AS decision
        FROM fs_scored
    )"""


def _ss_w(flag: str, field: str) -> str:
    """Spark-SQL text twin of :func:`_w` (r13 one-parse glue)."""
    wa, wd = FS_W[field]
    return f"CAST(CASE WHEN {flag} = 1 THEN {wa} ELSE {wd} END AS BIGINT)"


def _fs_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = jaccard_pairs_above(spark, sf_dir, threshold_e6=0).select(
        "doc_a", "doc_b", "jaccard_e6"
    )
    attr = load_table(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "lang",
        "source",
        f"n_chars div {FS_LEN_BAND} AS len_band",
    )
    a = attr.selectExpr(*[f"{c} AS a_{c}" for c in attr.columns])
    b = attr.selectExpr(*[f"{c} AS b_{c}" for c in attr.columns])
    vec = (
        pairs.join(a, pairs["doc_a"] == a["a_doc_id"])
        .join(b, pairs["doc_b"] == b["b_doc_id"])
        .selectExpr(
            "doc_a",
            "doc_b",
            "jaccard_e6",
            "CAST(a_lang = b_lang AS BIGINT) AS lang_eq",
            "CAST(a_source = b_source AS BIGINT) AS source_eq",
            "CAST(a_len_band = b_len_band AS BIGINT) AS len_eq",
            f"CAST(jaccard_e6 >= {FS_JAC_HI_E6} AS BIGINT) AS jac_hi",
        )
    )
    score = (
        f"{_ss_w('lang_eq', 'lang_eq')} + {_ss_w('source_eq', 'source_eq')}"
        f" + {_ss_w('len_eq', 'len_eq')} + {_ss_w('jac_hi', 'jac_hi')}"
        f" AS score_milli"
    )
    scored = vec.selectExpr(
        "doc_a",
        "doc_b",
        "jaccard_e6",
        "lang_eq",
        "source_eq",
        "len_eq",
        "jac_hi",
        score,
    )
    decision = (
        f"CASE WHEN score_milli >= {FS_T_LINK} THEN 'link'"
        f" WHEN score_milli < {FS_T_NONLINK} THEN 'non_link'"
        f" ELSE 'possible' END AS decision"
    )
    return scored.selectExpr("*", decision)


@register(
    "record_linkage_fs_scores",
    oracle=f"""
    WITH {_SQL_FS}
    SELECT doc_a, doc_b, jaccard_e6, lang_eq, source_eq, len_eq, jac_hi,
           score_milli, decision
    FROM fs_dec
    """,
    doc=(
        "Fellegi-Sunter probabilistic record linkage over the banded-"
        "MinHash candidate pairs: per-pair agreement vector (lang, "
        "source, length band, jaccard>=0.5) scored by frozen integer "
        "log2-likelihood-ratio weights in milli-bits, banded into "
        "link / possible / non-link — the clerical-review triage table; "
        "bounded candidates + two doc_id equi-joins + map-only scoring"
    ),
)
def record_linkage_fs_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fs_scored(spark, sf_dir)


@register(
    "record_linkage_decision_summary",
    oracle=f"""
    WITH {_SQL_FS}
    SELECT decision,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(score_milli) AS BIGINT) AS min_score_milli,
           CAST(max(score_milli) AS BIGINT) AS max_score_milli,
           CAST(sum(jaccard_e6) // count(*) AS BIGINT) AS mean_jaccard_e6
    FROM fs_dec GROUP BY decision
    """,
    doc=(
        "decision-band summary of the Fellegi-Sunter linkage run: pair "
        "counts, score range and mean exact Jaccard per link/possible/"
        "non-link band — the one-look triage report (sizes the clerical "
        "queue); one map-side-combined groupBy on the 3-value key"
    ),
)
def record_linkage_decision_summary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    scored = _fs_scored(spark, sf_dir)
    return scored.groupBy("decision").agg(
        F.expr("CAST(count(1) AS BIGINT) AS n_pairs"),
        F.expr("CAST(min(score_milli) AS BIGINT) AS min_score_milli"),
        F.expr("CAST(max(score_milli) AS BIGINT) AS max_score_milli"),
        F.expr(
            "sum(jaccard_e6) div CAST(count(1) AS BIGINT)"
            " AS mean_jaccard_e6"
        ),
    )
