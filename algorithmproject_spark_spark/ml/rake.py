"""RAKE keyword extraction — SURVEY.md §2.9 T11.

Re-implements the reference's RAKE family
(``label/searchword/SearchwordLabelRake.scala:14-124``,
``label/apptext/AppsTextLabelRake.scala``, ``label/url/URLTextLabelRake.scala``)
as an Arrow-vectorized pandas UDF: the algorithm is strictly per-row
(sentence split → stopword-delimited candidate phrases → word
degree/frequency scores → phrase score = Σ word scores), so it needs no
shuffle and parallelizes embarrassingly — the correct Spark shape for a
per-document kernel, per the UDF ladder in SURVEY.md §4.

Scores are closed-form rationals (deg/freq sums), so unit tests assert
exact values.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import ArrayType, DoubleType, StringType, StructField, StructType

from algorithmproject_spark_spark.functions.text import STOPWORDS

_SENTENCE_SPLIT = re.compile(r"[.!?,;:\t\n\r\"()\[\]]+")

_RESULT_TYPE = ArrayType(
    StructType(
        [
            StructField("phrase", StringType()),
            StructField("score", DoubleType()),
        ]
    )
)


def rake_phrases(
    text: str,
    stopwords: frozenset[str],
    max_phrase_len: int = 3,
) -> list[tuple[str, ...]]:
    """Candidate phrases: maximal stopword-free token runs per sentence,
    truncated at ``max_phrase_len`` (the reference caps at 2 words —
    SearchwordLabelRake.scala:29)."""
    phrases: list[tuple[str, ...]] = []
    for sentence in _SENTENCE_SPLIT.split(text.lower()):
        run: list[str] = []
        for tok in sentence.split():
            if tok in stopwords:
                if run:
                    phrases.append(tuple(run[:max_phrase_len]))
                    run = []
            else:
                run.append(tok)
        if run:
            phrases.append(tuple(run[:max_phrase_len]))
    return phrases


def rake_scores(
    text: str,
    stopwords: frozenset[str],
    max_phrase_len: int = 3,
    top_k: int = 10,
) -> list[tuple[str, float]]:
    """deg/freq word scores → phrase scores → deterministic top-k
    (score desc, phrase asc)."""
    phrases = rake_phrases(text, stopwords, max_phrase_len)
    freq: dict[str, int] = {}
    degree: dict[str, int] = {}
    for ph in phrases:
        for w in ph:
            freq[w] = freq.get(w, 0) + 1
            degree[w] = degree.get(w, 0) + len(ph)  # includes self
    scored: dict[str, float] = {}
    for ph in phrases:
        key = " ".join(ph)
        if key not in scored:
            scored[key] = sum(degree[w] / freq[w] for w in ph)
    ranked = sorted(scored.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[:top_k]


def rake_keywords_col(
    text: str,
    stopwords: tuple[str, ...] = STOPWORDS,
    max_phrase_len: int = 3,
    top_k: int = 10,
) -> Column:
    """array<struct<phrase, score>> of RAKE keywords of column ``text``."""
    sw = frozenset(stopwords)

    @F.pandas_udf(_RESULT_TYPE)
    def _rake(s):  # type: ignore[no-untyped-def]
        return s.map(lambda t: rake_scores(t or "", sw, max_phrase_len, top_k))

    return _rake(text)


def extract_keywords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 10,
) -> DataFrame:
    """(id, phrase, score_e6, rank) — exploded, deterministic order."""
    kw = df.select(
        F.col(id_col), F.posexplode(rake_keywords_col(text_col, top_k=top_k)).alias("rank0", "kw")
    )
    return kw.select(
        id_col,
        F.col("kw.phrase").alias("phrase"),
        F.floor(F.col("kw.score") * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias("score_e6"),
        (F.col("rank0") + 1).alias("rank"),
    )
