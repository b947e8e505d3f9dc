"""Exact-value unit tests for the RAKE and TextRank kernels
(SURVEY.md §5 item 2: closed-form fixtures for non-SQL kernels)."""

from __future__ import annotations

from algorithmproject_spark_spark.ml.rake import rake_phrases, rake_scores

SW = frozenset({"of", "the", "a", "and", "to", "in", "is"})


def test_rake_phrases_runs_and_truncation():
    # runs break at stopwords; a 4-token run truncates to 3 (max_phrase_len)
    text = "deep learning of the deep net. one two three four"
    assert rake_phrases(text, SW) == [
        ("deep", "learning"),
        ("deep", "net"),
        ("one", "two", "three"),
    ]


def test_rake_scores_closed_form():
    # freq: deep=2, learning=1, net=1 ; degree: deep=4, learning=2, net=2
    # score(deep learning) = 4/2 + 2/1 = 4.0 = score(deep net) → tie
    # broken by phrase text ascending.
    out = rake_scores("deep learning of the deep net", SW)
    assert out == [("deep learning", 4.0), ("deep net", 4.0)]


def test_rake_single_word_degree_includes_self():
    # one phrase ("spark",): freq=1, degree=1 → score 1.0
    assert rake_scores("the spark", SW) == [("spark", 1.0)]


def test_rake_empty_and_all_stopwords():
    assert rake_scores("", SW) == []
    assert rake_scores("the of and", SW) == []


def test_textrank_exact_symmetric_pair():
    from algorithmproject_spark_spark.ml.textrank import (
        TR_SCALE,
        textrank_scores_exact,
    )

    scores = textrank_scores_exact(["x", "y"], frozenset())
    # symmetric 2-node graph: ranks stay equal at the fixed point
    assert scores["x"] == scores["y"]
    assert 0 < scores["x"] <= TR_SCALE
    # stopwords never enter the graph
    scores = textrank_scores_exact(["the", "spark", "of", "flink"], SW)
    assert set(scores) == {"spark", "flink"}


def test_textrank_exact_hub_and_isolated():
    from algorithmproject_spark_spark.ml.textrank import textrank_scores_exact

    # a and b are graph-symmetric (both: weight-2 edge to each other,
    # weight-1 edge to c); c is the periphery and must rank lower
    scores = textrank_scores_exact(["a", "b", "a", "c"], frozenset())
    assert scores["a"] == scores["b"] > scores["c"]
    solo = textrank_scores_exact(["only"], frozenset())
    # single-node doc: rank collapses to the teleport base
    assert solo == {"only": (10**12 * 3 // 20)}


def test_hashed_tfidf_agrees_with_exact_path(spark):
    """At a collision-free vocab, feature hashing must not change any
    score: per doc, the top-5 score multiset of the hashed path equals
    the exact-string path's."""
    from pyspark.sql import functions as F

    from algorithmproject_spark_spark.functions.hashing import ss_char_fold_hash
    from algorithmproject_spark_spark.queries.text import (
        TFIDF_NUM_FEATURES,
        hashed_tfidf,
        tfidf_top_terms,
    )
    from algorithmproject_spark_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    # precondition: the fixture vocab actually is collision-free at 2^18
    words = docs.select(F.explode(F.split("text", " ")).alias("w")).distinct()
    hashed = words.select(F.expr(f"{ss_char_fold_hash('w')} % {TFIDF_NUM_FEATURES}").alias("h"))
    assert hashed.distinct().count() == words.count()

    def per_doc(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.doc_id, []).append(r.score_e6)
        return {k: sorted(v) for k, v in out.items()}

    assert per_doc(hashed_tfidf(docs)) == per_doc(tfidf_top_terms(spark, sf))
