"""Unit tests for T6 (rule lemma/POS tagging, functions/pos.py) and the
scalable two-phase global index (operators/core.zip_with_global_index)."""

from __future__ import annotations

from pyspark.sql import functions as F

from algorithmproject_spark_spark.functions.pos import (
    _rule_lemma,
    _rule_tag,
    ss_lemmas,
    ss_pos_pattern_bigrams,
    ss_pos_tags,
)
from algorithmproject_spark_spark.functions.text import ss_tokenize
from algorithmproject_spark_spark.operators.core import (
    zip_with_global_index,
    zip_with_index,
)


def test_rule_lemma_closed_form():
    assert _rule_lemma("Stories") == "story"
    assert _rule_lemma("cats") == "cat"
    assert _rule_lemma("class") == "class"  # ss guard
    assert _rule_lemma("bus") == "bus"  # us guard
    assert _rule_lemma("this") == "this"  # is guard
    assert _rule_lemma("market's") == "market"


def test_rule_tag_closed_form():
    assert _rule_tag("the") == "XX"  # closed class
    assert _rule_tag("quickly") == "RB"
    assert _rule_tag("running") == "VB"
    assert _rule_tag("painted") == "VB"
    assert _rule_tag("famous") == "JJ"
    assert _rule_tag("economic") == "JJ"
    assert _rule_tag("market") == "NN"


def test_pos_pattern_bigrams_admission(spark):
    # famous(JJ) market(NN) grew(NN->? 'grew' -> NN) ; "famous market" JJ+NN kept
    df = spark.createDataFrame([("famous market index",)], ["text"])
    lem = ss_lemmas(ss_tokenize("text"))
    out = df.select(
        F.explode(F.expr(ss_pos_pattern_bigrams(lem, ss_pos_tags(lem)))).alias("g")
    ).collect()
    grams = [r.g for r in out]
    assert "famous market" in grams  # JJ+NN
    assert "market index" in grams  # NN+NN


def test_zip_with_global_index_matches_window_variant(spark):
    data = [(f"k{i:03d}", i % 7) for i in range(200)]
    df = spark.createDataFrame(data, ["k", "v"]).repartition(8)
    simple = {r.k: r.idx for r in zip_with_index(df, "k").collect()}
    scalable = {r.k: r.idx for r in zip_with_global_index(df, "k").collect()}
    assert scalable == simple
    assert sorted(scalable.values()) == list(range(200))


def test_zip_with_global_index_empty(spark):
    df = spark.createDataFrame([], "k string, v int")
    assert zip_with_global_index(df, "k").count() == 0
