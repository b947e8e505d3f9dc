"""T6 POS-pattern parity (VERDICT r10 #5): enumerate every Penn-tagset
tag pair and check that the engine's ALLOWED_POS_PAIRS prefix test
decides EXACTLY like the reference's ``pos.contains(...)`` predicate
(AppsTextCoreNLPTokens.scala:144, SearchWordCoreNLPTokens.scala:126,
URLTextCoreNLPTokens.scala:235, PrepProcess.scala:256-278)."""

from __future__ import annotations

from pyspark.sql import functions as F

from algorithmproject_spark_spark.functions.pos import (
    ALLOWED_POS_PAIRS,
    ALLOWED_POS_UNI,
    _rule_lemma,
    _rule_tag,
    ss_lemmas,
    ss_pos_pattern_bigrams,
    ss_pos_pattern_unigrams,
    ss_pos_tags,
)

# The full Penn Treebank tagset (public; Marcus et al. 1993) plus the
# engine's synthetic XX (closed-class drop).
PENN = [
    "CC", "CD", "DT", "EX", "FW", "IN", "JJ", "JJR", "JJS", "LS", "MD",
    "NN", "NNS", "NNP", "NNPS", "PDT", "POS", "PRP", "PRP$", "RB",
    "RBR", "RBS", "RP", "SYM", "TO", "UH", "VB", "VBD", "VBG", "VBN",
    "VBP", "VBZ", "WDT", "WP", "WP$", "WRB", "XX",
]


def _ref_pair_accepts(pos0: str, pos1: str) -> bool:
    """The reference predicate, verbatim: contains() over full tags."""
    return (
        ("NN" in pos0 and "NN" in pos1)
        or ("VB" in pos0 and "NN" in pos1)
        or ("NN" in pos0 and "VB" in pos1)
        or ("JJ" in pos0 and "NN" in pos1)
    )


def _ref_uni_accepts(pos: str) -> bool:
    """Unigram list output keeps NN/JJ only (the 2017-04-24 filter;
    AppsTextCoreNLPTokens.scala:154, PrepProcess.scala:288)."""
    return "NN" in pos or "JJ" in pos


def _engine_pair_accepts(pos0: str, pos1: str) -> bool:
    return f"{pos0[:2]}+{pos1[:2]}" in ALLOWED_POS_PAIRS


def test_pair_list_matches_reference_over_full_penn_tagset():
    mismatches = [
        (a, b)
        for a in PENN
        for b in PENN
        if _ref_pair_accepts(a, b) != _engine_pair_accepts(a, b)
    ]
    assert mismatches == []
    # the list is exactly the reference's four pairs, no more
    assert set(ALLOWED_POS_PAIRS) == {"NN+NN", "VB+NN", "NN+VB", "JJ+NN"}


def test_uni_list_matches_reference_over_full_penn_tagset():
    mismatches = [
        a for a in PENN if _ref_uni_accepts(a) != (a[:2] in ALLOWED_POS_UNI)
    ]
    assert mismatches == []
    assert set(ALLOWED_POS_UNI) == {"NN", "JJ"}


def test_contains_equals_prefix_on_penn():
    """The reference's contains() test never fires mid-tag on the Penn
    tagset — the property that licenses the engine's 2-letter prefix
    encoding."""
    for tag in PENN:
        for cls in ("NN", "VB", "JJ"):
            assert (cls in tag) == tag.startswith(cls), (tag, cls)


def test_nn_vb_pair_now_admitted(spark):
    """The round-10 gap: (NN, VB) bigrams — e.g. 'team managed' — were
    dropped; the reference admits them (名词+动词)."""
    df = spark.createDataFrame(
        [("cloud computing", ), ("team managed", ), ("managed team", ),
         ("pretty quickly", )],
        ["text"],
    )
    lem = ss_lemmas("split(text, ' ')")
    out = df.select(
        F.expr(ss_pos_pattern_bigrams(lem, ss_pos_tags(lem))).alias("grams")
    ).collect()
    got = [r.grams for r in out]
    assert got[0] == ["cloud computing"]  # NN+VB (computing tags VB)
    assert got[1] == ["team managed"]  # NN+VB — the restored pair
    assert got[2] == ["managed team"]  # VB+NN
    assert got[3] == []  # RB tail rejected


def test_unigram_list_has_runtime_consumer(spark):
    """ADVICE r11: ALLOWED_POS_UNI must be APPLIED, not just
    parity-tested — the registered unigram query's admission equals the
    reference predicate over the full tagset, and VB lemmas (admitted
    by the bigram list) are absent from its output by construction."""
    # engine prefix test == reference contains() over the full tagset
    for tag in PENN:
        assert (tag[:2] in ALLOWED_POS_UNI) == _ref_uni_accepts(tag), tag

    df = spark.createDataFrame(
        [(["house", "running", "beautiful", "the"],
          ["NN", "VB", "JJ", "XX"])],
        "lem array<string>, tag array<string>",
    )
    out = df.select(
        F.expr(ss_pos_pattern_unigrams("lem", "tag")).alias("u")
    ).collect()[0].u
    assert out == ["house", "beautiful"]  # NN + JJ kept, VB/XX dropped


def test_rule_path_kernel_matches_catalyst_twin(spark):
    """The Python rule reference (_rule_lemma/_rule_tag) equals the
    Catalyst lemma+tag kernels on every token of the sample sentences
    (plural/possessive/-ies lemmas, every tag class)."""
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "cats are running quickly",
        "Famous markets painted quickly the economic stories",
        "class bus this market's",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = (
        df.select(F.expr(ss_lemmas("split(text, ' ')")).alias("lem"))
        .withColumn("tag", F.expr(ss_pos_tags("lem")))
        .collect()
    )
    for t, r in zip(texts, rows):
        lems = [_rule_lemma(w) for w in t.split(" ")]
        assert lems == list(r.lem)
        assert [_rule_tag(lem) for lem in lems] == list(r.tag)
