"""Split leakage audit (queries/llmprep.py) and vocabulary richness
estimates (queries/corpusstats.py)."""

from __future__ import annotations

from algorithmproject_spark_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def test_split_leakage_consistent_with_parts(spark):
    """The audit's per-combination counts must recompose from the pair
    relation and the split assignment computed independently."""
    from pyspark.sql import functions as F

    from algorithmproject_spark_spark.functions.numeric import ss_hash_mod
    from algorithmproject_spark_spark.queries.dedup import (
        jaccard_pairs_above,
    )
    from algorithmproject_spark_spark.queries.llmprep import (
        SPLIT_MOD,
        SPLIT_TRAIN_LT,
        SPLIT_VAL_LT,
    )
    from algorithmproject_spark_spark.sources.catalog import load_table

    docs = load_table(spark, SF, "documents")
    bucket = F.expr(ss_hash_mod("doc_id", SPLIT_MOD))
    split_col = (
        F.when(bucket < SPLIT_TRAIN_LT, F.lit("train"))
        .when(bucket < SPLIT_VAL_LT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    splits = {
        r["doc_id"]: r["s"]
        for r in docs.select("doc_id", split_col.alias("s")).collect()
    }
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in jaccard_pairs_above(spark, SF).collect()
    ]
    want: dict[tuple[str, str], int] = {}
    for a, b in pairs:
        key = tuple(sorted((splits[a], splits[b])))
        want[key] = want.get(key, 0) + 1
    got = {
        (r["split_lo"], r["split_hi"]): (r["n_pairs"], r["is_cross_split"])
        for r in REGISTRY["split_leakage_audit"].fn(spark, SF).collect()
    }
    assert {k: v[0] for k, v in got.items()} == want
    for (lo, hi), (_, cross) in got.items():
        assert cross == (1 if lo != hi else 0)
    # the fixture plants near-dups uniformly over doc_ids, so with an
    # 80/10/10 hash split SOME pair should cross — the audit must be
    # exercised, not vacuously empty
    assert sum(v for k, v in want.items() if k[0] != k[1]) > 0


def test_vocab_richness_matches_python(spark):
    from collections import Counter

    from algorithmproject_spark_spark.sources.catalog import load_table

    texts = [
        r["text"] for r in load_table(spark, SF, "documents").collect()
    ]
    tf = Counter(t for x in texts for t in x.split(" "))
    v = len(tf)
    n = sum(tf.values())
    f1 = sum(1 for c in tf.values() if c == 1)
    f2 = sum(1 for c in tf.values() if c == 2)
    r = REGISTRY["vocab_richness_estimates"].fn(spark, SF).collect()[0]
    assert r["vocab"] == v
    assert r["n_tokens"] == n
    assert r["f1"] == f1
    assert r["f2"] == f2
    assert r["chao1_vocab_est"] == v + f1 * (f1 - 1) // (2 * (f2 + 1))
    q, rem = divmod(f1 * 1000, n)
    assert r["unseen_mass_ppm"] == q * 1000 + rem * 1000 // n
    # estimator sanity: Chao1 never estimates fewer species than seen
    assert r["chao1_vocab_est"] >= v
