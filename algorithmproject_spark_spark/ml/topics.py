"""Topic modeling & embeddings training — SURVEY.md §2.9 T15/T17.

Reference: ``nlp/NewsLDAModel.scala:50-115`` (ml LDA, online optimizer,
describeTopics/transform) and ``nlp/Word2vecProcess.scala:24-32``
(ml Word2Vec dim=10). Both are pyspark.ml estimators here; outputs are
seeded but float-iterative, so the registered queries are rows-only
(SURVEY.md §5 item 3) with shape/validity invariants asserted in
``tests/test_topics.py`` — topic weights sum to 1, vocab size bounds,
similarity range.
"""

from __future__ import annotations

from pyspark.ml.clustering import LDA
from pyspark.ml.feature import CountVectorizer, Word2Vec
from pyspark.sql import DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.functions.text import ss_stopword_array, ss_tokenize
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

SEED = 42


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id",
        f"array_except({ss_tokenize('text')}, {ss_stopword_array()}) AS tokens",
    )


def fit_lda(
    tokens: DataFrame, k: int = 5, max_iter: int = 10, vocab_size: int = 2048
):
    """(model tuple) CountVectorizer + online LDA, both seeded; all
    three slots are None for an EMPTY corpus (pyspark.ml LDA aborts on
    an empty collection — edge-sweep crash class, same guard family as
    annivf.kmeans_cells).

    Online optimizer (NewsLDAModel.scala:50 uses the same) scales as
    mini-batch passes — no full-corpus materialization per iteration.
    The emptiness probe is limit(1) — O(1), not a corpus count.
    """
    if tokens.limit(1).count() == 0:
        return None, None, None
    cv = CountVectorizer(
        inputCol="tokens", outputCol="features", vocabSize=vocab_size, minDF=2.0
    )
    cv_model = cv.fit(tokens)
    vectors = cv_model.transform(tokens)
    lda = LDA(k=k, maxIter=max_iter, seed=SEED, optimizer="online")
    lda_model = lda.fit(vectors)
    return cv_model, lda_model, vectors


@register(
    "lda_doc_topics",
    plan=("arrow",),
    oracle=None,  # seeded but float-iterative ML — rows-only; invariants in tests/test_topics.py
    doc="T15: online LDA k=5 over CountVectorizer counts; dominant topic "
    "per doc (rows = n_docs, deterministic)",
)
def lda_doc_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    tokens = _doc_tokens(spark, sf_dir)
    _cv, lda_model, vectors = fit_lda(tokens)
    if lda_model is None:  # empty corpus — degrade, don't crash
        return spark.createDataFrame([], "doc_id bigint, topic int")
    dist = lda_model.transform(vectors)
    # dominant topic = argmax of topicDistribution (a vector column);
    # vector_to_array keeps it in native expressions, no UDF.
    from pyspark.ml.functions import vector_to_array

    arr = vector_to_array(F.col("topicDistribution"))
    return dist.select(
        "doc_id",
        (F.array_position(arr, F.array_max(arr)) - 1).cast("int").alias("topic"),
    )


@register(
    "lda_topics_described",
    plan=("arrow", "global_sort",),
    oracle=None,  # seeded but float-iterative ML — rows-only
    doc="T15: describeTopics(10) — top-10 terms + weights per topic "
    "(NewsLDAModel.scala:50-115 model-output surface)",
)
def lda_topics_described(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-output parity with ``nlp/NewsLDAModel.scala:50-115``: the
    reference prints describeTopics(10) and log-likelihood/perplexity;
    here the topic description is a first-class DataFrame. Term indices
    resolve to words via a broadcast join against the CountVectorizer
    vocabulary (bounded by vocab_size — a dimension table, not data)."""
    tokens = _doc_tokens(spark, sf_dir)
    cv_model, lda_model, _vectors = fit_lda(tokens)
    if lda_model is None:  # empty corpus — degrade, don't crash
        return spark.createDataFrame(
            [], "topic int, rk int, term string, weight double"
        )
    topics = lda_model.describeTopics(10)
    vocab = spark.createDataFrame(
        list(enumerate(cv_model.vocabulary)), "term_idx int, term string"
    )
    z = topics.select(
        "topic",
        F.posexplode(F.arrays_zip("termIndices", "termWeights")).alias("rk0", "z"),
    )
    exploded = z.select(
        "topic",
        (F.col("rk0") + 1).cast("int").alias("rk"),
        F.col("z.termIndices").cast("int").alias("term_idx"),
        F.col("z.termWeights").alias("weight"),
    )
    return (
        exploded.join(F.broadcast(vocab), "term_idx")
        .select("topic", "rk", "term", "weight")
        .orderBy("topic", "rk")
    )


@register(
    "word2vec_neighbors",
    plan=("arrow",),
    oracle=None,  # seeded but float-iterative ML — rows-only
    doc="T17: Word2Vec dim=10; top-5 synonyms of the corpus's most "
    "frequent token (anchor chosen from data, deterministic)",
)
def word2vec_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    tokens = _doc_tokens(spark, sf_dir)
    # Word2Vec aborts when minCount=2 empties the vocabulary (empty or
    # near-empty corpus — edge-sweep crash class). The probe doubles as
    # the anchor computation: most-frequent token with count >= 2.
    top = (
        tokens.select(F.explode("tokens").alias("w"))
        .groupBy("w")
        .count()
        .filter(F.col("count") >= 2)
        .orderBy(F.desc("count"), F.asc("w"))
        .first()
    )
    if top is None:
        return spark.createDataFrame(
            [], "anchor string, word string, similarity double"
        )
    anchor = top[0]
    w2v = Word2Vec(
        vectorSize=10,
        minCount=2,
        seed=SEED,
        inputCol="tokens",
        outputCol="vec",
        maxSentenceLength=100,  # Word2vecProcess.scala:28
    )
    model = w2v.fit(tokens)
    return model.findSynonyms(anchor, 5).select(
        F.lit(anchor).alias("anchor"), "word", "similarity"
    )
