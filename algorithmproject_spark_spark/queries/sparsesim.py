"""Sparse-vector similarity search — weighted posting-list top-k join.

The dense ANN family (operators/ann*.py) searches embedding space;
this is its SPARSE complement: documents as tf-weighted bags of
bigram terms, similarity = dot product of inverse-document-frequency
weighted vectors, computed with an inverted-index (posting-list)
self-join — the sparse retrieval architecture (BM25/TF-IDF engines)
re-expressed relationally:

1. term relation: (doc_id, gram, tf) from the shared portable bigram
   hashes — map-only;
2. document frequency per gram, then the DISCRIMINATIVE band
   ``2 <= df <= MAX_DF``: df=1 grams pair with nobody; high-df grams
   dominate Σdf² join cost while carrying ~no signal (their weight is
   ~tf/df → tiny). The cap is the recall/cost knob, same contract as
   ngram_jaccard (queries/dedup.py);
3. weight w_e3 = (tf * 1000) div df — exact integer "tf·idf" proxy,
   engine-portable (no log, no float);
4. candidate pairs via the posting self-join ON BOTH-SIDES-FILTERED
   postings (the round-4 verdict's lesson: an unfiltered b-side
   re-shuffles the whole relation for nothing), dot = Σ w_a·w_b,
   one keyed aggregation;
5. top-k per query doc by (dot desc, doc_b) window — per-doc state,
   never global.

Scale: posting join volume is Σ_g df(g)² over the capped band —
bounded by MAX_DF · Σ df, linear in corpus size for fixed cap. No
stage is all-pairs; the weights/df relations are gram-keyed aggs.

Reference parity: none — the reference's similarity ops are dense
(video_vec cosine against Milvus, video/MilvusSearch.scala); sparse
retrieval over text is a beyond-reference addition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from algorithmproject_spark_spark.cacheutil import tracked_cache
from algorithmproject_spark_spark.functions.hashing import (
    sql_gram_hash_array,
    sql_token_hash_array,
    ss_bind,
    ss_gram_hash_array,
    ss_token_hash_array,
)
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

MAX_DF = 12  # discriminative-band cap (recall/cost knob)
TOP_K = 5


def sparse_topk_pairs(
    docs: DataFrame, max_df: int = MAX_DF, top_k: int = TOP_K
) -> DataFrame:
    """Per-doc top-k most-similar docs by integer tf·idf dot product:
    ``(doc_a, doc_b, n_shared, dot_e6, rank)`` (pairs both
    directions, so every doc gets its own ranked neighbor list)."""
    terms = docs.select(
        "doc_id",
        # one-parse text twin (r12): token fold bound once, same grams
        F.explode(
            F.expr(
                ss_bind(
                    ss_token_hash_array("split(text, ' ')"),
                    "th_",
                    ss_gram_hash_array("th_", 2),
                )
            )
        ).alias("g"),
    ).groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        terms.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_df))
    )
    # both join sides carry the df band filter — cache: the weighted
    # posting relation feeds the a-side AND the b-side
    posts = (
        terms.join(dfreq, "g")
        .select(
            "doc_id",
            "g",
            F.expr("tf * 1000 div df").alias("w"),
        )
    )
    posts = tracked_cache(posts)
    a = posts.select(
        F.col("doc_id").alias("doc_a"), "g", F.col("w").alias("wa")
    )
    b = posts.select(
        F.col("doc_id").alias("doc_b"), "g", F.col("w").alias("wb")
    )
    pairs = (
        a.join(b, "g")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.sum(F.col("wa") * F.col("wb")).alias("dot_e6"),
        )
    )
    w = Window.partitionBy("doc_a").orderBy(
        F.col("dot_e6").desc(), F.col("doc_b")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("doc_a", "doc_b", "n_shared", "dot_e6", "rank")
    )


def _sql_sparse_topk(max_df: int = MAX_DF, top_k: int = TOP_K) -> str:
    th = sql_token_hash_array("string_split(text, chr(32))")
    return f"""
    WITH ss_g AS (
        SELECT doc_id, unnest({sql_gram_hash_array('th', 2)}) AS g
        FROM (SELECT doc_id, {th} AS th FROM documents)
    ),
    ss_tf AS (
        SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS tf
        FROM ss_g GROUP BY doc_id, g
    ),
    ss_df AS (
        SELECT g, COUNT(*) AS df FROM ss_tf GROUP BY g
        HAVING COUNT(*) BETWEEN 2 AND {max_df}
    ),
    ss_posts AS (
        SELECT t.doc_id, t.g, (t.tf * 1000) // d.df AS w
        FROM ss_tf t JOIN ss_df d USING (g)
    ),
    ss_pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared,
               CAST(SUM(a.w * b.w) AS BIGINT) AS dot_e6
        FROM ss_posts a JOIN ss_posts b
          ON a.g = b.g AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    ss_ranked AS (
        SELECT doc_a, doc_b, n_shared, dot_e6,
               CAST(row_number() OVER (
                   PARTITION BY doc_a ORDER BY dot_e6 DESC, doc_b
               ) AS INTEGER) AS rank
        FROM ss_pairs
    )
    SELECT doc_a, doc_b, n_shared, dot_e6, rank
    FROM ss_ranked WHERE rank <= {top_k}
    """


@register(
    "sparse_tfidf_topk_pairs",
    oracle=_sql_sparse_topk(),
    doc="Sparse retrieval: per-doc top-5 neighbors by exact "
    "integer tf·idf bigram dot product via a df-banded "
    "(2..12) posting-list self-join — both join sides carry "
    "the band filter, shared-term count and scaled dot "
    "returned, deterministic (dot desc, doc_b) tiebreak",
)
def sparse_tfidf_topk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sparse_topk_pairs(load_table(spark, sf_dir, "documents"))
