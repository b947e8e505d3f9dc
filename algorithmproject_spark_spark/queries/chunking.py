"""Sliding-window document chunking — the RAG / embedding-index
segmenter.

Embedding pipelines split documents into fixed-width token windows
with overlap (stride < width) so no semantic boundary is lost to a
hard cut. Chunking is pure per-row array algebra here: a stride
sequence, one ``slice`` per chunk, ``posexplode`` — map-only, zero
shuffles, zero UDFs. The registered query emits the chunk catalog
(id, index, token count, portable content hash) rather than the chunk
text so the correctness artifact stays compact; downstream embedding
jobs consume the same slices.

Chunk contract (identical in both engines): one chunk per stride
start ``s ∈ {0, S, 2S, …}`` with ``s < n_tokens``, EXCLUDING starts
whose clamped chunk would be fully contained in the previous chunk
(``s + W - S ≥ n_tokens`` for ``s > 0``) — a subsumed tail chunk
indexes nothing new and would bloat a retrieval index by one
redundant entry per ~(W-S)/S of docs. The chunk is
``tokens[s : s+W]``, clamped at the tail.

Reference parity: none — the reference has no chunking; the nearest
is the repo's own CCNet-style ``doc_chunk_dedup`` (paragraph chunks);
this adds the token-window form used for retrieval indexing.

Oracle: DuckDB mirrors with ``range``/``list_slice``; the content
hash is the engine-portable char fold from functions/hashing.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.functions.hashing import (
    sql_char_fold_hash,
    ss_char_fold_hash,
)
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

CHUNK_W = 64  # tokens per chunk
CHUNK_S = 48  # stride (25% overlap)


def sliding_chunks(
    docs: DataFrame, width: int = CHUNK_W, stride: int = CHUNK_S
) -> DataFrame:
    """Chunk catalog ``(doc_id, chunk_idx, n_chunk_tokens,
    chunk_hash)`` for ``docs(doc_id, text)``."""
    toks: Column = F.split(F.col("text"), " ")
    n = F.size(toks)
    starts = F.filter(
        F.sequence(F.lit(0), n - F.lit(1), F.lit(stride)),
        # drop subsumed tails: for s > 0, a chunk adds new tokens iff
        # it extends past the previous chunk's end, i.e. s + W - S < n
        lambda s: (s == 0) | (s + F.lit(width - stride) < n),
    )
    chunks = F.transform(
        starts, lambda s: F.slice(toks, s + 1, width)
    )
    return docs.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk")
    ).select(
        "doc_id",
        "chunk_idx",
        F.size("chunk").cast("long").alias("n_chunk_tokens"),
        F.expr(ss_char_fold_hash("array_join(chunk, ' ')")).alias("chunk_hash"),
    )


def _sql_sliding_chunks(width: int = CHUNK_W, stride: int = CHUNK_S) -> str:
    toks = "string_split(text, chr(32))"
    starts = (
        f"list_filter(range(0, len({toks}), {stride}), "
        f"s_ -> s_ = 0 OR s_ + {width - stride} < len({toks}))"
    )
    chunks = (
        f"list_transform({starts}, "
        f"s_ -> list_slice({toks}, s_ + 1, s_ + {width}))"
    )
    return f"""
    WITH ck AS (SELECT doc_id, {chunks} AS cl FROM documents)
    SELECT doc_id,
           CAST(i AS BIGINT) - 1 AS chunk_idx,
           CAST(len(cl[i]) AS BIGINT) AS n_chunk_tokens,
           {sql_char_fold_hash("array_to_string(cl[i], chr(32))")} AS chunk_hash
    FROM ck, LATERAL (SELECT unnest(range(1, len(cl) + 1)) AS i) u
    """


@register(
    "doc_sliding_chunks",
    oracle=_sql_sliding_chunks(),
    doc="Sliding-window chunk catalog (64-token chunks, stride 48): "
    "map-only array algebra, portable per-chunk content hash",
)
def doc_sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_chunks(load_table(spark, sf_dir, "documents"))
