"""TextRank keyword extraction — SURVEY.md §2.9 T10.

The reference builds one GLOBAL word co-occurrence graph per corpus
shard and runs GraphX ``pageRank(0.0001)``
(``label/keywordextractor/TextRank.scala:20-125``), collecting vertex
maps to the driver. PySpark has no GraphX; more importantly the
per-document graphs this workload actually needs are tiny (≤ a few
hundred vertices), so the Spark-correct shape is ``mapInPandas``:
one power iteration per input row, zero shuffle, zero cross-document
state, embarrassingly parallel.

The iteration is integer-exact — the same fixed-point scheme as
``corpus_pagerank`` (plans/pipelines.py): damping 17/20, truncating
integer division, a fixed iteration count. Python bigint arithmetic is
exact, so the kernel is bit-identical to a DuckDB BIGINT re-derivation
and the per-doc TextRank query is fully oracle-checked.

For a genuinely global graph (e.g. corpus-level word graph), see
``corpus_pagerank`` in ``plans/pipelines.py`` — a bounded-iteration
DataFrame join-agg loop, the distributed fallback.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from algorithmproject_spark_spark.functions.text import STOPWORDS

TR_SCALE = 10**12
TR_ITERS = 5
TR_WINDOW = 2


def textrank_scores_exact(
    tokens: list[str],
    stopwords: frozenset[str] = frozenset(STOPWORDS),
    window: int = TR_WINDOW,
    iterations: int = TR_ITERS,
    scale: int = TR_SCALE,
) -> dict[str, int]:
    """Fixed-point TextRank: all-integer update

        contrib(u→v) = rank_u * w_uv // out_w_u
        rank'_v      = base + (Σ contrib) * 17 // 20
        base         = (scale * 3 // 20) // n
    """
    words = [t for t in tokens if t not in stopwords]
    vocab: dict[str, int] = {}
    for w in words:
        vocab.setdefault(w, len(vocab))
    n = len(vocab)
    if n == 0:
        return {}
    weights: dict[tuple[int, int], int] = {}
    for i, w in enumerate(words):
        for j in range(i + 1, min(i + window + 1, len(words))):
            u, v = vocab[w], vocab[words[j]]
            if u == v:
                continue
            weights[(u, v)] = weights.get((u, v), 0) + 1
            weights[(v, u)] = weights.get((v, u), 0) + 1
    out_w = [0] * n
    for (u, _v), w in weights.items():
        out_w[u] += w
    base = (scale * 3 // 20) // n
    ranks = [scale // n] * n
    for _ in range(iterations):
        acc = [0] * n
        for (u, v), w in weights.items():  # integer sums: order-free
            acc[v] += ranks[u] * w // out_w[u]
        ranks = [base + a * 17 // 20 for a in acc]
    return {w: ranks[i] for w, i in vocab.items()}


def extract_keywords_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 10,
) -> DataFrame:
    """(id, word, rank_fp, rk): integer-exact per-document TextRank via
    mapInPandas — embarrassingly parallel, zero shuffle, zero cross-doc
    state, and every output value reproducible bit-for-bit by any
    engine. (Not groupBy+applyInPandas: one doc per row means that
    would shuffle every doc into a 1-row group and pay per-group
    pandas/Arrow overhead per document.)"""
    sw = frozenset(STOPWORDS)

    def _batches(batches):  # type: ignore[no-untyped-def]
        import pandas as pd

        for pdf in batches:
            out: list[tuple[object, str, int, int]] = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                scores = textrank_scores_exact((text or "").split(), sw)
                ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
                out.extend(
                    (did, word, rank_fp, rk)
                    for rk, (word, rank_fp) in enumerate(ranked, start=1)
                )
            yield pd.DataFrame(out, columns=[id_col, "word", "rank_fp", "rk"])

    return df.select(id_col, text_col).mapInPandas(
        _batches, schema=f"{id_col} long, word string, rank_fp long, rk int"
    )
