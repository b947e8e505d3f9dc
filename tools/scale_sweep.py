"""Empirical scaling sweep for the heavy dedup/decontamination plans.

Builds scaled `documents` corpora by tiling sf0.1 (5k docs) with a
per-copy token remap — every copy is content-unique (no cross-copy
shingle collisions), so the natural near-dup cluster STRUCTURE repeats
per copy: cluster count grows linearly with n while cluster size stays
fixed, which is exactly the workload shape the linear-scaling claim is
about. A corpus built by naive duplication instead grows cluster sizes
with n and any LSH pair join goes quadratic by construction — that
would measure the corpus, not the plan.

Usage: python tools/scale_sweep.py [query ...]   (default: both)
Writes scaled tables under /tmp/spark_graft_sweep/n{N}/ and prints a
per-size timing table plus the fitted scaling exponent
log(t2/t1)/log(n2/n1) between successive sizes.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from algorithmproject_spark_spark.queries import REGISTRY
from algorithmproject_spark_spark.session import get_spark

BASE = "/root/testdata/sf0.1"
SWEEP_DIR = "/tmp/spark_graft_sweep"
BASE_N = 5_000
SIZES = (5_000, 20_000, 80_000)
QUERIES = (
    "dedup_cluster_reps",
    "doc_benchmark_contamination",
    "doc_chunk_dedup",
    "corpus_shard_shuffle",
    "ngram_jaccard_index_pairs",
    # round-5 additions: sketch counters and the §3.2 composite
    "words_countmin_estimates",
    "user_label_pipeline",
    # round-5: new-batch-vs-historical LSH probe — per-batch cost must
    # stay linear as the corpus (both splits) grows
    "incremental_near_dup_ingest",
    # round-5: BPE learning — per round one O(tokens) pair shuffle +
    # a map-only merge; rounds are fixed, so total cost must be linear
    "bpe_merge_induction",
    # round-5 late additions. Span dedup: the token-window relation is
    # linear in corpus tokens; copies are content-unique so the
    # duplicated fraction stays constant — cost must be linear.
    # Graph ops: near-dup cluster structure repeats per copy (edge
    # count linear, degree bounded), so triangle wedges and peel
    # rounds must be linear too. Itemsets: per-doc frequent-bag sizes
    # are corpus-independent (relative support), linear. URL
    # canonicalize: map-only, the sanity row.
    "doc_dup_span_stats",
    "dedup_triangle_counts",
    "dedup_kcore_members",
    "token_cooccurrence_pairs",
    "url_canonicalize_collapse",
    # round-5 continuation: map-only chunker (sanity row), the
    # one-plan curation composite (every stage linear), and the
    # hash-deterministic mask generator (position relation linear in
    # corpus tokens, one per-doc islands window)
    "doc_sliding_chunks",
    "pretrain_corpus_pipeline",
    "doc_corruption_mask_stats",
    # round-6 additions. Drift: one (tok, side) keyed count, vocab
    # grows linearly under the token remap — linear. Sparse top-k:
    # per-copy bigram vocab is disjoint, so the df-banded posting join
    # volume is Σdf² with fixed df profile per copy — linear. Z-order:
    # map-only rank/interleave + one ≤256-group aggregate over tiled
    # events — linear, flat-ish (scan-dominated).
    "corpus_token_drift",
    "sparse_tfidf_topk_pairs",
    "zorder_pruning_stats",
    # round-6 continuation. Golden records: pair relation + CC loop
    # both linear under content-unique tiling (cluster structure
    # repeats per copy). Anomaly twin / CEP: two keyed window passes
    # over tiled events — linear, per-user frame state. Vocab
    # coverage + drift cousins: vocab-sized relations.
    "dedup_golden_records",
    "stream_anomaly_batch_twin",
    "events_error_burst_recovery",
    "vocab_coverage_curve",
)

# user_label_pipeline joins events; tile them alongside documents with
# per-copy user/event id offsets so interactions-per-user stay constant
# while the corpus grows (the realistic growth mode).
BASE_EVENTS = 100_000
BASE_USERS = 1_000_000_000  # offset stride, far above any real user_id


def build_corpus(spark, n_docs: int) -> str:
    out = os.path.join(SWEEP_DIR, f"n{n_docs}")
    path = os.path.join(out, "documents.parquet")
    if os.path.exists(path):
        return out
    copies = n_docs // BASE_N
    base = spark.read.parquet(os.path.join(BASE, "documents.parquet"))
    tiled = None
    for k in range(copies):
        remap = base.select(
            (F.col("doc_id") + F.lit(k * BASE_N)).alias("doc_id"),
            # token remap: suffix every token for copies > 0 so copies
            # share no shingles with each other or the original
            (
                F.col("text")
                if k == 0
                else F.array_join(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda t: F.concat(t, F.lit(f"_{k}")),
                    ),
                    " ",
                )
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        tiled = remap if tiled is None else tiled.unionAll(remap)
    tiled.write.mode("overwrite").parquet(path)

    ev_path = os.path.join(out, "events.parquet")
    base_ev = spark.read.parquet(os.path.join(BASE, "events.parquet"))
    ev_tiled = None
    for k in range(copies):
        remap = base_ev.withColumn(
            "event_id", F.col("event_id") + F.lit(k * BASE_EVENTS)
        ).withColumn("user_id", F.col("user_id") + F.lit(k * BASE_USERS))
        ev_tiled = remap if ev_tiled is None else ev_tiled.unionAll(remap)
    ev_tiled.write.mode("overwrite").parquet(ev_path)
    return out


# Fact-table sweep: cdc_merge_apply (customer+orders) and the salted
# join (lineitem+orders), tiled by key offsets — every copy is a
# distinct key range, so group/join cardinalities grow linearly.
FACT_BASE = {"orders": 150_000 * 10, "lineitem": 150_000 * 10, "customer": 150_000 * 10}
FACT_SIZES = (1, 4, 16)  # tiling factors over sf0.1
FACT_QUERIES = (
    "cdc_merge_apply",
    "salted_join_order_priority",
    # round-5 TPC-H correlated shapes: orders tile by key range
    # (order count grows), parts/suppliers stay fixed — so per-part
    # line counts and per-supplier order counts grow linearly, the
    # realistic growth mode for the re-aggregation joins these compile
    # to (q17's per-part avg, q21's per-order supplier stats, q13's
    # per-customer order counts)
    "q13_customer_distribution",
    "q17_small_quantity_revenue",
    "q21_sole_returned_supplier",
    # round-5: keyed snapshot diff — one full-outer hash join, linear
    "orders_snapshot_diff",
    # round-6: Bloom prefilter — bitmap build is keyed agg over the
    # (fixed-rate) small side, probe map-only over tiled orders; cost
    # must track the big-side scan linearly. The key-offset tiling
    # also grows the inserted key set, so the sweep exercises filter
    # saturation (fp rate rises, correctness unaffected).
    "bloom_prefilter_join_stats",
    # round-6: one keyed count + one scalar agg — must track the scan
    "join_blowup_estimate",
)
# Dimension tables the TPC-H shapes read alongside the tiled facts —
# copied through unchanged (fixed-size dims are the 100 TB reality).
FACT_DIMS = ("supplier", "nation", "region", "part")


def build_fact_corpus(spark, copies: int) -> str:
    out = os.path.join(SWEEP_DIR, f"fact{copies}")
    done = os.path.join(out, "lineitem.parquet")
    if os.path.exists(done):
        return out
    keycols = {
        "orders": ("o_orderkey", "o_custkey"),
        "lineitem": ("l_orderkey",),
        "customer": ("c_custkey",),
    }
    for table, cols in keycols.items():
        base = spark.read.parquet(os.path.join(BASE, f"{table}.parquet"))
        stride = FACT_BASE[table]
        tiled = None
        for k in range(copies):
            remap = base
            for c in cols:
                remap = remap.withColumn(c, F.col(c) + F.lit(k * stride))
            tiled = remap if tiled is None else tiled.unionAll(remap)
        tiled.write.mode("overwrite").parquet(os.path.join(out, f"{table}.parquet"))
    for table in FACT_DIMS:
        spark.read.parquet(os.path.join(BASE, f"{table}.parquet")).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, f"{table}.parquet"))
    return out


FUZZY_SIZES = (10_000, 40_000, 160_000)


def fuzzy_sweep(spark) -> None:
    """Edit-distance-1 join growth: synthetic zero-padded ids are the
    WORST case for deletion blocking (deleting a digit position
    collides many near-ids into one bucket), so this measures the
    candidate-volume risk directly, not a friendly corpus."""
    from algorithmproject_spark_spark.queries.fuzzy import edit1_pairs

    print("\nfuzzy edit1 sweep (synthetic u%06d names):")
    prev = None
    for n in FUZZY_SIZES:
        names = spark.range(n).selectExpr("format_string('u%06d', id) AS w")
        t0 = time.time()
        n_pairs = edit1_pairs(names, "w").count()
        sec = round(time.time() - t0, 2)
        exp = ""
        if prev:
            e = math.log(sec / prev[1]) / math.log(n / prev[0])
            exp = f"  exponent vs prev: {e:.2f}"
        print(f"  n={n:>7}  {sec:6.2f} s  pairs={n_pairs}{exp}")
        prev = (n, sec)


def sparse_df_sweep(spark) -> None:
    """MAX_DF sensitivity of the sparse retrieval posting join at fixed
    n=20k: the recall/cost knob, reported as runtime + ranked-pair
    yield per band cap (the sparse sibling of posting_df_sweep)."""
    from algorithmproject_spark_spark.queries.sparsesim import (
        sparse_topk_pairs,
    )
    from algorithmproject_spark_spark.sources.catalog import load_table

    sf_dir = build_corpus(spark, 20_000)
    docs = load_table(spark, sf_dir, "documents")
    print("\nsparse_tfidf MAX_DF sensitivity (n=20000):")
    for cap in (6, 12, 24, 48):
        t0 = time.time()
        n_pairs = sparse_topk_pairs(docs, max_df=cap).count()
        print(
            f"  df_cap={cap:>3}  {time.time() - t0:6.2f} s"
            f"  ranked_pairs={n_pairs}"
        )


def posting_df_sweep(spark) -> None:
    """MAX_POSTING_DF sensitivity at fixed n=20k: the recall/cost knob.
    Reports runtime and verified-pair yield per df cap."""
    from algorithmproject_spark_spark.queries.dedup import (
        ngram_jaccard_index_pairs,
    )

    sf_dir = build_corpus(spark, 20_000)
    print("\nngram_jaccard MAX_POSTING_DF sensitivity (n=20000):")
    for cap in (5, 10, 20, 40):
        t0 = time.time()
        pairs = ngram_jaccard_index_pairs(spark, sf_dir, max_posting_df=cap)
        n_pairs = pairs.count()
        print(
            f"  df_cap={cap:>3}  {time.time() - t0:6.2f} s"
            f"  verified_pairs={n_pairs}"
        )


EMB_BASE_N = 2_000
EMB_SIZES = (2_000, 8_000, 32_000)
EMB_QUERIES = (
    "ann_pq_adc_topk",
    "embedding_near_dup_pairs_scaled",
    "embedding_semantic_dedup_scaled",
)


def build_emb_corpus(spark, n_vecs: int) -> str:
    """Tile sf0.1 embeddings with new vec_ids and a per-copy
    deterministic jitter, so copies are distinct vectors (no planted
    exact dups — the sweep measures plan growth, not dup density)."""
    out = os.path.join(SWEEP_DIR, f"emb{n_vecs}")
    path = os.path.join(out, "embeddings.parquet")
    if os.path.exists(path):
        return out
    base = spark.read.parquet(os.path.join(BASE, "embeddings.parquet"))
    tiled = None
    for k in range(n_vecs // EMB_BASE_N):
        remap = base.select(
            (F.col("vec_id") + F.lit(k * EMB_BASE_N)).alias("vec_id"),
            "label",
            F.transform(
                F.col("embedding"), lambda x: x + F.lit(k * 1e-3)
            ).alias("embedding"),
        )
        tiled = remap if tiled is None else tiled.unionAll(remap)
    tiled.write.mode("overwrite").parquet(path)
    return out


def _emb_query(name):
    if name == "embedding_near_dup_pairs_scaled":
        # the registered query pins the sf0.01 oracle's signature width;
        # the scale path derives width from the corpus — sweep THAT.
        from algorithmproject_spark_spark.operators.annlsh import near_dup_pairs
        from algorithmproject_spark_spark.sources.catalog import load_table

        def fn(spark, sf_dir, n):
            emb = load_table(spark, sf_dir, "embeddings").select(
                "vec_id", "embedding"
            )
            return near_dup_pairs(emb, n_vectors=n)

        return fn
    if name == "embedding_semantic_dedup_scaled":
        # The registered query pins K_CELLS=8 for the oracle, so cell
        # SIZE grows with n and within-cell pairing would measure the
        # corpus, not the plan. Production SemDeDup grows the cluster
        # count with the corpus (bounded cell size); the sweep models
        # that with a hash refinement of the IVF cell to n/TARGET
        # subcells — the join shape (equi-join on the cell key, pairs
        # O(n · cell_size)) is exactly the production plan's.
        from algorithmproject_spark_spark.functions.numeric import ss_micros
        from algorithmproject_spark_spark.functions.vectors import (
            ss_dot,
            ss_norm,
            ss_to_double,
        )
        from algorithmproject_spark_spark.operators.annivf import cell_col
        from algorithmproject_spark_spark.queries.llmprep import SEMDEDUP_COS_E6
        from algorithmproject_spark_spark.sources.catalog import load_table

        TARGET_CELL = 250

        def fn(spark, sf_dir, n):
            emb = load_table(spark, sf_dir, "embeddings")
            n_sub = max(1, n // TARGET_CELL)
            cn = (
                emb.select(
                    "vec_id",
                    F.concat_ws(
                        ":",
                        cell_col("embedding").cast("string"),
                        F.pmod(F.xxhash64("vec_id"), F.lit(n_sub)).cast("string"),
                    ).alias("cell"),
                    F.expr(ss_to_double("embedding")).alias("we"),
                )
                .withColumn("nrm", F.expr(ss_norm("we")))
                .cache()
            )
            a = cn.select(
                F.col("vec_id").alias("a_id"), F.col("we").alias("a_we"),
                F.col("nrm").alias("a_n"), "cell",
            )
            b = cn.select(
                F.col("vec_id").alias("b_id"), F.col("we").alias("b_we"),
                F.col("nrm").alias("b_n"), "cell",
            )
            dropped = (
                a.join(b, "cell")
                .filter(F.col("a_id") < F.col("b_id"))
                .filter(
                    F.expr(ss_micros(f"{ss_dot('a_we', 'b_we')} / (a_n * b_n)"))
                    >= SEMDEDUP_COS_E6
                )
                .select(F.col("b_id").alias("vec_id"))
                .distinct()
            )
            return cn.join(
                dropped.withColumn("__d", F.lit(1)), "vec_id", "left"
            ).select(
                "vec_id",
                "cell",
                F.when(F.col("__d").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("kept"),
            )

        return fn
    return lambda spark, sf_dir, n: REGISTRY[name].fn(spark, sf_dir)


def _report(results) -> None:
    for name, rows in results.items():
        print(f"\n{name}:")
        prev = None
        for n, sec in rows:
            exp = ""
            if prev is not None:
                e = math.log(sec / prev[1]) / math.log(n / prev[0])
                exp = f"  exponent vs prev: {e:.2f}"
            print(f"  n={n:>6}  {sec:6.2f} s{exp}")
            prev = (n, sec)


def main() -> None:
    names = sys.argv[1:] or (
        list(QUERIES) + list(EMB_QUERIES) + list(FACT_QUERIES) + ["posting_df"]
    )
    spark = get_spark("scale-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(100).count()  # session warmup, as in bench.py

    doc_names = [n for n in names if n in QUERIES]
    emb_names = [n for n in names if n in EMB_QUERIES]
    fact_names = [n for n in names if n in FACT_QUERIES]
    results: dict[str, list[tuple[int, float]]] = {
        n: [] for n in names if n != "posting_df"
    }
    for n_docs in SIZES if doc_names else ():
        sf_dir = build_corpus(spark, n_docs)
        for name in doc_names:
            t0 = time.time()
            REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            results[name].append((n_docs, round(time.time() - t0, 2)))
    for n_vecs in EMB_SIZES if emb_names else ():
        sf_dir = build_emb_corpus(spark, n_vecs)
        for name in emb_names:
            t0 = time.time()
            _emb_query(name)(spark, sf_dir, n_vecs).write.format("noop").mode(
                "overwrite"
            ).save()
            results[name].append((n_vecs, round(time.time() - t0, 2)))
    for copies in FACT_SIZES if fact_names else ():
        sf_dir = build_fact_corpus(spark, copies)
        for name in fact_names:
            t0 = time.time()
            REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            results[name].append(
                (copies * 150_000, round(time.time() - t0, 2))
            )

    _report(results)
    if "sparse_df" in names:
        sparse_df_sweep(spark)
    if "posting_df" in names:
        posting_df_sweep(spark)
    if "fuzzy" in names:
        fuzzy_sweep(spark)
    shutil.rmtree(SWEEP_DIR, ignore_errors=True)


if __name__ == "__main__":
    main()
