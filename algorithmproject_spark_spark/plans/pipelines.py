"""Composed pipelines — SURVEY.md §3 topologies as single logical plans.

The reference runs its flagship article flow as 3 separate
spark-submit jobs with parquet handoffs between them
(``mongodb/ReadMongodb.scala`` → ``ArticleInfoProcess.scala`` →
``WriteMongodb.scala``) and OUTSOURCES near-dup to an external tool
(``ArticleInfoProcess.scala:184-191``). Here the whole §3.1 topology is
one Catalyst plan: dedup → near-dup anti-join → quality filter →
per-class quota — so the optimizer sees all stages at once (shared
scans, pushed filters, one shuffle per logical re-key) and nothing
round-trips through disk between stages.

Also hosts the distributed bounded-iteration PageRank
(``corpus_pagerank``) that replaces GraphX
(``label/keywordextractor/TextRank.scala:44-50``) for corpus-scale
graphs, and the T16 LDA corpus prep
(``nlp/LightldaPreProcess.scala:136-279``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import Window as W

from algorithmproject_spark_spark.cacheutil import (
    tracked_cache,
    tracked_lazy_local_checkpoint,
    tracked_local_checkpoint,
)
from algorithmproject_spark_spark.functions.text import (
    sql_stopword_list,
    ss_stopword_array,
    ss_str_array,
    ss_tokenize,
)
from algorithmproject_spark_spark.functions.htmlops import (
    sql_html_to_text,
    sql_tag_entity_words,
    ss_html_to_text,
    ss_tag_entity_words,
)
from algorithmproject_spark_spark.functions.numeric import sql_hash_mod, ss_hash_mod
from algorithmproject_spark_spark.operators.core import dedup_exact
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.queries.dedup import (
    JACCARD_THRESHOLD_E6,
    jaccard_pairs_above,
    sql_dup_pairs_cte,
)
from algorithmproject_spark_spark.queries.llmprep import (
    BENCH_DOCS,
    SPLIT_MOD,
    SPLIT_TRAIN_LT,
    SPLIT_VAL_LT,
    _sql_contam_grams,
    contamination_hits,
)
from algorithmproject_spark_spark.queries.spandedup import (
    _sql_dup_span_stats,
    dup_span_stats,
)
from algorithmproject_spark_spark.sources.catalog import load_table

QUALITY_MIN_CHARS = 120
QUOTA_PER_CLASS = 150




@register(
    "curation_pipeline",
    plan=("arrow",),
    oracle=f"""
    WITH exact_keep AS (
        SELECT min(doc_id) AS doc_id FROM documents GROUP BY text
    ),
    {sql_dup_pairs_cte()},
    near_keep AS (
        SELECT e.doc_id FROM exact_keep e
        WHERE e.doc_id NOT IN (SELECT doc_b FROM dup_pairs)
    )
    SELECT doc_id, lang, source, n_chars, CAST(rk AS BIGINT) AS rk FROM (
        SELECT d.doc_id, d.lang, d.source, d.n_chars,
               row_number() OVER (PARTITION BY d.lang ORDER BY d.doc_id) AS rk
        FROM documents d JOIN near_keep k ON d.doc_id = k.doc_id
        WHERE d.n_chars >= {QUALITY_MIN_CHARS}
    ) WHERE rk <= {QUOTA_PER_CLASS}
    """,
    doc="§3.1 flagship: exact dedup → MinHash near-dup anti-join → quality "
    "filter → per-lang quota window, all one Catalyst plan",
)
def curation_pipeline(
    spark: SparkSession,
    sf_dir: str,
    near_dup_threshold_e6: int = JACCARD_THRESHOLD_E6,
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # exact dedup: deterministic survivor = min doc_id per text (the
    # reference's dropDuplicates keeps an arbitrary row — fine in prod,
    # not oracle-checkable; min() costs the same single shuffle).
    exact_keep = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    # near-dup: drop the higher-id side of each pair verified at the
    # (parameterized) Jaccard bar (E4 made native — the reference
    # anti-joined ids from an external tool).
    dup_b = jaccard_pairs_above(spark, sf_dir, near_dup_threshold_e6).select(
        F.col("doc_b").alias("doc_id")
    )
    keep = exact_keep.select("doc_id").join(dup_b, "doc_id", "left_anti")
    quota = W.partitionBy("lang").orderBy("doc_id")
    return (
        docs.join(keep, "doc_id")  # ids only → broadcast-able semi filter
        .filter(F.col("n_chars") >= QUALITY_MIN_CHARS)
        .withColumn("rk", F.row_number().over(quota))
        .filter(F.col("rk") <= QUOTA_PER_CLASS)
        .select("doc_id", "lang", "source", "n_chars", F.col("rk").cast("long").alias("rk"))
    )


# --------------------------------------------------------------------------
# T16: LDA corpus prep — vocab build + rare-word filter + UCI triples
# (LightldaPreProcess.scala:136-279 writes doc|word|tf text files for an
# external LightLDA trainer; the same triples feed pyspark.ml LDA here).
# --------------------------------------------------------------------------
MIN_DF = 5  # reference uses df ≥ 10 at 5M docs (LightldaPreProcess.scala:158)
MIN_DOC_GRAMS = 3  # reference: 20 < grams < 200 (PrepData.scala:184-188)
MAX_DOC_GRAMS = 200


@register(
    "lda_corpus_uci",
    plan=("arrow",),
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, word, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE NOT list_contains({sql_stopword_list()}, word)
        GROUP BY doc_id, word
    ),
    vocab AS (
        SELECT word, CAST(row_number() OVER (ORDER BY word) - 1 AS BIGINT) AS word_id
        FROM (SELECT word FROM tf GROUP BY word HAVING count(*) >= {MIN_DF})
    ),
    doc_ok AS (
        SELECT doc_id FROM tf JOIN vocab USING (word)
        GROUP BY doc_id
        HAVING count(*) > {MIN_DOC_GRAMS} AND count(*) < {MAX_DOC_GRAMS}
    )
    SELECT t.doc_id, v.word_id, t.tf
    FROM tf t JOIN vocab v USING (word) JOIN doc_ok d USING (doc_id)
    """,
    doc="T16: LDA corpus prep — vocab (df≥5, ids dense by word), doc-size "
    "filter, UCI (doc, word_id, tf) triples",
)
def lda_corpus_uci(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.selectExpr("doc_id", f"explode({ss_tokenize('text')}) AS word")
        .filter(f"NOT array_contains({ss_stopword_array()}, word)")
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # vocab is df-filtered → orders of magnitude smaller than the
    # corpus (≤ tens of millions of words even at 100 TB, ~100 MB);
    # a single-task row_number sort over vocab-only is cheaper than
    # zip_with_global_index's second corpus scan, and it then
    # broadcasts into both joins. Fact-scale dense ids use
    # operators.core.zip_with_global_index instead.
    vocab = (
        tf.groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= MIN_DF)
        .withColumn(
            "word_id",
            (F.row_number().over(W.orderBy("word")) - 1).cast("long"),
        )
        .select("word", "word_id")
    )
    with_ids = tf.join(F.broadcast(vocab), "word")
    doc_ok = (
        with_ids.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"))
        .filter(
            (F.col("n_grams") > MIN_DOC_GRAMS) & (F.col("n_grams") < MAX_DOC_GRAMS)
        )
        .select("doc_id")
    )
    return with_ids.join(doc_ok, "doc_id").select("doc_id", "word_id", "tf")


# --------------------------------------------------------------------------
# T10 at corpus scale: bounded-iteration PageRank as a DataFrame loop —
# the distributed replacement for GraphX pageRank (TextRank.scala:44-50
# collects the whole vertex map to the driver; this never does).
# --------------------------------------------------------------------------
def corpus_word_graph(docs: DataFrame) -> DataFrame:
    """Symmetric adjacent-token co-occurrence edges (src, dst, w).
    One-parse text glue (r13): identical expressions."""
    toks = docs.selectExpr(
        "posexplode(split(text, ' ')) AS (pos, word)", "doc_id"
    )
    nxt = toks.selectExpr("doc_id", "pos + 1 AS pos", "word AS next_word")
    pairs = toks.join(nxt, ["doc_id", "pos"]).filter("word != next_word")
    directed = pairs.selectExpr("word AS src", "next_word AS dst")
    sym = directed.unionByName(directed.selectExpr("dst AS src", "src AS dst"))
    return sym.groupBy("src", "dst").agg(F.expr("count(1) AS w"))


PR_SCALE = 10**12  # rank fixed-point unit; rank*w must stay < 2^63 —
# at 100 TB edge weights (~1e9) drop this to 1e9 and results stay exact.
PR_ITERS = 5


def corpus_pagerank(
    docs: DataFrame, iterations: int = PR_ITERS, scale: int = PR_SCALE
) -> DataFrame:
    """(word, rank): fixed-iteration weighted PageRank in EXACT integer
    arithmetic — fully distributed AND oracle-checkable (float PageRank
    never is: shuffle-order float sums diverge across engines).

    Fixed-point update (damping 0.85 = 17/20, truncating integer div —
    identical in Spark ``DIV`` and DuckDB ``//`` for non-negatives):

        contrib(u→v) = rank_u * w_uv DIV out_w_u
        rank'_v      = base + (Σ contrib) * 17 DIV 20,
        base         = (scale * 3 DIV 20) DIV n

    Each iteration is one join + one agg on (edges ⋈ ranks); edges are
    cached once. Each iteration ends in ``localCheckpoint`` — persist
    alone is NOT enough for iterative DataFrames: it truncates
    re-execution but the logical plan still nests one level per
    iteration, and Catalyst re-analyzes the whole tower every loop
    (measured 70s → 13s for 10 iterations on a 31-node graph).
    localCheckpoint cuts the plan itself to the materialized RDD.
    """
    edges = tracked_cache(corpus_word_graph(docs))
    out_w = edges.groupBy("src").agg(F.expr("sum(w) AS out_w"))
    edges_n = tracked_cache(
        edges.join(out_w, "src").select("src", "dst", "w", "out_w")
    )
    nodes = tracked_cache(edges.selectExpr("src AS word").distinct())
    n = nodes.count()
    if n == 0:
        # empty corpus → empty rank table (the DuckDB twin's CTE chain
        # yields zero rows; without this guard the driver-side base
        # division raises ZeroDivisionError — edge-sweep finding)
        return nodes.selectExpr("word", "CAST(0 AS BIGINT) AS rank")
    base = (scale * 3 // 20) // n
    ranks = nodes.selectExpr(
        "word", f"CAST({scale // n} AS BIGINT) AS rank"
    )
    zero_nodes = nodes.selectExpr("word", "CAST(0 AS BIGINT) AS c")
    for _ in range(iterations):
        # One join + ONE aggregation per iteration (r12): per-edge
        # contributions are unioned with a zero row per node and
        # sum-reduced in a single groupBy. BIGINT sum over
        # {0} ∪ contribs ≡ coalesce(Σ contribs, 0) exactly, so this
        # replaces the former groupBy(dst) + nodes-left-join iteration
        # body (two shuffles + a join of the rank-sized relation) with
        # one shuffle, while still keeping base rank mass for isolated
        # vocabulary (guide §2.4).
        contrib_rows = edges_n.join(
            ranks, edges_n.src == ranks.word
        ).selectExpr("dst AS word", "rank * w DIV out_w AS c")
        ranks = (
            contrib_rows.unionAll(zero_nodes)
            .groupBy("word")
            .agg(F.expr("sum(c) AS c"))
            .selectExpr(
                "word",
                f"CAST({base} + c * 17 DIV 20 AS BIGINT) AS rank",
            )
            # LAZY checkpoint (r12): no per-iteration action in the
            # fixed-count loop -> one final DAG instead of k eager jobs
            .transform(tracked_lazy_local_checkpoint)
        )
    return ranks


def _sql_pagerank_ctes(iterations: int = PR_ITERS, scale: int = PR_SCALE) -> str:
    """DuckDB twin: the same integer power iteration, loop unrolled into
    one CTE per step (recursive CTEs can't aggregate in the recursive
    term; unrolling is mechanical because the count is fixed)."""
    head = f"""
    toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    adj AS (
        SELECT e.src AS src, e.dst AS dst FROM (
            SELECT unnest(list_transform(range(1, len(t)),
                   i -> struct_pack(src := t[i], dst := t[i + 1]))) AS e
            FROM toks
        ) WHERE e.src <> e.dst
    ),
    sym AS (SELECT src, dst FROM adj UNION ALL SELECT dst, src FROM adj),
    edges AS (SELECT src, dst, count(*) AS w FROM sym GROUP BY src, dst),
    outw AS (SELECT src, sum(w) AS out_w FROM edges GROUP BY src),
    en AS (SELECT e.src, e.dst, e.w, o.out_w FROM edges e JOIN outw o USING (src)),
    nodes AS (SELECT DISTINCT src AS word FROM edges),
    nn AS (SELECT count(*) AS n FROM nodes),
    r0 AS (SELECT word, CAST({scale} // (SELECT n FROM nn) AS BIGINT) AS rank
           FROM nodes)
    """
    steps = []
    for i in range(iterations):
        steps.append(f"""
    c{i} AS (
        SELECT en.dst, sum(r.rank * en.w // en.out_w) AS c
        FROM en JOIN r{i} r ON en.src = r.word GROUP BY en.dst
    ),
    r{i + 1} AS (
        SELECT nodes.word,
               CAST((({scale} * 3 // 20) // (SELECT n FROM nn))
                    + coalesce(c{i}.c, 0) * 17 // 20 AS BIGINT) AS rank
        FROM nodes LEFT JOIN c{i} ON nodes.word = c{i}.dst
    )""")
    return head + "," + ",".join(steps)


@register(
    "corpus_pagerank_topk",
    oracle=f"""
    WITH {_sql_pagerank_ctes()}
    SELECT word, rank FROM r{PR_ITERS}
    ORDER BY rank DESC, word
    LIMIT 20
    """,
    doc="T10 corpus-scale: fixed-iteration integer PageRank over the word "
    "co-occurrence graph, top-20 — oracle-checked (exact fixed-point "
    "arithmetic makes the distributed iteration bit-identical to DuckDB)",
)
def corpus_pagerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ranks = corpus_pagerank(docs)
    return (
        ranks.select("word", "rank")
        .orderBy(F.desc("rank"), F.asc("word"))
        .limit(20)
    )


#: GraphX ``pageRank(0.0001)`` parity (VERDICT r10 #6): the reference's
#: TextRank.scala:44-50 iterates to a 1e-4 tolerance instead of a fixed
#: count. In fixed-point units the bound is scale·1e-4; the hard cap
#: bounds worst-case wall-clock on adversarial graphs exactly like
#: GraphX's maxIterations runner.
PR_TOL_FP = PR_SCALE // 10_000
PR_TOL_MAX_ITERS = 40


def corpus_pagerank_tol(
    docs: DataFrame,
    tol_fp: int = PR_TOL_FP,
    max_iters: int = PR_TOL_MAX_ITERS,
    scale: int = PR_SCALE,
) -> tuple[DataFrame, int]:
    """(ranks, n_iters): the TOLERANCE-STOPPED twin of
    :func:`corpus_pagerank` — same exact-integer update, but the loop
    stops when the max per-word |Δrank| falls to ``tol_fp`` (GraphX
    ``pageRank(tol)`` semantics re-expressed in fixed point) or at the
    hard cap. The iteration count is DATA-DEPENDENT, so no finite SQL
    unrolling exists — registered rows-only and golden-pinned; the
    integer arithmetic still makes every run bit-identical.

    Per-iteration cost over the fixed-count form: ONE extra join+agg of
    two (word, rank) relations — both sides are checkpointed outputs of
    the iteration itself, word-partitioned and node-table sized, so the
    residual check is vocabulary-scale work, never corpus-scale. The
    driver-side ``collect`` is a single BIGINT per iteration.
    """
    edges = tracked_cache(corpus_word_graph(docs))
    out_w = edges.groupBy("src").agg(F.expr("sum(w) AS out_w"))
    edges_n = tracked_cache(
        edges.join(out_w, "src").select("src", "dst", "w", "out_w")
    )
    nodes = tracked_cache(edges.selectExpr("src AS word").distinct())
    n = nodes.count()
    if n == 0:
        return nodes.selectExpr("word", "CAST(0 AS BIGINT) AS rank"), 0
    base = (scale * 3 // 20) // n
    ranks = tracked_local_checkpoint(
        nodes.selectExpr("word", f"CAST({scale // n} AS BIGINT) AS rank")
    )
    iters = 0
    # Fold the convergence probe into the iteration's ONE aggregation
    # (r13, VERDICT r12 #4): instead of unioning zero rows and then
    # JOINING new_ranks back to the previous ranks for the residual,
    # union the PREVIOUS rank rows themselves (c = 0 keeps the sum
    # identical — every vertex has exactly one ranks row, so
    # max(prev) recovers its previous rank in the same groupBy), and
    # read the residual with one vocabulary-scale agg over the
    # checkpointed output. Jobs per round: 2 (checkpoint + resid agg
    # over in-memory blocks) instead of 3 (checkpoint + join + agg);
    # exchanges per round drop by the join's two sides.
    for _ in range(max_iters):
        contrib_rows = edges_n.join(
            ranks, edges_n.src == ranks.word
        ).selectExpr("dst AS word", "rank * w DIV out_w AS c")
        prev_rows = ranks.selectExpr(
            "word", "CAST(0 AS BIGINT) AS c", "rank AS prev"
        )
        stepped = (
            contrib_rows.selectExpr(
                "word", "c", "CAST(NULL AS BIGINT) AS prev"
            )
            .unionAll(prev_rows)
            .groupBy("word")
            .agg(F.expr("sum(c) AS c"), F.expr("max(prev) AS prev"))
            .selectExpr(
                "word",
                f"CAST({base} + c * 17 DIV 20 AS BIGINT) AS rank",
                "prev",
            )
            .transform(tracked_local_checkpoint)
        )
        iters += 1
        resid = (
            stepped.agg(F.expr("max(abs(rank - prev)) AS d"))
            .collect()[0]["d"]
        )
        ranks = stepped.select("word", "rank")
        if resid is not None and resid <= tol_fp:
            break
    return ranks, iters


@register(
    "corpus_pagerank_tol_topk",
    oracle=None,  # data-dependent iteration count — no finite SQL
    # unrolling; rows-only + golden pin (tests/golden/ml_quartet.json)
    doc=(
        "T10 GraphX pageRank(0.0001) parity: TOLERANCE-stopped integer "
        "PageRank over the word co-occurrence graph — iterates until "
        "max per-word |delta-rank| <= scale*1e-4 with a hard 40-round "
        "cap, then top-20 with the converged iteration count on every "
        "row; exact fixed-point arithmetic keeps runs bit-identical, "
        "pinned by golden hash"
    ),
)
def corpus_pagerank_tol_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ranks, iters = corpus_pagerank_tol(docs)
    return (
        ranks.select(
            "word", "rank", F.lit(iters).cast("long").alias("n_iters")
        )
        .orderBy(F.desc("rank"), F.asc("word"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# §3.1 flagship composite: article ingest → dedup → clean → entity-tag →
# external-dup anti-join → per-class quota. The reference runs this as
# ArticleInfoProcess.scala:38-220 with seven writes and three
# dropDuplicates triggering separate jobs; here the whole flow is ONE
# Catalyst plan (each stage a narrow projection or a single keyed
# shuffle), so AQE sizes every exchange and nothing materializes
# mid-pipeline.
# ---------------------------------------------------------------------------

ENTITY_WORDS = ("spark", "join", "window")
_TAG_OVERHEAD = len('<i class="apus-entity-words">') + len("</i>")  # 33
_EXT_DUP_MOD, _EXT_DUP_SLOT = 50, 7
_CLASS_QUOTA = 60


@register(
    "article_tagging_pipeline",
    oracle=f"""
    WITH dedup AS (
        SELECT min(doc_id) AS doc_id, text, lang
        FROM (SELECT doc_id, text, lang,
                     row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rk
              FROM documents)
        WHERE rk = 1 GROUP BY text, lang
    ),
    cleaned AS (
        SELECT doc_id, lang,
               {sql_html_to_text("'<html><body><p>' || text || '</p><!-- c --></body></html>'")} AS content
        FROM dedup
    ),
    tagged AS (
        SELECT doc_id, lang, content,
               {sql_tag_entity_words("content", "['spark', 'join', 'window']")} AS tagged
        FROM cleaned
    ),
    survivors AS (
        SELECT t.* FROM tagged t
        WHERE {sql_hash_mod('t.doc_id', _EXT_DUP_MOD)} <> {_EXT_DUP_SLOT}
    ),
    quota AS (
        SELECT doc_id, lang,
               CAST((length(tagged) - length(content)) / {_TAG_OVERHEAD} AS BIGINT)
                   AS n_tagged,
               md5(content) AS fingerprint,
               row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS cls_rank
        FROM survivors
    )
    SELECT doc_id, lang, n_tagged, fingerprint, cls_rank
    FROM quota WHERE cls_rank <= {_CLASS_QUOTA}
    """,
    doc="SURVEY §3.1 flagship composite as one Catalyst plan: exact "
    "dedup (deterministic survivor) -> synthetic-HTML strip -> "
    "entity-word tagging (ArticleInfoProcess markup) -> external-dup "
    "anti-join (hash-mod stand-in for the exported dup list) -> "
    "per-class quota with rank; tag count recovered exactly from the "
    "fixed 33-char markup overhead",
)
def article_tagging_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d1 = dedup_exact(
        docs.select("doc_id", "text", "lang"), ["text"], keep_min_of="doc_id"
    )
    html = "concat('<html><body><p>', text, '</p><!-- c --></body></html>')"
    cleaned = d1.selectExpr("doc_id", "lang", f"{ss_html_to_text(html)} AS content")
    tagged = cleaned.withColumn(
        "tagged", F.expr(ss_tag_entity_words("content", ss_str_array(ENTITY_WORDS)))
    )
    survivors = tagged.filter(
        F.expr(ss_hash_mod("doc_id", _EXT_DUP_MOD)) != F.lit(_EXT_DUP_SLOT)
    )
    w = W.partitionBy("lang").orderBy("doc_id")
    quota = survivors.select(
        "doc_id",
        "lang",
        (
            (F.length("tagged") - F.length("content")) / F.lit(_TAG_OVERHEAD)
        ).cast("bigint").alias("n_tagged"),
        F.md5(F.col("content").cast("binary")).alias("fingerprint"),
        F.row_number().over(w).alias("cls_rank"),
    )
    return quota.filter(F.col("cls_rank") <= _CLASS_QUOTA)


# --------------------------------------------------------------------------
# Pretraining-corpus curation pipeline — the full LLM-data flow as ONE
# Catalyst plan: exact dedup → length gate → benchmark decontamination
# → duplicated-span gate → deterministic split → certified summary.
# Every stage is an existing registered operator composed unchanged;
# the value of the composite is (a) proving the operators compose in a
# single lazy plan (no intermediate materialization the user must
# manage) and (b) the end-to-end artifact a data-curation run signs
# off on: per-(split, lang) doc/token counts + id checksums.
# --------------------------------------------------------------------------
PRETRAIN_MIN_TOKENS = 30
PRETRAIN_MAX_DUP_PERMILLE = 800


@register(
    "pretrain_corpus_pipeline",
    oracle=f"""
    WITH pc_surv AS (
        SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text
    ),
    pc_gated AS (
        SELECT d.doc_id, d.lang,
               CAST(len(string_split(d.text, chr(32))) AS BIGINT) AS n_tok
        FROM documents d JOIN pc_surv USING (doc_id)
        WHERE len(string_split(d.text, chr(32))) >= {PRETRAIN_MIN_TOKENS}
          AND d.doc_id >= {BENCH_DOCS}
    ),
    pc_g AS ({_sql_contam_grams()}),
    pc_bench AS (
        SELECT DISTINCT unnest(gh) AS gh FROM pc_g WHERE doc_id < {BENCH_DOCS}
    ),
    pc_contam AS (
        SELECT DISTINCT c.doc_id
        FROM (SELECT doc_id, unnest(gh) AS gh FROM pc_g
              WHERE doc_id >= {BENCH_DOCS}) c
        JOIN pc_bench USING (gh)
    ),
    pc_spans AS ({_sql_dup_span_stats()}),
    pc_kept AS (
        SELECT g.*
        FROM pc_gated g
        LEFT JOIN pc_contam c ON g.doc_id = c.doc_id
        JOIN pc_spans s ON g.doc_id = s.doc_id
        WHERE c.doc_id IS NULL
          AND s.dup_permille < {PRETRAIN_MAX_DUP_PERMILLE}
    )
    SELECT CASE WHEN {sql_hash_mod('doc_id', SPLIT_MOD)} < {SPLIT_TRAIN_LT}
                THEN 'train'
                WHEN {sql_hash_mod('doc_id', SPLIT_MOD)} < {SPLIT_VAL_LT}
                THEN 'val' ELSE 'test' END AS split,
           lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM pc_kept
    GROUP BY 1, 2
    """,
    doc="Full pretraining-data curation in one plan: exact dedup "
    "(min-id survivor) → ≥30-token gate → drop 3-gram benchmark "
    "contamination vs the held-out set → drop docs ≥80% duplicated "
    "spans → 80/10/10 hash split → per-(split, lang) counts, token "
    "totals, id checksums",
)
def pretrain_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    surv = dedup_exact(docs, "text", keep_min_of="doc_id")
    gated = surv.filter(
        (F.size(F.split(F.col("text"), " ")) >= PRETRAIN_MIN_TOKENS)
        & (F.col("doc_id") >= BENCH_DOCS)  # held-out set never trains
    )
    contaminated = contamination_hits(
        docs.filter(F.col("doc_id") >= BENCH_DOCS),
        docs.filter(F.col("doc_id") < BENCH_DOCS),
    ).select("doc_id")
    clean = gated.join(contaminated, "doc_id", "left_anti")
    spans = dup_span_stats(docs).select("doc_id", "dup_permille")
    kept = clean.join(spans, "doc_id").filter(
        F.col("dup_permille") < PRETRAIN_MAX_DUP_PERMILLE
    )
    bucket = F.expr(ss_hash_mod("doc_id", SPLIT_MOD))
    split = (
        F.when(bucket < SPLIT_TRAIN_LT, F.lit("train"))
        .when(bucket < SPLIT_VAL_LT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        kept.select(
            split.alias("split"),
            "lang",
            "doc_id",
            F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("doc_id").alias("id_checksum"),
        )
    )
