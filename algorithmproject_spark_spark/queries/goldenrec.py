"""Golden-record survivorship — MDM-style merge over duplicate
clusters.

``dedup_cluster_reps`` answers WHICH rows form a duplicate cluster
(component-min label); a master-data pipeline then needs the merge
step: per cluster, pick the SURVIVOR by a quality rule (not by id)
and consolidate the members' attributes into one golden row. Rules
here, all deterministic and engine-portable:

- survivor: highest quality first (longest document), doc_id
  ascending as tiebreak — a ``row_number`` window per cluster, the
  relational form of MDM "most complete record wins";
- consolidated attributes: member count, total/max chars, distinct
  languages and sources as SORTED concatenations (order pinned so the
  value multiset hash matches cross-engine).

Scale shape: reuses the cached near-dup pair machinery (one LSH
band join), the fixed-round min-label components (one bounded loop of
keyed joins), then ONE cluster-keyed window + ONE aggregation.
Singleton documents are not re-attached here — the report is about
merged clusters (a full golden table is this relation unioned with
untouched singletons, an anti-join away).

Reference parity: the reference outsources near-dup resolution
entirely (ArticleInfoProcess.scala:184-191 anti-joins an externally
computed dupmark list) — it has no survivor selection at all; this
completes the dedup family with the merge step that external tool
would have needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.operators.components import (
    CC_ITERS,
    connected_components_min_label,
    sql_connected_components,
)
from algorithmproject_spark_spark.queries.dedup import (
    jaccard_verified_pairs,
    sql_dup_pairs_cte,
)
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table


def golden_records(
    docs: DataFrame, labels: DataFrame
) -> DataFrame:
    """Per-cluster golden rows from ``docs(doc_id, lang, source,
    n_chars)`` and ``labels(v, lbl)`` (component labels over the
    duplicate subgraph): ``(cluster, golden_doc, n_members,
    total_chars, max_chars, langs, sources)``."""
    from algorithmproject_spark_spark.cacheutil import (
        tracked_lazy_local_checkpoint,
    )

    # Pin the member relation (r13): the survivor window and the
    # attribute aggregation both consume it, and Catalyst does not
    # dedupe the shared labels⋈docs subtree — unpinned, the join (and
    # the component-label loop above it) executed once per consumer.
    # Cluster-member rows only: dup-subset sized, never the corpus.
    members = (
        labels.selectExpr("v AS doc_id", "lbl AS cluster")
        .join(docs, "doc_id")
        .transform(tracked_lazy_local_checkpoint)
    )
    ranked = members.selectExpr(
        "cluster",
        "doc_id",
        "row_number() OVER (PARTITION BY cluster ORDER BY n_chars DESC,"
        " doc_id) AS rk",
    )
    per_cluster = members.groupBy("cluster").agg(
        F.expr("count(1) AS n_members"),
        F.expr("sum(n_chars) AS total_chars"),
        F.expr("max(n_chars) AS max_chars"),
        F.expr("concat_ws(',', array_sort(collect_set(lang))) AS langs"),
        F.expr(
            "concat_ws(',', array_sort(collect_set(source))) AS sources"
        ),
    )
    survivors = ranked.filter("rk = 1").selectExpr(
        "cluster", "doc_id AS golden_doc"
    )
    return survivors.join(per_cluster, "cluster").select(
        "cluster",
        "golden_doc",
        "n_members",
        "total_chars",
        "max_chars",
        "langs",
        "sources",
    )


@register(
    "dedup_golden_records",
    oracle=f"""
    WITH {sql_dup_pairs_cte()},
    {sql_connected_components('dup_pairs')},
    gr_m AS (
        SELECT c.lbl AS cluster, d.doc_id, d.lang, d.source, d.n_chars
        FROM cc{CC_ITERS} c JOIN documents d ON c.v = d.doc_id
    ),
    gr_s AS (
        SELECT cluster, doc_id AS golden_doc FROM (
            SELECT cluster, doc_id,
                   row_number() OVER (
                       PARTITION BY cluster
                       ORDER BY n_chars DESC, doc_id
                   ) AS rk
            FROM gr_m
        ) WHERE rk = 1
    ),
    gr_a AS (
        SELECT cluster,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(MAX(n_chars) AS BIGINT) AS max_chars,
               array_to_string(list_sort(list(DISTINCT lang)), ',') AS langs,
               array_to_string(list_sort(list(DISTINCT source)), ',') AS sources
        FROM gr_m GROUP BY cluster
    )
    SELECT s.cluster, s.golden_doc, a.n_members, a.total_chars,
           a.max_chars, a.langs, a.sources
    FROM gr_s s JOIN gr_a a ON s.cluster = a.cluster
    """,
    doc="MDM golden-record merge over near-dup clusters: survivor "
    "= (n_chars desc, doc_id) per component, attributes "
    "consolidated (member count, char totals, sorted distinct "
    "langs/sources) — the merge step downstream of "
    "dedup_cluster_reps, one cluster-keyed window + one agg",
)
def dedup_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = jaccard_verified_pairs(spark, sf_dir)
    labels = connected_components_min_label(pairs)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return golden_records(docs, labels)
