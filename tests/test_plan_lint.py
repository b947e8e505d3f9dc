"""Registry-wide plan lint: every registered query's physical plan is
free of unbounded joins, undeclared Python nodes, and undesigned global
sorts. The allowlists in tools/plan_lint.py carry per-query
justifications; a new query that trips this test either fixes its plan
or documents why it belongs on a list."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo/tools")

from plan_lint import lint_registry  # noqa: E402


def test_every_registered_plan_is_scale_clean(spark):
    violations = lint_registry(spark)
    assert violations == []


def test_undeclared_python_node_still_fails(spark):
    """The allow-lists are derived from register(plan=...) traits; a
    query with a Python eval node but NO 'arrow' trait must still be a
    violation (the derivation didn't silently allow everything)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from algorithmproject_spark_spark.registry import REGISTRY, register

    @register("_lint_probe_py", oracle=None, doc="test-only")
    def _probe(s, sf_dir):
        udf = F.udf(lambda x: x + 1, LongType())
        return s.range(10).select(udf(F.col("id")).alias("v"))

    try:
        v = lint_registry(spark, names=["_lint_probe_py"])
        assert v == ["_lint_probe_py: undeclared Python eval node"]
    finally:
        del REGISTRY["_lint_probe_py"]


def test_unknown_plan_trait_rejected():
    import pytest

    from algorithmproject_spark_spark.registry import register

    with pytest.raises(ValueError, match="unknown plan traits"):
        register("_bad_trait", oracle=None, plan=("nonsense",))


def test_declared_traits_cover_the_old_allowlists():
    """The r6 hand-kept names must all carry the matching trait now
    (regression against losing an annotation in the migration)."""
    from algorithmproject_spark_spark.queries import REGISTRY

    assert "arrow" in REGISTRY["rake_topk"].plan
    assert "arrow" in REGISTRY["curation_pipeline"].plan
    assert "scalar_cross" in REGISTRY["tfidf_top_terms"].plan
    assert "scalar_cross" in REGISTRY["customer_rfm_segments"].plan
    assert "global_sort" in REGISTRY["window_global_rownum"].plan
    assert "global_sort" in REGISTRY["seqlen_bucket_waste"].plan
