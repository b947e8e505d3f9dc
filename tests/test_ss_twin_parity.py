"""Analyzed-plan parity of the ss_* Spark-SQL text twins.

The shared kernels in functions/ exist only as SQL text; a few operator
kernels still keep a Column builder next to their text twin. For each
remaining (Column form, text form) pair, the ANALYZED plans of a select
over the same relation must be equal after stripping session-dependent
tokens (expression ids, lambda-variable names). A twin that drifts
(literal type, fold order, missing cast) fails here before any oracle
run.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def _norm(plan: str) -> str:
    plan = re.sub(r"#\d+", "#", plan)
    # lambda variable NAMES differ between the Column API (python arg
    # names) and the SQL text; canonicalize every lambda var token.
    for name in re.findall(r"lambda (\w+)#", plan):
        plan = re.sub(rf"\b{name}#", "v#", plan)
    return plan


def _analyzed(df) -> str:
    return _norm(df._jdf.queryExecution().analyzed().toString())


def assert_twin(spark, data_df, col_form, text_form):
    a = data_df.select(col_form.alias("out"))
    b = data_df.select(F.expr(text_form).alias("out"))
    pa, pb = _analyzed(a), _analyzed(b)
    assert pa == pb, f"analyzed plans differ:\n--- column\n{pa}\n--- text\n{pb}"


@pytest.fixture(scope="module")
def rel(spark):
    return spark.createDataFrame(
        [("hello world", ["a", "b", "c"], 7, 3, [0.5, -0.25], [0.125, 1.0], 2.5)],
        "s string, toks array<string>, num long, den long, "
        "arr1 array<double>, arr2 array<double>, dval double",
    )


def test_pca_quant_twin(spark, rel):
    from algorithmproject_spark_spark.operators.pca import quant_col, ss_quant

    assert_twin(spark, rel, quant_col(F.col("arr1")), ss_quant("arr1"))
