"""Named query registry — the correctness surface of the engine.

Every operator family from SURVEY.md §2 is exercised by at least one
named query here; each query has a Spark callable ``(spark, sf_dir) ->
DataFrame`` and (when SQL-expressible) a DuckDB oracle SQL string whose
output is hash-identical. ``__spark_entry__.py`` re-exports this
registry to the driver.
"""

from __future__ import annotations

from algorithmproject_spark_spark.registry import REGISTRY, QuerySpec, register  # noqa: F401

# Importing the modules populates REGISTRY.
from algorithmproject_spark_spark.queries import (  # noqa: F401,E402
    relational,
    windows,
    events,
    text,
    dedup,
    similarity,
    advanced,
    keywords,
    nested,
    textops2,
    llmprep,
    tpch2,
    fuzzy,
    spark4,
    bpe,
    spandedup,
    itemsets,
    urls,
    chunking,
    kmv,
    maskgen,
    sparsesim,
    drift,
    corpusstats,
    goldenrec,
    cep,
    rfm,
    alloc,
)
from algorithmproject_spark_spark.plans import pipelines  # noqa: F401,E402
from algorithmproject_spark_spark.ml import topics  # noqa: F401,E402
from algorithmproject_spark_spark.operators import multimodal  # noqa: F401,E402
from algorithmproject_spark_spark.operators import annlsh  # noqa: F401,E402
from algorithmproject_spark_spark.operators import annivf  # noqa: F401,E402
from algorithmproject_spark_spark.operators import annpq  # noqa: F401,E402
from algorithmproject_spark_spark.operators import skew  # noqa: F401,E402
from algorithmproject_spark_spark.operators import rangejoin  # noqa: F401,E402
from algorithmproject_spark_spark.queries import annrecall  # noqa: F401,E402
from algorithmproject_spark_spark.queries import streamtwins  # noqa: F401,E402
from algorithmproject_spark_spark.sources import pydatasource  # noqa: F401,E402
from algorithmproject_spark_spark.streaming import joins  # noqa: F401,E402
from algorithmproject_spark_spark.operators import quality  # noqa: F401,E402
from algorithmproject_spark_spark.operators import cdc  # noqa: F401,E402
from algorithmproject_spark_spark.operators import groupedagg  # noqa: F401,E402
from algorithmproject_spark_spark.operators import countmin  # noqa: F401,E402
from algorithmproject_spark_spark.operators import checksum  # noqa: F401,E402
from algorithmproject_spark_spark.operators import tablediff  # noqa: F401,E402
from algorithmproject_spark_spark.operators import zorder  # noqa: F401,E402
from algorithmproject_spark_spark.operators import bloomjoin  # noqa: F401,E402
from algorithmproject_spark_spark.queries import reco  # noqa: F401,E402
from algorithmproject_spark_spark.queries import lm  # noqa: F401,E402
from algorithmproject_spark_spark.queries import behavior  # noqa: F401,E402
from algorithmproject_spark_spark.queries import skyline  # noqa: F401,E402
from algorithmproject_spark_spark.queries import trend  # noqa: F401,E402
from algorithmproject_spark_spark.queries import search  # noqa: F401,E402
from algorithmproject_spark_spark.queries import profiling  # noqa: F401,E402
from algorithmproject_spark_spark.queries import spatial  # noqa: F401,E402
from algorithmproject_spark_spark.queries import product  # noqa: F401,E402
from algorithmproject_spark_spark.queries import revenue  # noqa: F401,E402
from algorithmproject_spark_spark.queries import spc  # noqa: F401,E402
from algorithmproject_spark_spark.queries import udtf_demo  # noqa: F401,E402
from algorithmproject_spark_spark.queries import evalmetrics  # noqa: F401,E402
from algorithmproject_spark_spark.queries import labelnoise  # noqa: F401,E402
from algorithmproject_spark_spark.queries import churn  # noqa: F401,E402
from algorithmproject_spark_spark.queries import datacard  # noqa: F401,E402
from algorithmproject_spark_spark.queries import scorecards  # noqa: F401,E402
from algorithmproject_spark_spark.queries import prototypes  # noqa: F401,E402
from algorithmproject_spark_spark.queries import dsir  # noqa: F401,E402
from algorithmproject_spark_spark.queries import hdr  # noqa: F401,E402
from algorithmproject_spark_spark.queries import resample  # noqa: F401,E402
from algorithmproject_spark_spark.queries import qualitymodel  # noqa: F401,E402
from algorithmproject_spark_spark.queries import modeleval  # noqa: F401,E402
from algorithmproject_spark_spark.queries import survival  # noqa: F401,E402
from algorithmproject_spark_spark.queries import linkage  # noqa: F401,E402
from algorithmproject_spark_spark.queries import graphmetrics  # noqa: F401,E402
from algorithmproject_spark_spark.queries import contrastive  # noqa: F401,E402
from algorithmproject_spark_spark.queries import curriculum  # noqa: F401,E402
from algorithmproject_spark_spark.queries import quantnorm  # noqa: F401,E402
from algorithmproject_spark_spark.queries import bandit  # noqa: F401,E402
from algorithmproject_spark_spark.queries import holt  # noqa: F401,E402
from algorithmproject_spark_spark.queries import privacy  # noqa: F401,E402
from algorithmproject_spark_spark.queries import annbinary  # noqa: F401,E402
from algorithmproject_spark_spark.queries import mixing  # noqa: F401,E402
from algorithmproject_spark_spark.queries import kstest  # noqa: F401,E402
from algorithmproject_spark_spark.queries import trainedhead  # noqa: F401,E402
from algorithmproject_spark_spark.operators import pca  # noqa: F401,E402
