"""HDR quantile sketch contracts: bucket/rep error bound and the
estimate-vs-exact envelope the docstring promises."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_hdr_bucket_rep_error_bound(spark):
    """rep(bucket(v)) is an upper bound within relative error 2^-B_BITS:
    v <= rep < v + max(1, v/SUB) — across octave boundaries, the exact
    sub-SUB range, and large values."""
    from algorithmproject_spark_spark.queries.hdr import (
        SUB,
        hdr_rep,
        ss_hdr_bucket,
    )

    vals = (
        list(range(0, 70))
        + [2**k + d for k in range(6, 30) for d in (-1, 0, 1)]
        + [560_210_000, 123_456_789]
    )
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    rows = (
        df.select("v", F.expr(ss_hdr_bucket("v")).alias("idx"))
        .select("v", "idx", hdr_rep("idx").alias("rep"))
        .collect()
    )
    by_v = {}
    for r in rows:
        assert r.v <= r.rep, (r.v, r.rep)
        assert r.rep - r.v <= max(1, r.v // SUB), (r.v, r.rep)
        by_v[r.v] = r.idx
    # bucket index is monotone non-decreasing in v
    svals = sorted(by_v)
    assert all(
        by_v[a] <= by_v[b] for a, b in zip(svals, svals[1:])
    )


def test_hdr_quantile_estimates_bracket_exact(spark):
    from algorithmproject_spark_spark.queries.hdr import (
        PCTS,
        SUB,
        events_hdr_value_quantiles,
    )

    rows = events_hdr_value_quantiles(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        for p in PCTS:
            est = getattr(r, f"est_p{p}_e6")
            exact = getattr(r, f"exact_p{p}_e6")
            assert exact <= est <= exact + max(1, exact // SUB), (
                p,
                exact,
                est,
            )
