"""Property tests for the PQ operator family (operators/annpq.py) —
the oracle gate proves cross-engine value equality; these pin the
semantics the encoding must have regardless of engine."""

from __future__ import annotations

import random

from algorithmproject_spark_spark.operators.annpq import (
    CODEBOOKS,
    K_PQ,
    M_SUB,
    SUB_DIM,
    pq_codes_exploded,
    pq_pack,
)


def test_exact_codeword_roundtrip(spark):
    """A vector assembled from codebook entries must encode to exactly
    those codes with zero reconstruction error — the defining PQ
    identity."""
    rng = random.Random(29)
    want = [rng.randrange(K_PQ) for _ in range(M_SUB)]
    vec = [x for j, c in enumerate(want) for x in CODEBOOKS[j][c]]
    df = spark.createDataFrame([(0, vec)], "vec_id long, embedding array<double>")
    row = df.select(pq_pack("embedding").alias("s")).select("s.*").first()
    assert row.recon_err_e6 == 0
    packed = row.packed_code
    got = [(packed // (K_PQ**j)) % K_PQ for j in range(M_SUB)]
    assert got == want
    codes = {
        r.j: r.code for r in pq_codes_exploded(df).collect()
    }
    assert [codes[j] for j in range(M_SUB)] == want


def test_codes_bounded_and_err_positive_for_random_vectors(spark):
    rng = random.Random(31)
    rows = [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(M_SUB * SUB_DIM)])
        for i in range(64)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = df.select(pq_pack("embedding").alias("s")).select("s.*").collect()
    for r in out:
        assert 0 <= r.packed_code < K_PQ**M_SUB
        assert r.recon_err_e6 > 0  # random vectors never hit a codeword
    # 8 rows per vector in the exploded form, codes in range
    exploded = pq_codes_exploded(df).collect()
    assert len(exploded) == 64 * M_SUB
    assert all(0 <= r.code < K_PQ for r in exploded)
