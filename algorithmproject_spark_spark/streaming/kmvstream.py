"""Streaming KMV distinct-count sketch — bounded per-key array state.

The batch KMV query (queries/kmv.py::events_kmv_distinct_users) builds
the k-minima sketch in one aggregation; a stream cannot re-scan, so
the streaming form keeps the sketch ITSELF as the per-key state — the
k smallest hashes seen so far, a bounded array that never grows past
k BIGINTs no matter how many events arrive (the whole point of a
mergeable sketch: state = sketch). Each micro-batch merges the batch's
hashes into the state and emits the refreshed (size, kth_min,
estimate) snapshot.

Convergence contract: snapshots are monotone — ``kmv_size`` only
grows (to k) and, once full, ``kth_min`` only shrinks — so the FINAL
sketch per key is simply the row ranked by (kmv_size DESC, kth_min
ASC), no batch ordinal needed. After any arrival order of the same
events, that final row equals the batch sketch exactly (set-union is
order-insensitive), which the cross-batch-seam test pins.

The hash, k, and estimator are imported from the batch module — one
definition, three consumers (batch query, DuckDB oracle, stream
state), zero drift.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from algorithmproject_spark_spark.functions.numeric import (
    HASH_MULT,
    HASH_REDUCE,
)
from algorithmproject_spark_spark.queries.kmv import KMV_K, KMV_MOD

KMV_STATE_SCHEMA = StructType(
    [StructField("mins", ArrayType(LongType()))]
)

KMV_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("kmv_size", LongType()),
        StructField("kth_min", LongType()),
        StructField("est_distinct", LongType()),
    ]
)


def _tmod(a: int, m: int) -> int:
    """C-style TRUNCATED modulo — Spark's and DuckDB's % take the
    dividend's sign; Python's % is always non-negative, so a naive
    Python % would silently diverge for negative keys
    (adversarial-review finding)."""
    r = abs(a) % m
    return r if a >= 0 else -r


def _hash_key(uid: int) -> int:
    """Python twin of functions.numeric.ss_hash_mod(key, KMV_MOD) —
    truncated-modulo exact, including negative keys."""
    return _tmod(_tmod(uid, HASH_REDUCE) * HASH_MULT, KMV_MOD)


def _sketch_row(key: str, mins: list[int]) -> pd.DataFrame:
    size = len(mins)
    kth = mins[-1] if size else None
    est = size if size < KMV_K else (KMV_K - 1) * KMV_MOD // mins[-1]
    return pd.DataFrame(
        {
            "event_type": [key],
            "kmv_size": [size],
            "kth_min": [kth],
            "est_distinct": [est],
        }
    )


def _merge(mins: list[int], uids) -> list[int]:
    return sorted(set(mins) | {_hash_key(int(u)) for u in uids})[:KMV_K]


def _update(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
    (mins,) = state.get if state.exists else ([],)
    mins = list(mins)
    seen = False
    for pdf in pdfs:
        if len(pdf):
            seen = True
            mins = _merge(mins, pdf["user_id"])
    if not seen:
        return
    state.update((mins,))
    yield _sketch_row(str(key[0]), mins)


def kmv_sketch_stateful(events: DataFrame) -> DataFrame:
    """Per-micro-batch KMV sketch snapshots for a STREAMING events
    frame (append mode; the final snapshot per key is the sketch)."""
    return events.groupBy("event_type").applyInPandasWithState(
        _update,
        outputStructType=KMV_OUTPUT_SCHEMA,
        stateStructType=KMV_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def kmv_sketch_batch(events: DataFrame) -> DataFrame:
    """Batch-degenerate twin: each type's whole history is one
    "micro-batch" — the SAME merge/estimate code via applyInPandas."""

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        return _sketch_row(
            str(pdf["event_type"].iloc[0]), _merge([], pdf["user_id"])
        )

    return events.groupBy("event_type").applyInPandas(
        fold, schema=KMV_OUTPUT_SCHEMA
    )
