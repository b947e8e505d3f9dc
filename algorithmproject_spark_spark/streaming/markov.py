"""Streaming Markov transition counting — per-key sequence state.

The batch form (queries/behavior.py::events_markov_transitions) uses a
``lead`` window over each user's full timeline; a stream never HAS the
full timeline, so the streaming form keeps exactly one value of state
per user — the LAST event type seen — and emits the transitions each
micro-batch completes: the carried ``last_type → first event of this
batch`` seam plus the adjacent pairs inside the batch. State is O(1)
per key (one string), the minimum any first-order model needs, and
never grows with event volume.

Semantics contract: the stream counts transitions in **arrival order**
(within a micro-batch, rows are put in (ts, event_id) order first —
the same deterministic tiebreak as the batch query). When events
arrive in timestamp order — the property the file-stream tests pin —
the summed stream output equals the batch answer exactly; under
out-of-order arrival the stream is the online approximation, which is
the honest contract of a forward-only model (a watermark + sort would
buy exact order at the cost of emit latency — that variant is the
windows.py sessionization family's territory).

Reference parity: none (reference has no stateful streaming;
SURVEY.md §3.4) — engine extension surface, same family as
streaming/stateful.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

TRANSITION_STATE_SCHEMA = StructType(
    [StructField("last_type", StringType())]
)

TRANSITION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("src", StringType()),
        StructField("dst", StringType()),
        StructField("cnt", LongType()),
    ]
)


def _batch_transitions(user_id: int, types: list[str]) -> pd.DataFrame:
    """Adjacent-pair counts of an ordered type sequence."""
    counts: dict[tuple[str, str], int] = {}
    for src, dst in zip(types, types[1:]):
        counts[(src, dst)] = counts.get((src, dst), 0) + 1
    return pd.DataFrame(
        {
            "user_id": [user_id] * len(counts),
            "src": [k[0] for k in counts],
            "dst": [k[1] for k in counts],
            "cnt": list(counts.values()),
        }
    )


def _update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
):
    (last,) = state.get if state.exists else (None,)
    frames = [pdf for pdf in pdfs if len(pdf)]
    if not frames:
        return
    batch = pd.concat(frames).sort_values(["ts", "event_id"])
    types = batch["event_type"].astype(str).tolist()
    seq = ([last] if last is not None else []) + types
    state.update((types[-1],))
    out = _batch_transitions(int(key[0]), seq)
    if len(out):
        yield out


def transition_counts_stateful(events: DataFrame) -> DataFrame:
    """Per-micro-batch transition count increments for a STREAMING
    events frame (append mode; downstream sums per (src, dst))."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=TRANSITION_OUTPUT_SCHEMA,
        stateStructType=TRANSITION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def transition_counts_batch(events: DataFrame) -> DataFrame:
    """Batch-degenerate twin: each user's whole history is one
    "micro-batch", so the stateful fold collapses to one ordered pass.

    r12 (guide §4): vectorized — rows are hash-partitioned by user and
    (user_id, ts, event_id)-sorted within partitions, then ONE pandas
    pass per partition counts every user's adjacent pairs (pair i is
    counted iff row i and i+1 belong to the same user, exactly the
    per-user ordered zip ``_batch_transitions`` folds). The per-key
    ``applyInPandas`` form paid a Python call + DataFrame construction
    per user (data-scale overhead: billions of keys at 100 TB, and AQE
    coalesces the small local shuffle to few partitions so the
    sequential per-group loop dominated — measured 6.5 s → vectorized
    sub-second at sf0.1 for the same result). Per-partition memory is
    bounded by the shuffle partition size."""

    def fold_partition(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        # Incremental per-batch fold with ONE carry row (r13, VERDICT
        # r12 #6): adjacency crosses Arrow batch boundaries, but only
        # through the last row of the previous batch — prepending it
        # preserves every cross-boundary pair, so the whole-partition
        # concat (which concentrated a hot user's partition in memory
        # at 100 TB — AQE skew-split cannot cross a repartition(col) +
        # mapInPandas boundary) is never built. Peak state: one batch
        # + the per-batch partial counts (bounded by distinct
        # transition triples, the output's own size).
        import numpy as np

        partials = []
        carry_u = None
        carry_e = None
        for b in batches:
            if not len(b):
                continue
            u = b["user_id"].to_numpy()
            et = b["event_type"].astype(str).to_numpy()
            if carry_u is not None:
                u = np.concatenate(([carry_u], u))
                et = np.concatenate(([carry_e], et))
            carry_u, carry_e = u[-1], et[-1]
            same = u[:-1] == u[1:]
            if not same.any():
                continue
            adj = pd.DataFrame(
                {
                    "user_id": u[:-1][same],
                    "src": et[:-1][same],
                    "dst": et[1:][same],
                }
            )
            partials.append(
                adj.groupby(["user_id", "src", "dst"], sort=False)
                .size()
                .reset_index(name="cnt")
            )
        if not partials:
            return
        counts = (
            pd.concat(partials, ignore_index=True)
            .groupby(["user_id", "src", "dst"], sort=False)["cnt"]
            .sum()
            .reset_index()
        )
        counts["cnt"] = counts["cnt"].astype("int64")
        yield counts

    return (
        events.repartition("user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .mapInPandas(fold_partition, schema=TRANSITION_OUTPUT_SCHEMA)
    )
