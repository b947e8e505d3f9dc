"""Seeded input generator for the benchmark workloads.

The tables the workloads read, ``events`` and ``documents``, follow the
catalog schema the library reads (``sources/catalog.py::TABLES``), with
the same column names, physical types and value distributions as the
project's synthetic test data.

Table *content* depends only on the scale factor, so every seed runs
the same amount of work and the run-to-run spread measures the program,
not the input. The ``--seed`` chooses what a user's data layout would
vary: the row order inside every file, and (for the events stream) the
micro-batch file boundaries. The same (workload, seed) always gives
byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Content seed: fixed, so table content is a function of the scale alone.
CONTENT_SEED = 20240101

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.41, 0.15, 0.15, 0.15)

_EPOCH = dt.datetime(1970, 1, 1)


def _micros(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def make_tables(sf: float) -> dict[str, pa.Table]:
    """The ``events`` and ``documents`` tables at scale ``sf`` (sf 0.1 ≈
    100k events)."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_ev = int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    i64 = pa.int64()

    t: dict[str, pa.Table] = {}
    # events: ts ascending with event_id, over 30 days, microsecond grain
    ev_lo = _micros(dt.datetime(2024, 1, 1))
    ts = np.sort(rng.integers(ev_lo, ev_lo + 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    # documents: 5% are near-duplicates ("<another doc's text> dup")
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), n)])
        for n in rng.integers(10, 100, n_docs)
    ]
    dup_ids = rng.choice(n_docs, n_docs // 20, replace=False)
    for d in dup_ids:
        texts[d] = texts[int(rng.integers(0, n_docs))].removesuffix(" dup") + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
            "source": pa.array([f"src{k % 20}" for k in range(n_docs)]),
            "n_chars": pa.array([len(s) for s in texts], i64),
        }
    )
    return t


def _shuffled(table: pa.Table, rng) -> pa.Table:
    return table.take(rng.permutation(table.num_rows))


def write_inputs(
    out_dir: str, sf: float, seed: int, tables: tuple[str, ...], stream_batches: int = 0
) -> dict:
    """Write ``tables`` at scale ``sf`` under ``out_dir`` with a
    seed-chosen row order, plus (if ``stream_batches``) the events
    table cut in ``ts`` order into that many micro-batch files under
    ``out_dir/stream`` at seed-chosen boundaries. Returns the input's
    row and byte counts."""
    rng = np.random.default_rng([seed, 1])
    all_tables = make_tables(sf)
    size = {"rows": 0, "stream_file_rows": [], "mb": 0.0}
    os.makedirs(out_dir, exist_ok=True)

    def write(tab: pa.Table, path: str) -> None:
        pq.write_table(_shuffled(tab, rng), path)
        size["mb"] += os.path.getsize(path) / 1e6

    for name in tables:
        write(all_tables[name], os.path.join(out_dir, f"{name}.parquet"))
        size["rows"] += all_tables[name].num_rows
    if stream_batches:
        ev = all_tables["events"]
        # UTC-adjusted micros: the file-stream source reads the column
        # as TimestampType, which event-time watermarks require
        ev = ev.set_column(1, "ts", ev["ts"].cast(pa.timestamp("us", tz="UTC")))
        n = ev.num_rows
        # boundaries: equal shares, each moved by up to 5% of a batch, so
        # micro-batch sizes (which set the drain rate) stay comparable
        # across seeds
        step = n / stream_batches
        jitter = rng.uniform(-0.05, 0.05, stream_batches - 1) * step
        cuts = [0, *(int(step * (k + 1) + j) for k, j in enumerate(jitter)), n]
        os.makedirs(os.path.join(out_dir, "stream"), exist_ok=True)
        ts = ev["ts"].cast(pa.int64()).to_numpy()
        for k in range(stream_batches):
            part = ev.slice(cuts[k], cuts[k + 1] - cuts[k])
            if k:
                # events of the previous file's last hour arrive again:
                # duplicates that cross a micro-batch boundary while still
                # inside the 2-hour watermark, so no pipeline drops them
                recent = ts[cuts[k - 1]:cuts[k]] >= ts[cuts[k] - 1] - 3_600_000_000
                part = pa.concat_tables(
                    [part, ev.slice(cuts[k - 1], cuts[k] - cuts[k - 1]).filter(recent)]
                )
            write(part, os.path.join(out_dir, "stream", f"part-{k:04d}.parquet"))
            size["stream_file_rows"].append(part.num_rows)
    size["mb"] = round(size["mb"], 3)
    return size


def cached_inputs(
    cache_root: str, workload: str, seed: int, sf: float, tables, stream_batches=0
) -> tuple[str, dict, float]:
    """Inputs for (workload, seed), generated on first use and reused
    after; the key also holds a hash of this generator's source, so an
    edit here never reuses stale files. Returns (directory, size summary,
    seconds the generation took — measured when the entry was made, so a
    cache hit reports the same figure). Keeps the ``KEEP`` most recently
    used entries."""
    with open(__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    out = os.path.join(
        cache_root,
        f"{workload}-sf{sf}-{'-'.join(tables)}-b{stream_batches}-seed{seed}-{version}",
    )
    meta = os.path.join(out, "inputs.json")
    if os.path.exists(meta):
        os.utime(out)
        with open(meta, encoding="utf-8") as fh:
            size = json.load(fh)
        return out, size, size["gen_s"]
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    size = write_inputs(out, sf, seed, tuple(tables), stream_batches)
    size["gen_s"] = time.perf_counter() - t0
    with open(meta, "w", encoding="utf-8") as fh:
        json.dump(size, fh)
    _prune(cache_root)
    return out, size, size["gen_s"]


# enough for ten seeds of every workload, plus the smoke runs
KEEP = 40


def _prune(cache_root: str) -> None:
    entries = sorted(
        (e for e in os.scandir(cache_root) if e.is_dir()),
        key=lambda e: e.stat().st_mtime,
        reverse=True,
    )
    for e in entries[KEEP:]:
        shutil.rmtree(e.path, ignore_errors=True)
