"""Workload and metric definitions for the benchmark (pure data).

Every workload is a closed loop: one client runs one query (or one
micro-batch) at a time on ``local[4]``, and starts the next only when
the previous one has finished.
"""

from __future__ import annotations

from dataclasses import dataclass

CORES = 4
SMOKE_SF = 0.001  # datagen scale of the tiny smoke run (``--smoke``)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    sf: float  # datagen scale factor
    tables: tuple[str, ...]  # catalog tables loaded at set-up
    queries: tuple[str, ...] = ()  # registry queries, in pass order
    stream_batches: int = 0  # >0: the events micro-batch workload


TEXT = Workload(
    name="text-curation",
    why=(
        "The paper's NLP core: word counts, the RAKE Arrow kernel in Python "
        "workers, and BPE merge induction, whose eager checkpoint jobs run "
        "inside the query build"
    ),
    sf=0.01,
    tables=("documents",),
    queries=(
        "doc_wordcount_topk",
        "rake_topk",
        "bpe_merge_induction",
    ),
)

STREAM = Workload(
    name="events-stream",
    why=(
        "Events drained as micro-batch files through a window agg to a parquet "
        "sink, a Python stateful profile and a watermark dedup: the streaming "
        "state and sink layers"
    ),
    sf=0.008,
    tables=("events",),
    stream_batches=40,
)

WORKLOADS = {w.name: w for w in (TEXT, STREAM)}


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    better: str
    bound: float | None = None  # end-to-end metrics only


END_TO_END = (
    Metric("setup_s", "s", "lower", 0.25),
    Metric("pass_s", "s", "lower", 0.25),
    Metric("op_ms.geomean", "ms", "lower", 0.25),
)

PER_LAYER = (
    Metric("gen.s", "s", "lower"),
    Metric("setup.session_s", "s", "lower"),
    Metric("setup.catalog_s", "s", "lower"),
    Metric("setup.first_pass_s", "s", "lower"),
    Metric("build.s", "s", "lower"),
    Metric("build.jobs", "count", "lower"),
    Metric("build.job_s", "s", "lower"),
    Metric("build.py4j_sends", "count", "lower"),
    Metric("plan.s", "s", "lower"),
    Metric("exec.s", "s", "lower"),
    Metric("exec.jobs", "count", "lower"),
    Metric("exec.stages", "count", "lower"),
    Metric("exec.tasks", "count", "lower"),
    Metric("exec.run_s", "s", "lower"),
    Metric("exec.cpu_s", "s", "lower"),
    Metric("exec.gc_s", "s", "lower"),
    Metric("exec.input_mb", "MB", "lower"),
    Metric("exec.shuffle_read_mb", "MB", "lower"),
    Metric("exec.shuffle_write_mb", "MB", "lower"),
    Metric("exec.spill_mb", "MB", "lower"),
    Metric("exec.exchanges", "count", "lower"),
    Metric("exec.busy_ratio", "ratio", "higher"),
    Metric("cache.release_s", "s", "lower"),
    Metric("cache.persisted_rdds", "count", "lower"),
    Metric("stream.add_batch_ms", "ms", "lower"),
    Metric("stream.planning_ms", "ms", "lower"),
    Metric("stream.wal_commit_ms", "ms", "lower"),
    Metric("stream.state_rows", "count", "lower"),
    Metric("stream.state_mem_mb", "MB", "lower"),
    Metric("stream.state_commit_ms", "ms", "lower"),
    Metric("stream.sink_files", "count", "lower"),
    Metric("mem.peak_rss_mb", "MB", "lower"),
    Metric("trace.overhead_s", "s", "lower"),
)
