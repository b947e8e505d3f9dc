"""Spans and counters the traced run records around the benchmark's own
calls into each layer, plus Spark's accounting read from outside.

Nothing here runs inside the library: spans wrap the benchmark's calls
into ``REGISTRY[name].fn``, ``executedPlan()``, the noop write,
``cacheutil.release_caches`` and the streaming twins, and Spark's own
accounting is read from the live ``AppStatusStore`` and from each
stream's ``StreamingQueryProgress`` reports.
"""

from __future__ import annotations

import contextlib
import datetime
import gc
import json
import os
import re
import statistics
import time


class Tracer:
    """In-memory spans: name, start, end, parent and run id. ``keep``
    False still times each span (the untraced run needs the times) but
    stores nothing."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.keep = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "run": self.run_id, "start": time.perf_counter(), "end": None,
               **attrs}
        if self.keep:
            self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int, **attrs):
        """Record a span measured elsewhere (a micro-batch from its
        progress report) under the span with id ``parent``."""
        if self.keep:
            self.spans.append({"id": len(self.spans), "name": name,
                               "parent": parent, "run": self.run_id,
                               "start": start, "end": end, **attrs})

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, fh)


class Py4jCounter:
    """Counts py4j ``send_command`` round-trips while ``on``. The GC
    fence drains py4j finalizers outside the window so one build's
    object deletions are not charged to the next."""

    def __init__(self) -> None:
        from py4j.clientserver import ClientServerConnection

        self._cls = ClientServerConnection
        self._orig = ClientServerConnection.send_command
        self.n = 0
        counter = self

        def counting(conn, *a, **kw):
            counter.n += 1
            return counter._orig(conn, *a, **kw)

        self._counting = counting

    def fence(self) -> None:
        self._cls.send_command = self._orig
        gc.collect()

    def on(self) -> None:
        self.n = 0
        self._cls.send_command = self._counting

    def off(self) -> int:
        self._cls.send_command = self._orig
        return self.n


class SparkAccounts:
    """Jobs and stages from the live ``AppStatusStore`` (works with the
    UI disabled), serialised to JSON in the JVM: one round-trip each."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._gw = spark.sparkContext._gateway
        self._jvm = jvm
        self._store = spark._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(
            jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule()
        )

    def jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))

    def stages(self) -> dict[int, list[dict]]:
        lst = self._jvm.java.util.ArrayList
        # Spark 4.1 has only the 5-argument form
        raw = self._store.stageList(
            lst(), False, False, self._gw.new_array(self._jvm.double, 0), lst()
        )
        by_id: dict[int, list[dict]] = {}
        for st in json.loads(self._mapper.writeValueAsString(raw)):
            by_id.setdefault(st["stageId"], []).append(st)
        return by_id


def job_totals(jobs: list[dict], stages: dict[int, list[dict]]) -> dict:
    """Sum Spark's own accounting over ``jobs``: counts, summed job wall
    time, and the stage metrics of every stage attempt they ran."""
    out = {"jobs": len(jobs), "job_s": 0.0, "stages": 0, "tasks": 0,
           "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "input_mb": 0.0,
           "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
    seen: set[int] = set()
    for job in jobs:
        if job.get("submissionTime") and job.get("completionTime"):
            out["job_s"] += (job["completionTime"] - job["submissionTime"]) / 1e3
        for sid in job["stageIds"]:
            if sid in seen:
                continue
            seen.add(sid)
            for st in stages.get(sid, ()):
                if st["status"] != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += st["numCompleteTasks"]
                out["run_s"] += st["executorRunTime"] / 1e3
                out["cpu_s"] += st["executorCpuTime"] / 1e9
                out["gc_s"] += st["jvmGcTime"] / 1e3
                out["input_mb"] += st["inputBytes"] / 1e6
                out["shuffle_read_mb"] += st["shuffleReadBytes"] / 1e6
                out["shuffle_write_mb"] += st["shuffleWriteBytes"] / 1e6
                out["spill_mb"] += st["diskBytesSpilled"] / 1e6
    return out


_EXCHANGE = re.compile(r"\b(?:Broadcast)?Exchange\b")


def count_exchanges(df) -> int:
    """Exchange nodes (shuffle and broadcast) in the executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(1 for line in plan.splitlines() if _EXCHANGE.search(line))


def process_tree_peak_mb(root_pids: list[int]) -> float:
    """Sum of peak resident set (VmHWM) over ``root_pids`` and all their
    descendants, read from /proc."""
    children: dict[int, list[int]] = {}
    for ent in os.listdir("/proc"):
        if not ent.isdigit():
            continue
        try:
            with open(f"/proc/{ent}/stat", encoding="utf-8") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(ent))
    total_kb = 0
    todo, seen = list(root_pids), set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def iso_epoch(stamp: str) -> float:
    """Epoch seconds of a progress report's ``timestamp`` (ISO, UTC)."""
    return datetime.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def stream_layers(recs: list[dict]) -> dict:
    """Streaming counters of one pass from its pipelines' progress
    reports: median per-batch durations, and the state each pipeline
    holds after its last batch. All zero for batch workloads."""
    prog = [p for r in recs for p in r.get("progress", ())]

    def med(values):
        return statistics.median(values) if values else 0.0

    def last_state(r, key):
        if not r.get("progress"):
            return 0
        return sum(op.get(key, 0) for op in r["progress"][-1].get("stateOperators", ()))

    return {
        "stream.add_batch_ms": med([p["durationMs"].get("addBatch", 0) for p in prog]),
        "stream.planning_ms": med([p["durationMs"].get("queryPlanning", 0) for p in prog]),
        "stream.wal_commit_ms": med([p["durationMs"].get("walCommit", 0) for p in prog]),
        "stream.state_rows": sum(last_state(r, "numRowsTotal") for r in recs),
        "stream.state_mem_mb": sum(last_state(r, "memoryUsedBytes") for r in recs) / 1e6,
        "stream.state_commit_ms": med(
            [sum(op.get("commitTimeMs", 0) for op in p.get("stateOperators", ()))
             for p in prog]
        ),
        "stream.sink_files": sum(r.get("sink_files", 0) for r in recs),
    }
