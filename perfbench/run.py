"""The repository benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload text-curation --seed 1 --seconds 25 --trace 0

A run generates (or reuses) its seeded inputs, then sets a Spark session
up from a cold start: the library import and the JVM launch in
``get_spark``, a catalog load of the workload's tables and an untimed
warm-up pass. It then runs timed passes for ``--seconds`` (closed loop:
one query or micro-batch at a time), checks the outputs it collected
against their oracles, and prints a summary followed by one JSON line:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.

A traced run alternates untraced and traced passes. For the traced ones
it keeps spans (setup, query, build, plan, exec, release, micro-batch)
in memory, reads Spark's job and stage accounting and the streams'
progress reports from outside, writes everything to
``.perfbench/traces/`` and reports traced minus untraced ``pass_s`` as
``trace.overhead_s``.

Everything a run writes stays under ``.perfbench/`` in the checkout.
``--smoke`` shrinks the inputs for the benchmark's own tests.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402

import datagen  # noqa: E402
import verify  # noqa: E402
from tracing import (  # noqa: E402
    Py4jCounter,
    SparkAccounts,
    Tracer,
    count_exchanges,
    iso_epoch,
    job_totals,
    process_tree_peak_mb,
    stream_layers,
)
from workloads import CORES, END_TO_END, PER_LAYER, SMOKE_SF, WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
LIBRARY = "algorithmproject_spark_spark"
STAT_PASSES = 5
PIPELINES = ("window_agg", "user_profile", "dedup")
KEEP_TRACES = 16


def _prepare_env(run_dir: str) -> None:
    """Keep every file the run (and Spark, and the Python workers) writes
    inside the checkout, and make the library importable by the Python
    workers whatever the working directory."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # collected timestamps are local wall-clock; the oracle's are UTC
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, ROOT)


def _sink_files(path: str) -> int:
    """Data files a parquet sink has written so far."""
    return sum(f.endswith(".parquet") for f in os.listdir(path)) if os.path.isdir(path) else 0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    """One workload run: set-up, timed passes, verification, metrics."""

    def __init__(self, wl, data_dir: str, run_dir: str, trace: bool, run_id: str):
        self.wl = wl
        self.dir = data_dir
        self.run_dir = run_dir
        self.trace = trace
        self.tracer = Tracer(run_id)
        self.spark = None
        self.counter = self.accounts = None
        self.ops = self.failed = self.wrong = self.verified = 0
        self.errors: list[str] = []
        self.expected = None
        self.pipes: dict[str, tuple] = {}  # stream: name -> (query, source, sink)
        self.fed = 0  # stream: micro-batch files fed to the current pipelines
        self.fed_until: dict[str, float] = {}  # stream: pipeline -> end of its last op

    # -- session ------------------------------------------------------------
    def _start_session(self) -> None:
        from algorithmproject_spark_spark.session import get_spark

        tmp = os.path.join(self.run_dir, "tmp")
        self.spark = get_spark(
            f"perfbench-{self.wl.name}",
            master=f"local[{CORES}]",
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            },
        )
        if self.trace:
            self.counter = Py4jCounter()
            self.accounts = SparkAccounts(self.spark)

    def close(self) -> None:
        """Stop the session, the JVM and its Python workers; wait for them."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        for q in self.spark.streams.active:
            q.stop()
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)

    def setup(self, t_begin: float) -> dict:
        """The cold set-up: session, catalog load, untimed warm-up pass.
        ``t_begin`` is when the process started, moved on by the time
        spent making the inputs."""
        from algorithmproject_spark_spark.sources.catalog import load_table

        self.tracer.keep = self.trace
        with self.tracer.span("setup"):
            with self.tracer.span("session") as s_session:
                self._start_session()
            with self.tracer.span("catalog") as s_catalog:
                for table in self.wl.tables:
                    load_table(self.spark, self.dir, table)
            with self.tracer.span("first_pass") as s_first:
                if self.wl.stream_batches:
                    self._start_pipelines("s")
                    self._stream_round("s", traced=False)
                else:
                    _, _, outputs = self._batch_pass("s", False, collect=True)
        self.tracer.keep = False
        if not self.wl.stream_batches:
            self.expected = verify.oracle_rows(self.dir, self.wl.queries)
            self._check(outputs)
        return {
            "total": s_first["end"] - t_begin,
            "session": s_session["end"] - t_begin,
            "catalog": s_catalog["end"] - s_catalog["start"],
            "first_pass": s_first["end"] - s_first["start"],
        }

    def _fail(self, op: str, exc: Exception) -> None:
        self.failed += 1
        self.errors.append(f"{op}: {type(exc).__name__}: {exc}"[:400])

    # -- batch workloads ------------------------------------------------------
    def _run_query(self, name: str, tag: str, collect: bool, traced: bool):
        """build → plan → execute → release for one registry query.
        Returns the op record and the collected rows; (None, None) if it
        raised."""
        from algorithmproject_spark_spark.cacheutil import release_caches
        from algorithmproject_spark_spark.queries import REGISTRY
        from algorithmproject_spark_spark.queries.itemsets import clear_itemset_cache

        spark, sc, span = self.spark, self.spark.sparkContext, self.tracer.span
        rec: dict = {"op": name}
        out = None
        self.ops += 1
        if traced:
            self.counter.fence()
        try:
            with span("query", query=name) as s_query:
                with span("build") as s_build:
                    if traced:
                        sc.setJobGroup(f"{tag}/{name}/build", name)
                        self.counter.on()
                    try:
                        df = REGISTRY[name].fn(spark, self.dir)
                    finally:
                        if traced:
                            rec["py4j_sends"] = self.counter.off()
                with span("plan") as s_plan:
                    if traced:
                        sc.setJobGroup(f"{tag}/{name}/plan", name)
                    df._jdf.queryExecution().executedPlan()
                with span("exec") as s_exec:
                    if traced:
                        sc.setJobGroup(f"{tag}/{name}/exec", name)
                    if collect:
                        out = (df.columns, [tuple(r) for r in df.collect()])
                    else:
                        df.write.format("noop").mode("overwrite").save()
                if traced:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    rec["persisted_rdds"] = sc._jsc.getPersistentRDDs().size()
                with span("release") as s_release:
                    release_caches()
                    clear_itemset_cache()
        except Exception as exc:  # noqa: BLE001 — a failed op is counted; the run goes on
            self._fail(name, exc)
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
            release_caches()
            clear_itemset_cache()
            return None, None
        if traced:
            rec["exchanges"] = count_exchanges(df)
        for key, s in (("wall", s_query), ("build", s_build), ("plan", s_plan),
                       ("exec", s_exec), ("release", s_release)):
            rec[key] = s["end"] - s["start"]
        return rec, out

    def _batch_pass(self, tag: str, traced: bool, collect: bool = False):
        recs, outputs = [], []
        with self.tracer.span("pass", tag=tag, traced=traced) as s_pass:
            for name in self.wl.queries:
                rec, out = self._run_query(name, tag, collect, traced)
                if rec is not None:
                    recs.append(rec)
                    outputs.append((name, out))
        return s_pass["end"] - s_pass["start"], recs, outputs

    def _check(self, outputs) -> None:
        for name, out in outputs:
            self.verified += 1
            if not verify.same_rows(out, self.expected[name]):
                self.wrong += 1
                self.errors.append(f"{name}: result differs from its oracle")

    # -- stream workload ------------------------------------------------------
    def _stream_schema(self):
        from algorithmproject_spark_spark.sources.catalog import load_table

        return load_table(self.spark, self.dir, "events").schema

    def _start_pipelines(self, tag: str) -> None:
        """Build the three streaming twins, each over its own empty source
        directory, and start them on their sinks."""
        from algorithmproject_spark_spark.streaming import (
            dedup_stream,
            stream_read_parquet,
            stream_write_memory,
            stream_write_parquet,
            user_profile_stateful,
            windowed_value_agg,
        )

        twins = {"window_agg": windowed_value_agg,
                 "user_profile": user_profile_stateful,
                 "dedup": dedup_stream}
        self.pipes, self.fed = {}, 0
        for name in PIPELINES:
            src = os.path.join(self.run_dir, tag, name)
            os.makedirs(src)
            with self.tracer.span("build", query=name):
                stream = stream_read_parquet(
                    self.spark, src, self._stream_schema(), max_files_per_trigger=1
                )
                df = twins[name](stream)
            if name == "window_agg":
                sink = os.path.join(self.run_dir, tag, "sink")
                q = stream_write_parquet(df, sink, sink + ".ckpt")
            else:
                sink = f"{name}_{tag}"
                mode = "update" if name == "user_profile" else "append"
                q = stream_write_memory(df, sink, output_mode=mode)
            self.pipes[name] = (q, src, sink)

    def _stream_round(self, tag: str, traced: bool):
        """Feed the next micro-batch file to each pipeline in turn: drop it
        into the pipeline's source directory and wait until the pipeline
        has processed and committed it, so one micro-batch runs at a time."""
        name_k = f"part-{self.fed:04d}.parquet"
        self.fed += 1
        recs = []
        with self.tracer.span("pass", tag=tag, traced=traced) as s_pass:
            for name, (q, src, sink) in self.pipes.items():
                self.ops += 1
                files = _sink_files(sink) if traced and name == "window_agg" else 0
                e0 = time.time()
                try:
                    with self.tracer.span("query", query=name) as s_query:
                        with self.tracer.span("exec") as s_exec:
                            tmp = os.path.join(src, "." + name_k)
                            shutil.copyfile(os.path.join(self.dir, "stream", name_k), tmp)
                            os.rename(tmp, os.path.join(src, name_k))
                            q.processAllAvailable()
                except Exception as exc:  # noqa: BLE001 — a failed op is counted; the run goes on
                    self._fail(name, exc)
                    continue
                if traced and name == "window_agg":
                    files = _sink_files(sink) - files
                # a trigger that starts polling just before the file lands
                # reports a start time before e0, so the op's epoch span
                # begins where the pipeline's previous op ended
                e1 = time.time()
                recs.append({"op": name, "run_id": str(q.runId),
                             "epoch": (self.fed_until.get(name, e0), e1),
                             "pass_span": s_pass["id"],
                             "wall": s_query["end"] - s_query["start"],
                             "exec": s_exec["end"] - s_exec["start"],
                             "build": 0.0, "plan": 0.0, "release": 0.0,
                             "sink_files": files})
                self.fed_until[name] = e1
        return s_pass["end"] - s_pass["start"], recs

    def _attribute_progress(self, passes: list[dict]) -> None:
        """Give every op of the timed passes the micro-batches its pipeline
        started between the end of its previous op and the end of this one
        (from the stream's own progress reports), and record them as
        micro-batch spans of the traced passes."""
        progress = {}
        for q, _, _ in self.pipes.values():
            progress[str(q.runId)] = [json.loads(p.json) for p in q.recentProgress]
        epoch_to_perf = time.perf_counter() - time.time()
        for p in passes:
            self.tracer.keep = p["traced"]
            for rec in p["ops"]:
                e0, e1 = rec["epoch"]
                mine = [b for b in progress[rec["run_id"]]
                        if e0 < iso_epoch(b["timestamp"]) <= e1]
                rec["progress"] = mine
                for b in mine:
                    start = iso_epoch(b["timestamp"]) + epoch_to_perf
                    self.tracer.add("micro_batch", start,
                                    start + b["durationMs"]["triggerExecution"] / 1e3,
                                    rec["pass_span"], batch=b["batchId"],
                                    rows=b["numInputRows"])
        self.tracer.keep = False

    def check_stream(self) -> None:
        """After the window: each pipeline's sink against its batch twin
        over every file the pipeline was fed."""
        for q, _, _ in self.pipes.values():
            q.stop()
        paths = [os.path.join(self.dir, "stream", f"part-{k:04d}.parquet")
                 for k in range(self.fed)]
        expected = verify.stream_expected(self.spark, paths, self._stream_schema())
        for name, (_, _, sink) in self.pipes.items():
            self.verified += 1
            if not verify.stream_output_ok(self.spark, name, sink, expected):
                self.wrong += 1
                self.errors.append(f"{name}: stream output differs from its batch twin")

    # -- timed window ---------------------------------------------------------
    def window(self, seconds: float) -> list[dict]:
        """Timed passes until ``seconds`` have elapsed. A traced run
        alternates untraced and traced passes."""
        passes = []
        t_end = time.perf_counter() + seconds
        i = 0
        while True:
            traced = self.trace and i % 2 == 1
            tag = f"p{i}"
            self.tracer.keep = traced
            if self.wl.stream_batches:
                pass_s, recs = self._stream_round(tag, traced)
            else:
                pass_s, recs, _ = self._batch_pass(tag, traced)
            self.tracer.keep = False
            p = {"tag": tag, "traced": traced, "pass_s": pass_s, "ops": recs}
            if traced:
                p["accounts"] = self._accounts(tag, recs)
            passes.append(p)
            i += 1
            out_of_input = self.wl.stream_batches and self.fed >= self.wl.stream_batches
            if out_of_input or (
                time.perf_counter() >= t_end and (not self.trace or i >= 2)
            ):
                break
        if self.wl.stream_batches:
            self._attribute_progress(passes)
        return passes

    # -- per-layer accounting (traced passes) --------------------------------
    def _accounts(self, tag: str, recs: list[dict]) -> dict:
        """Spark's job and stage accounting for one traced pass, read from
        the status store right after it (outside the timed spans)."""
        jobs = self.accounts.jobs()
        stages = self.accounts.stages()

        def group(j):
            return j.get("jobGroup") or ""

        if self.wl.stream_batches:
            runs = {r["run_id"]: r["epoch"] for r in recs}
            exec_jobs = [
                j for j in jobs if group(j) in runs
                and runs[group(j)][0] * 1e3 < j["submissionTime"] <= runs[group(j)][1] * 1e3
            ]
            build_jobs = []
        else:
            mine = [j for j in jobs if group(j).startswith(tag + "/")]
            exec_jobs = [j for j in mine if group(j).endswith("/exec")]
            build_jobs = [j for j in mine if group(j).endswith("/build")]
        return {"build": job_totals(build_jobs, stages),
                "exec": job_totals(exec_jobs, stages)}


def _pass_layers(p: dict) -> dict:
    recs, build, ex = p["ops"], p["accounts"]["build"], p["accounts"]["exec"]
    exec_s = sum(r["exec"] for r in recs)
    out = {
        "build.s": sum(r["build"] for r in recs),
        "build.jobs": build["jobs"],
        "build.job_s": build["job_s"],
        "build.py4j_sends": sum(r.get("py4j_sends", 0) for r in recs),
        "plan.s": sum(r["plan"] for r in recs),
        "exec.s": exec_s,
        "exec.exchanges": sum(r.get("exchanges", 0) for r in recs),
        "exec.busy_ratio": ex["run_s"] / (CORES * exec_s) if exec_s else 0.0,
        "cache.release_s": sum(r["release"] for r in recs),
        "cache.persisted_rdds": sum(r.get("persisted_rdds", 0) for r in recs),
    }
    for key in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "input_mb",
                "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        out[f"exec.{key}"] = ex[key]
    out.update(stream_layers(recs))
    return out


def _settled(passes: list[dict], traced: bool = False) -> list[dict]:
    """The untraced (or traced) passes the metrics are taken from: the
    last ``STAT_PASSES`` of the window. Batch pass times keep falling
    over the first passes as the JIT compiles more of Spark's driver
    paths, so the early passes of a run vary most. A stream pass takes
    about 10 s, so a stream window holds only a few."""
    mine = [p for p in passes if p["traced"] == traced]
    return mine[-STAT_PASSES:]


def _op_ms(wl, passes: list[dict]) -> dict[str, list[float]]:
    """Per-operation latencies of the settled untraced passes, by query
    or pipeline: each query's wall time or, on the stream, each
    pipeline's trigger time (``triggerExecution``) for the micro-batches
    that carry data."""
    out: dict[str, list[float]] = {}
    for p in _settled(passes):
        for r in p["ops"]:
            if wl.stream_batches:
                lat = [b["durationMs"]["triggerExecution"] for b in r["progress"]
                       if b["numInputRows"] > 0]
            else:
                lat = [r["wall"] * 1e3]
            out.setdefault(r["op"], []).extend(lat)
    return out


def _geomean_of_medians(op_ms: dict[str, list[float]]) -> float:
    """Geometric mean over the queries (or pipelines) of each one's median
    latency. A median pooled over all of them flips between two queries
    whose latencies overlap; this weighs each query's relative change
    the same, however long the query runs."""
    meds = [statistics.median(v) for v in op_ms.values() if v]
    return math.exp(sum(math.log(m) for m in meds) / len(meds)) if meds else 0.0


def metric_values(bench: Bench, setup: dict, passes, gen_s: float, peak_mb: float):
    """(end-to-end, per-layer) metric values of one run."""
    pass_s = _median([p["pass_s"] for p in _settled(passes)])
    e2e = {
        "setup_s": setup["total"],
        "pass_s": pass_s,
        "op_ms.geomean": _geomean_of_medians(_op_ms(bench.wl, passes)),
    }
    layer = {
        "gen.s": gen_s,
        "setup.session_s": setup["session"],
        "setup.catalog_s": setup["catalog"],
        "setup.first_pass_s": setup["first_pass"],
        "mem.peak_rss_mb": peak_mb,
    }
    traced = _settled(passes, traced=True)
    if traced:
        per_pass = [_pass_layers(p) for p in traced]
        for key in per_pass[0]:
            layer[key] = _median([pl[key] for pl in per_pass])
        layer["trace.overhead_s"] = _median([p["pass_s"] for p in traced]) - pass_s
    return e2e, layer


def _latencies(op_ms: dict[str, list[float]]) -> str:
    """Each query's (or pipeline's) median latency, then the pooled
    median and the highest percentile with at least ten samples beyond
    it."""
    pooled = sorted(x for v in op_ms.values() for x in v)
    n = len(pooled)
    out = ", ".join(f"{k} p50={statistics.median(v):.1f}" for k, v in op_ms.items() if v)
    out += f"; pooled p50={_median(pooled):.1f} ms, "
    if n < 20:
        return out + f"n={n}, too few for a tail percentile"
    q = 100 * (n - 10) // n
    return out + f"p{q}={pooled[-(-q * n // 100) - 1]:.1f} ms, n={n}"


def _prune(directory: str, keep: int) -> None:
    entries = sorted(os.scandir(directory), key=lambda e: e.stat().st_mtime, reverse=True)
    for e in entries[keep:]:
        os.remove(e.path)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    if not os.path.isdir(os.path.join(ROOT, LIBRARY)):
        print(f"perfbench: no {LIBRARY}/ package in {ROOT}", file=sys.stderr)
        return 2

    run_id = f"{wl.name}-s{args.seed}-{uuid.uuid4().hex[:8]}"
    run_dir = os.path.join(WORK, "runs", run_id)
    _prepare_env(run_dir)
    t_inputs = time.perf_counter()
    data_dir, size, gen_s = datagen.cached_inputs(
        os.path.join(WORK, "inputs"), wl.name + ("-smoke" if args.smoke else ""),
        args.seed, SMOKE_SF if args.smoke else wl.sf, wl.tables, wl.stream_batches,
    )
    t_inputs = time.perf_counter() - t_inputs

    bench = Bench(wl, data_dir, run_dir, bool(args.trace), run_id)
    try:
        setup = bench.setup(T_PROCESS + t_inputs)
        passes = bench.window(args.seconds)
        peak_mb = process_tree_peak_mb([os.getpid()])
        if wl.stream_batches:
            bench.check_stream()
    finally:
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e, layer = metric_values(bench, setup, passes, gen_s, peak_mb)
    specs, values = (PER_LAYER, layer) if args.trace else (END_TO_END, e2e)
    metrics = {m.name: {"value": values[m.name], "unit": m.unit} for m in specs}

    print(f"perfbench {wl.name} seed={args.seed}: inputs {size['rows']} rows "
          f"+ {sum(size['stream_file_rows'])} stream rows, {size['mb']} MB, "
          f"generated in {gen_s:.2f} s")
    print(f"set-up {setup['total']:.2f} s; {len(passes)} timed passes ({sum(p['traced'] for p in passes)} "
          f"traced): " + ", ".join(f"{p['pass_s']:.3f}" for p in passes)
          + f" s; op latency {_latencies(_op_ms(wl, passes))}")
    print(f"ops attempted {bench.ops}, failed {bench.failed}; outputs verified "
          f"{bench.verified}, wrong {bench.wrong}")
    for err in bench.errors:
        print(f"  error: {err}")
    if args.trace:
        tdir = os.path.join(WORK, "traces")
        os.makedirs(tdir, exist_ok=True)
        path = os.path.join(tdir, f"{run_id}.json")
        bench.tracer.dump(path, {"workload": wl.name, "seed": args.seed,
                                 "setup": setup, "passes": passes,
                                 "end_to_end": e2e, "per_layer": layer})
        _prune(tdir, KEEP_TRACES)
        print(f"trace: {path}")
    print(json.dumps({
        "correct": bench.wrong == 0 and bench.failed == 0 and bench.verified > 0,
        "attempted": bench.ops,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
