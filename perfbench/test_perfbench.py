"""Tests of the benchmark itself: ``python3 -m pytest perfbench``.

Each workload runs once untraced and once traced on tiny inputs
(``--smoke``); the untraced run starts outside the repository root with
no PYTHONPATH, as a user's shell might.
"""

from __future__ import annotations

import collections
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _run(workload: str, trace: int, cwd: str = ROOT, env=None):
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )


def test_benchmark_json_matches_the_definitions():
    b = _benchmark_json()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert b["workloads"] == [{"name": w.name, "why": w.why} for w in WORKLOADS.values()]
    assert b["end_to_end"] == [
        {"name": m.name, "unit": m.unit, "better": m.better, "bound": m.bound}
        for m in END_TO_END
    ]
    assert b["per_layer"] == [
        {"name": m.name, "unit": m.unit, "better": m.better} for m in PER_LAYER
    ]
    names = [m["name"] for m in (*b["workloads"], *b["end_to_end"], *b["per_layer"])]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in (*b["end_to_end"], *b["per_layer"]))
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in b["workloads"])
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert all(0 < v <= 0.25 for v in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert 1 <= b["run_seconds"] <= 60 and 2 <= len(b["workloads"]) <= 8


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_runs_are_correct_and_print_the_declared_metrics(workload):
    b = _benchmark_json()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    for trace, declared in ((0, b["end_to_end"]), (1, b["per_layer"])):
        proc = _run(workload, trace, cwd=HERE if trace == 0 else ROOT, env=env)
        assert proc.returncode == 0, proc.stderr[-3000:]
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] is True, proc.stdout
        assert result["failed"] == 0 and result["attempted"] >= 1
        assert list(result["metrics"]) == [m["name"] for m in declared]
        for m in declared:
            assert result["metrics"][m["name"]]["unit"] == m["unit"]
        if trace:
            path = next(x[len("trace: "):] for x in lines if x.startswith("trace: "))
            _check_spans(path)


def _check_spans(path: str) -> None:
    """Each traced query's build + plan + exec + release spans cover its
    wall time to within 5%."""
    with open(path, encoding="utf-8") as fh:
        trace = json.load(fh)
    spans = trace["spans"]
    assert {"setup", "session", "catalog", "first_pass", "pass", "query",
            "exec"} <= {s["name"] for s in spans}
    children = collections.defaultdict(list)
    for s in spans:
        assert s["run"] == trace["run"] and s["end"] >= s["start"]
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    queries = [s for s in spans if s["name"] == "query"]
    assert queries
    for q in queries:
        wall = q["end"] - q["start"]
        layers = sum(c["end"] - c["start"] for c in children[q["id"]]
                     if c["name"] in ("build", "plan", "exec", "release"))
        assert abs(wall - layers) <= 0.05 * wall, (q, layers)


def test_fails_without_the_library():
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command exits non-zero without printing a result."""
    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "text-curation",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
