"""Snapshot every registered query's OPTIMIZED logical plan to files.

Equivalence gate for the r13 one-parse conversions: converting a
Column-API tower to SQL text must leave the optimized plan IDENTICAL
(modulo expression ids, which differ per session). Snapshot before the
edit, snapshot after, diff the normalized texts — any real semantic
drift (literal type change, different cast, lost alias) shows up as a
plan diff long before an oracle run would catch it.

Usage: python tools/plan_snapshot.py <outdir> [query ...]
(no queries = whole registry). $SPARK_GRAFT_SF_DIR picks the data
(default sf0.001 — plan shape only, so the smallest fixture is right).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from algorithmproject_spark_spark.queries import REGISTRY
from algorithmproject_spark_spark.session import get_spark


def normalize(plan: str) -> str:
    """Strip session-dependent tokens: expression ids (#123), lambda
    variable ids (x_1 -> x_), cache-build run ids inside InMemoryRelation
    output, and parquet scan paths' temp fragments; then put every
    distinct-aggregate Expand in canonical order (:func:`_canon_expand`)."""
    plan = re.sub(r"#\d+", "#", plan)
    plan = re.sub(r"\b(lambda )?([a-zA-Z]\w*)_\d+\b", r"\1\2_", plan)
    plan = re.sub(r"LocalTableScan \[.*", "LocalTableScan [...]", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    plan = re.sub(r"lambda [A-Za-z_]\w*#", "lambda v#", plan)
    return _canon_expand(plan)


def _split_top(s: str) -> list[str]:
    """Split ``s`` at commas outside (), [] and {}."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(s[start:i].strip())
            start = i + 1
    out.append(s[start:].strip())
    return out


_EXPAND = re.compile(r"^(?P<pre>[ :|+-]*)Expand (?P<body>\[.*\])$")
_GID = "gid#"


def _canon_expand(plan: str) -> str:
    """RewriteDistinctAggregates numbers its distinct groups (``gid``)
    and orders their columns by iterating a hash map, so the same query
    can print its Expand, the partial Aggregate above it and the
    ``FILTER (WHERE gid# = n)`` references in a session-dependent order.
    Canonicalize: sort the Expand columns by name, sort its rows, number
    ``gid`` by row position, rename the ``gid`` references in every
    ancestor line, and reorder the parent Aggregate's leading Expand
    columns to match."""
    lines = plan.split("\n")
    for i, line in enumerate(lines):
        m = _EXPAND.match(line)
        if not m:
            continue
        rows_txt, outs_txt = _split_top(m["body"])
        outs = _split_top(outs_txt[1:-1])
        if _GID not in outs:
            continue
        rows = [_split_top(r[1:-1]) for r in _split_top(rows_txt[1:-1])]
        perm = sorted(range(len(outs)), key=lambda j: outs[j])
        outs = [outs[j] for j in perm]
        rows = [[r[j] for j in perm] for r in rows]
        g = outs.index(_GID)
        rows.sort(key=lambda r: r[:g] + r[g + 1:])
        gids = {r[g]: str(k) for k, r in enumerate(rows)}
        for k, r in enumerate(rows):
            r[g] = str(k)
        lines[i] = (
            m["pre"] + "Expand ["
            + ", ".join("[" + ", ".join(r) + "]" for r in rows)
            + "], [" + ", ".join(outs) + "]"
        )
        rank = {o: k for k, o in enumerate(outs)}
        depth = len(m["pre"])
        for a in range(i - 1, -1, -1):
            a_depth = len(lines[a]) - len(lines[a].lstrip(" :|+-"))
            if a_depth >= depth:
                continue  # not an ancestor
            if depth == len(m["pre"]):  # the parent: the partial Aggregate
                lines[a] = _reorder_lists(lines[a], rank)
            depth = a_depth
            lines[a] = re.sub(
                r"\(gid# = (\d+)\)",
                lambda mm: f"(gid# = {gids.get(mm[1], mm[1])})",
                lines[a],
            )
    return "\n".join(lines)


def _reorder_lists(line: str, rank: dict[str, int]) -> str:
    """Sort the leading run of Expand output columns inside each
    top-level ``[...]`` list of ``line`` into canonical order."""
    head, bracket, rest = line.partition("[")
    if not bracket:
        return line
    parts = _split_top("[" + rest)
    for k, part in enumerate(parts):
        if not (part.startswith("[") and part.endswith("]")):
            continue
        items = _split_top(part[1:-1])
        n = 0
        while n < len(items) and items[n] in rank:
            n += 1
        items[:n] = sorted(items[:n], key=rank.__getitem__)
        parts[k] = "[" + ", ".join(items) + "]"
    return head + ", ".join(parts)


def main() -> int:
    outdir = sys.argv[1]
    names = sys.argv[2:] or sorted(REGISTRY)
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = get_spark("plan-snapshot")
    spark.sparkContext.setLogLevel("ERROR")

    from algorithmproject_spark_spark.cacheutil import release_caches
    from algorithmproject_spark_spark.queries.itemsets import clear_itemset_cache

    for name in names:
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            plan = str(df._jdf.queryExecution().optimizedPlan())
        except Exception as exc:
            plan = f"BUILD FAILED: {exc}"
        with open(os.path.join(outdir, f"{name}.txt"), "w", encoding="utf-8") as fh:
            fh.write(normalize(plan))
        release_caches()
        clear_itemset_cache()
        print(name, flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
