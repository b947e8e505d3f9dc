from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


# Declared plan traits, the source of truth for tools/plan_lint.py's
# allow-lists (r6 advice: a hand-kept name set in the linter rots; a
# trait declared AT the register site travels with the query):
#   "arrow"        — the plan intentionally contains Python eval nodes
#                    (Arrow kernel / Python Data Source / pyspark.ml)
#   "scalar_cross" — contains a BroadcastNestedLoopJoin whose build side
#                    is bounded by construction (broadcast 1-row
#                    aggregate or ≤k-row literal query set)
#   "global_sort"  — contains a designed rangepartitioning exchange
#                    (total order IS the semantics, or driver-sized)
PLAN_TRAITS = frozenset({"arrow", "scalar_cross", "global_sort"})


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL over the pre-registered views; None → rows-only check
    doc: str = ""
    plan: frozenset = frozenset()  # declared plan traits (PLAN_TRAITS)


# Write-once index of every named query. ``register`` is its only
# writer: a query's oracle, doc and plan traits are fixed at its
# ``@register`` site and never patched afterwards. Library modules do
# not read it either — a query that reuses another's oracle or function
# imports it from the defining module, so the registry's contents do
# not depend on import order. Readers are the tools, the tests,
# ``bench.py`` and ``__spark_entry__.py``.
REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = "", plan=()):
    """Decorator: add a query to the registry — the only way an entry
    is created, and entries are never rewritten.

    ``plan`` declares intentional plan shapes the linter would
    otherwise flag — see PLAN_TRAITS. Undeclared traits are lint
    FAILURES, so a new query reusing e.g. the RAKE Arrow kernel must
    say so here, where the reviewer sees it next to the query."""
    traits = frozenset(plan)
    unknown = traits - PLAN_TRAITS
    if unknown:
        raise ValueError(f"unknown plan traits {sorted(unknown)} for {name}")

    def wrap(fn: QueryFn) -> QueryFn:
        # a duplicate name would silently SHADOW the earlier query in
        # every sweep and driver snapshot (round-8 found a real
        # collision this way) — fail at import time instead
        if name in REGISTRY:
            raise ValueError(f"duplicate query registration: {name}")
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, doc=doc, plan=traits
        )
        return fn

    return wrap
