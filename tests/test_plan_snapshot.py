"""tools/plan_snapshot.py normalization: RewriteDistinctAggregates picks
its Expand order per session, so two orderings of one plan must
normalize to the same text, and a real change must still show."""

from __future__ import annotations

import importlib.util
from pathlib import Path

_SPEC = importlib.util.spec_from_file_location(
    "plan_snapshot",
    Path(__file__).resolve().parent.parent / "tools" / "plan_snapshot.py",
)
plan_snapshot = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(plan_snapshot)

_CHILD = """      +- Project [v_user#31L AS user_id#40L, view_id#32L, click_id#35L]
         +- Join LeftOuter, (v_user#31L = c_user#34L)
            :- Project [user_id#3L AS v_user#31L, event_id#1L AS view_id#32L]
            :  +- Relation [event_id#1L,user_id#3L] parquet
            +- Project [user_id#13L AS c_user#34L, event_id#11L AS click_id#35L]
               +- Relation [event_id#11L,user_id#13L] parquet"""

_CASE = "CASE WHEN (click_id IS NULL) THEN view_id END"

# the unattributed-views twin as printed by two sessions: distinct
# groups swapped — gid labels, Expand columns and rows all permuted
ORDER_A = f"""Aggregate [user_id#40L], [user_id#40L, count(view_id#32L) FILTER (WHERE (gid#52 = 1)) AS n_views#45L, count({_CASE}#51L) FILTER (WHERE (gid#52 = 2)) AS n_unattributed#46L]
+- Aggregate [user_id#40L, view_id#32L, {_CASE}#51L, gid#52], [user_id#40L, view_id#32L, {_CASE}#51L, gid#52]
   +- Expand [[user_id#40L, view_id#32L, null, 1], [user_id#40L, null, CASE WHEN isnull(click_id#35L) THEN view_id#32L END, 2]], [user_id#40L, view_id#32L, {_CASE}#51L, gid#52]
{_CHILD}"""

ORDER_B = f"""Aggregate [user_id#140L], [user_id#140L, count(view_id#132L) FILTER (WHERE (gid#152 = 2)) AS n_views#145L, count({_CASE}#151L) FILTER (WHERE (gid#152 = 1)) AS n_unattributed#146L]
+- Aggregate [user_id#140L, {_CASE}#151L, view_id#132L, gid#152], [user_id#140L, {_CASE}#151L, view_id#132L, gid#152]
   +- Expand [[user_id#140L, CASE WHEN isnull(click_id#135L) THEN view_id#132L END, null, 1], [user_id#140L, null, view_id#132L, 2]], [user_id#140L, {_CASE}#151L, view_id#132L, gid#152]
{_CHILD}"""


def test_expand_orderings_normalize_to_same_text():
    assert ORDER_A != ORDER_B
    assert plan_snapshot.normalize(ORDER_A) == plan_snapshot.normalize(ORDER_B)


def test_swapped_filter_groups_still_differ():
    # n_views reading the unattributed group is a different query
    wrong = ORDER_A.replace("(gid#52 = 1)", "(gid#52 = 9)").replace(
        "(gid#52 = 2)", "(gid#52 = 1)"
    ).replace("(gid#52 = 9)", "(gid#52 = 2)")
    assert plan_snapshot.normalize(wrong) != plan_snapshot.normalize(ORDER_B)

