"""The cost shape of every registered entry, and its committed golden.

One build of each entry at sf0.001, inside its own job group, records:

- ``build_jobs``: the Spark jobs started while the DataFrame is built;
- one count per name in :data:`OPERATORS`: the lines of the initial
  ``executedPlan`` tree string whose head is that node, so operator
  names inside expressions are never counted;
- ``global_windows``: the windowspecdefinitions with an empty partition
  spec. Such a window moves every row to one partition: required
  semantics for the verbatim corpus's global ranks, a scale defect
  anywhere else.

``artifacts/cost_shape.json`` holds one line per entry, keys sorted, so a
plan or job change shows as a one-line diff.
tests/test_cost_shape.py::test_cost_shape_golden runs the same sweep and fails
on any cell that differs; a change that moves a count regenerates the
golden in the same commit.

Usage: python tools/cost_shape.py   (rewrites artifacts/cost_shape.json)
"""

from __future__ import annotations

import json
import os
import re
import sys
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

GOLDEN = os.path.join(REPO, "artifacts", "cost_shape.json")
SF_DIR = "/root/testdata/sf0.001"

OPERATORS = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "BroadcastExchange",
    "BroadcastHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "Exchange",
    "Expand",
    "FlatMapGroupsInPandas",
    "Generate",
    "HashAggregate",
    "MapInPandas",
    "ObjectHashAggregate",
    "ReusedExchange",
    "ShuffledHashJoin",
    "Sort",
    "SortAggregate",
    "SortMergeJoin",
    "TakeOrderedAndProject",
    "Window",
    "WindowGroupLimit",
)

# Entries whose first build publishes a stored index (catalog.ensure_published)
# and so runs the index build's jobs too; the sweep builds each once first, so
# a fresh checkout and a warm one record the same build_jobs.
STORED_INDEX_ENTRIES = (
    "pipe_ann_ivf_pq_serve",
    "pipe_ann_two_level_serve",
    "pipe_embedding_near_dup_rp_served",
    "pipe_incremental_semantic_dedup_served",
)

_HEAD = re.compile(r"^[ :+-]*(\w+)", re.M)
_DIRECTION = re.compile(r"(ASC|DESC) NULLS (FIRST|LAST)$")


def node_counts(plan: str) -> dict[str, int]:
    """How many lines of the tree string ``plan`` start with each node of
    :data:`OPERATORS`, after the tree's ``:- +-`` prefix."""
    counts = dict.fromkeys(OPERATORS, 0)
    for head in _HEAD.findall(plan):
        if head in counts:
            counts[head] += 1
    return counts


def _split_top_level(s: str) -> list[str]:
    """Args of a call body ``s`` (text after the opening paren), split on
    top-level commas only, stopping at the call's closing paren."""
    args: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            if depth == 0:
                break
            depth -= 1
        if ch == "," and depth == 0:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    args.append("".join(cur).strip())
    return args


def global_window_count(plan: str) -> int:
    """Number of windowspecdefinition(...) occurrences in ``plan`` with an
    empty partition spec. The printed arg order is [partition cols...,
    sort exprs..., frame]; sort exprs end with a direction, partition
    cols don't — so a spec whose every non-frame arg carries ASC/DESC has
    no partition columns and is a global window."""
    n = 0
    for m in re.finditer(r"windowspecdefinition\(", plan):
        args = _split_top_level(plan[m.end() :])
        body = [a for a in args if not a.startswith("specifiedwindowframe")]
        if body and all(_DIRECTION.search(a) for a in body):
            n += 1
    return n


def sweep(spark, queries) -> dict[str, dict[str, int]]:
    """One golden row per entry of ``queries``, built at :data:`SF_DIR`
    after the stored indexes are published. A build that raises names
    its entry."""
    sc = spark.sparkContext
    for name in STORED_INDEX_ENTRIES:
        queries[name](spark, SF_DIR)
    rows = {}
    for name in sorted(queries):
        group = f"cost-shape-{uuid.uuid4()}"
        sc.setJobGroup(group, f"cost shape of {name}", False)
        try:
            df = queries[name](spark, SF_DIR)
        except Exception as exc:
            exc.add_note(f"while building registry entry {name}")
            raise
        finally:
            sc.setJobGroup("", "", False)
        plan = df._jdf.queryExecution().executedPlan().toString()
        rows[name] = {
            "build_jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
            "global_windows": global_window_count(plan),
            **node_counts(plan),
        }
    return rows


def dumps(rows: dict[str, dict[str, int]]) -> str:
    """JSON with one line per entry and sorted keys."""
    lines = [
        f"{json.dumps(name)}: {json.dumps(row, sort_keys=True)}"
        for name, row in sorted(rows.items())
    ]
    return "{\n" + ",\n".join(lines) + "\n}\n"


def diff(golden: dict, rows: dict) -> list[str]:
    """One ``entry column: old -> new`` line per cell that differs; an
    entry or column on one side only reads as None on the other."""
    out = []
    for name in sorted(golden.keys() | rows.keys()):
        old, new = golden.get(name, {}), rows.get(name, {})
        for col in sorted(old.keys() | new.keys()):
            if old.get(col) != new.get(col):
                out.append(f"{name} {col}: {old.get(col)} -> {new.get(col)}")
    return out


def main() -> int:
    from iceberg_benchmark_java_spark.queries import all_queries
    from iceberg_benchmark_java_spark.session import (
        build_session,
        local_test_config,
    )

    spark = build_session(local_test_config("cost-shape"))
    try:
        rows = sweep(spark, all_queries())
    finally:
        spark.stop()
    with open(GOLDEN, "w") as fh:
        fh.write(dumps(rows))
    print(f"wrote {len(rows)} entries to {os.path.relpath(GOLDEN, REPO)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
