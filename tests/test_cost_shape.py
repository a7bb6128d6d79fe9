"""The cost-shape golden: one build of every registered entry, checked
against artifacts/cost_shape.json (tools/cost_shape.py writes it).

Its own module, so no module-scoped fixture of another plan test (the
partitioned TPC-DS views of tests/test_plans.py) is live while the
sweep builds the corpus entries.
"""

from __future__ import annotations

import json

import pytest

from iceberg_benchmark_java_spark.queries import all_queries
from tools import cost_shape

QUERIES = all_queries()


# An initial AQE plan as Spark prints it: a node per line after the
# ":- +-" tree prefix; "Exchange" and "Window" also appear inside
# expressions, which are not nodes.
_PLAN = """AdaptiveSparkPlan isFinalPlan=false
+- Window [rank(x#1) windowspecdefinition(x#1 ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS r#2], [x#1 ASC NULLS FIRST]
   +- Sort [x#1 ASC NULLS FIRST], false, 0
      +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=9]
         +- BroadcastHashJoin [k#3], [k#4], Inner, BuildRight, false
            :- Project [x#1, k#3 AS Window#8, Exchange#6]
            :  +- FileScan parquet [x#1,k#3,Exchange#6] Batched: true, ReadSchema: struct<x:int,k:int>
            +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, int, true]),false), [plan_id=7]
               +- ReusedExchange [k#4], Exchange hashpartitioning(k#5, 4), ENSURE_REQUIREMENTS, [plan_id=5]
"""


def test_node_counts_read_line_heads_only():
    counts = cost_shape.node_counts(_PLAN)
    assert {op: n for op, n in counts.items() if n} == {
        "Window": 1,
        "Sort": 1,
        "Exchange": 1,
        "BroadcastHashJoin": 1,
        "BroadcastExchange": 1,
        "ReusedExchange": 1,
    }
    assert set(counts) == set(cost_shape.OPERATORS)
    assert cost_shape.global_window_count(_PLAN) == 1


def test_cost_shape_diff_names_entry_and_column():
    row = {"build_jobs": 2, "global_windows": 0, **cost_shape.node_counts(_PLAN)}
    golden = {"a": row, "b": row}
    moved = {
        "a": {**row, "Exchange": 2, "build_jobs": 3},
        "b": {**row, "global_windows": 1},
    }
    assert cost_shape.diff(golden, golden) == []
    assert cost_shape.diff(golden, moved) == [
        "a Exchange: 1 -> 2",
        "a build_jobs: 2 -> 3",
        "b global_windows: 0 -> 1",
    ]
    assert cost_shape.diff(golden, {"a": row}) == [
        f"b {col}: {n} -> None" for col, n in sorted(row.items())
    ]


def test_cost_shape_golden_is_one_line_per_entry():
    """The committed golden covers the registry, one sorted-key line per
    entry, exactly as the tool writes it."""
    with open(cost_shape.GOLDEN) as fh:
        text = fh.read()
    golden = json.loads(text)
    assert set(golden) == set(QUERIES)
    assert cost_shape.dumps(golden) == text
    assert text.count("\n") == len(golden) + 2


# Entries whose physical plan is AUDITED to contain unpartitioned
# (single-partition) windows — every one either required semantics or a
# provably bounded input side. Any entry adopting the pattern without an
# audit fails test_cost_shape_golden until it is justified here
# (the r10 verdict's What's-wrong #3: WindowExec single-partition
# warnings during bench with no inventory of who triggers them).
GLOBAL_WINDOW_ALLOWED = {
    # Verbatim reference SQL — the global rank IS the reference's
    # workload semantics (the texts run unmodified by design).
    "corpus_tpcds_q44",
    "corpus_tpcds_q49",
    # Deliberate global-window twins kept for parity/demonstration; each
    # has a scale-safe partitioned/approx twin registered alongside
    # (win_quartiles_scale, whose golden row has no Window node).
    "win_ntile_quartiles",
    "win_rank_global_best_worst",
    # Bounded-side windows: row_number() over the orthant seed table in
    # similarity.seed_centroids (Window.orderBy(bucket) over <= 2^bits <=
    # n_centroids rows BY CONSTRUCTION, broadcast-hinted). The window
    # moves centroid-table rows, never corpus rows; occurrence counts
    # multiply with plan-branch re-execution, not with data.
    "pipe_ann_ivf_pq_probe_sweep",
    "pipe_ann_ivf_pq_recall",
    "pipe_ann_ivf_pq_recall_tuned",
    "pipe_ann_ivf_pq_topk",
    "pipe_ann_ivf_refined",
    "pipe_ann_ivf_topk",
    "pipe_ann_probe_sweep",
    "pipe_ann_recall",
    "pipe_ann_two_level_probe_sweep",
    "pipe_ann_two_level_recall",
    "pipe_ann_two_level_recall_tuned",
    # PRUNED in r11 optimization round 1 (the list's leave-direction in
    # action): pipe_semantic_dedup, pipe_semantic_dedup_two_level,
    # pipe_semantic_dedup_split_price, pipe_embedding_cluster_mix,
    # pipe_ann_ivf_balance(*), pipe_incremental_semantic_dedup_reconcile
    # no longer show the seed-table window in their FINAL plans: their
    # only centroid consumer is nearest_centroid, whose argmax now runs
    # as an Arrow kernel over the driver-collected k-row centroid table —
    # the bounded window still executes, but inside the plan-build
    # collect job, not the registered entry's plan. Entries above keep
    # the window because their plans also consume the centroid table
    # through routing joins. The per-entry counts are the
    # global_windows column of artifacts/cost_shape.json. ((*)
    # ivf_balance left too: its remaining windows are cent_id-partitioned.)
}
# Entries audited to plan a CartesianProduct: verbatim reference SQL only.
CARTESIAN_ALLOWED = {"corpus_tpcds_q77"}
# Registry families that must stay JVM-side (the §2-B inventory).
RELATIONAL_PREFIXES = ("tpch_", "win_", "agg_", "sub_", "set_", "join_")


@pytest.mark.slow
def test_cost_shape_golden(spark):
    """Build every registered entry once and compare its build-time jobs,
    node counts and global windows with artifacts/cost_shape.json, after
    three registry rules that regenerating the golden cannot waive: the
    global-window entries are exactly the audited allowlist (both
    directions), no relational entry has a Python eval node, and only the
    audited entries plan a CartesianProduct. Known blind spot, by
    construction: windows buried inside localCheckpoint RDD buffers (the
    in-plan incremental-SemDeDup twin's seeding) are invisible to the
    final plan string; the serve-path plan tests cover those routes."""
    rows = cost_shape.sweep(spark, QUERIES)
    assert {n for n, r in rows.items() if r["global_windows"]} == GLOBAL_WINDOW_ALLOWED
    python = [
        n
        for n, r in rows.items()
        if n.startswith(RELATIONAL_PREFIXES)
        and r["ArrowEvalPython"] + r["BatchEvalPython"]
    ]
    assert not python, f"fell off the JVM path: {python}"
    assert {n for n, r in rows.items() if r["CartesianProduct"]} <= CARTESIAN_ALLOWED
    # One core plans differently: with one shuffle partition a
    # single-partition requirement needs no Exchange, and
    # catalog.rebalance_starved_scan adds no rebalance when
    # defaultParallelism is 1. The golden is recorded at 2 cores or more,
    # where the counts do not depend on the core count.
    if spark.sparkContext.defaultParallelism < 2:
        return
    with open(cost_shape.GOLDEN) as fh:
        golden = json.load(fh)
    changed = cost_shape.diff(golden, rows)
    assert not changed, (
        "cost shape moved (entry column: golden -> now); if intended, "
        "regenerate with python tools/cost_shape.py:\n" + "\n".join(changed)
    )
