"""Oracle-diff tests: every registered query vs its DuckDB oracle (sf0.001).

Mirrors the driver's gate (row count + columns + order-insensitive value
compare). The full sf0.01 sweep runs via tools/check_correctness.py; tests
use the smoke fixtures to stay fast.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.check_correctness import compare  # reuse the canonical comparator

from iceberg_benchmark_java_spark.queries import all_oracles, all_queries
from tests.conftest import SF_SMOKE

QUERIES = all_queries()
ORACLES = all_oracles()

# Three-tier invocation (the suite's wall time lives almost entirely in
# these per-entry oracle diffs — a 340-entry registry is ~2 Spark jobs +
# 1 DuckDB query each):
#   fast   — FAST_SET: one or two entries per query family, the smoke
#            signal a dev loop needs (`pytest -m "not slow and not medium"`).
#   medium — every other non-corpus entry. Full per-entry coverage without
#            the corpus re-execution (`pytest -m "not slow"`).
#   slow   — the 125 verbatim corpus entries (full reference SQL through
#            Spark AND DuckDB), plain `pytest` for everything.
# The canonical full-registry gate remains tools/check_correctness.py at
# sf0.01 (artifacts/CORRECTNESS_LOCAL.json), swept every round regardless of
# tiering, so demoting a test here never reduces what's hash-checked.
FAST_SET = {
    # relational families
    "tpch_q01_pricing_summary",
    "tpch_q08_market_share",
    "sub_in_having",
    "sub_exists_not_exists_theta",
    "win_rank_per_group",
    "win_cumulative_monthly",
    "agg_rollup_grouping",
    "agg_monthly_pivot",
    "set_union_all_reagg",
    "join_full_outer_channels",
    # pipeline families: dedup / similarity / text / multimodal /
    # streaming-batch twin / governance / layout
    "pipe_minhash_lsh_candidates",
    "pipe_dedup_clusters",
    "pipe_containment_pairs",
    "pipe_prefix_filter_pairs",
    "pipe_embedding_near_dup_banded",
    "pipe_ann_cosine_topk",
    "pipe_ann_ivf_topk",
    "pipe_semantic_dedup_two_level",
    "pipe_text_quality",
    "pipe_bm25_topk",
    "pipe_dsir_importance",
    "pipe_image_phash",
    "pipe_image_near_dup_recall",
    "pipe_session_window_agg",
    "pipe_scd2_history",
    "pipe_quality_psi",
    "pipe_zorder_pruning",
    "pipe_events_hourly",
}


def _tier(n: str):
    if n.startswith("corpus_"):
        return pytest.param(n, marks=pytest.mark.slow)
    if n in FAST_SET:
        return n
    return pytest.param(n, marks=pytest.mark.medium)


_PARAMS = [_tier(n) for n in sorted(QUERIES)]


@pytest.mark.parametrize("name", _PARAMS)
def test_query_matches_oracle(spark, duck, name):
    sdf = QUERIES[name](spark, SF_SMOKE).toPandas()
    if name not in ORACLES:
        assert len(sdf) >= 0  # rows-only check (non-SQL-expressible op)
        return
    ddf = duck.sql(ORACLES[name]).df()
    errs = compare(name, sdf, ddf)
    assert not errs, f"{name}: " + "; ".join(errs)


def test_every_query_has_oracle_or_is_documented():
    missing = set(QUERIES) - set(ORACLES)
    # Policy: every registered query ships an oracle unless genuinely
    # non-SQL-expressible; keep this list explicit and tiny. Round 4:
    # the list is EMPTY — the last holdout (pipe_ann_ivf_refined) became
    # oracle-checkable once k-means member means moved to fixed-point
    # accumulation (order-independent BIGINT sums, bit-identical across
    # engines; see operators/similarity.py kmeans_refine).
    assert missing == set(), f"queries without oracles: {missing}"
