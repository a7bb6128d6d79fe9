"""Benchmark entry: headline queries at $SPARK_GRAFT_SF_DIR on local[N].

Prints ONE JSON line (``stdout_line``):
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {"<name>": sec, ...}, "n_queries": N, "probe": <sec>,
   "n_failed": N, "full": "BENCH_LOCAL_latest.json", "sf": <sf>}
and writes the full payload, with each entry's best-run metric totals and
``build_ms``, to BENCH_LOCAL_latest.json.

Every timed run goes through ``BenchmarkRunner.run``, the reference's
timing method (IcebergBenchmark.java:179-190): wall-clock around build
plus execute-and-discard via the noop sink — result materialization
excluded.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from iceberg_benchmark_java_spark.harness import BenchmarkRunner, QueryResult
from iceberg_benchmark_java_spark.queries import all_queries
from iceberg_benchmark_java_spark.session import build_session, local_test_config

# Representative slice of the inventory: scan/agg, joins, subqueries,
# windows, rollup, set ops, and the pipeline extensions' scale paths.
HEADLINE = [
    "tpch_q01_pricing_summary",
    "tpch_q03_shipping_priority",
    "tpch_q05_local_supplier_volume",
    "tpch_q06_revenue_forecast",
    "tpch_q13_customer_distribution",
    "sub_in_having",
    "sub_exists_not_exists_theta",
    "win_rank_per_group",
    "win_cumulative_monthly",
    "win_sessionize_events",
    "agg_rollup_grouping",
    "agg_monthly_pivot",
    "set_union_all_reagg",
    "pipe_minhash_lsh_candidates",
    "pipe_dedup_clusters",
    "pipe_ann_cosine_topk",
    "pipe_ann_ivf_topk",
    "pipe_ann_recall",
    "pipe_embedding_near_dup",
    "pipe_text_quality",
    "pipe_events_hourly",
    # round-5 additions (new computation, disclosed in artifacts/BENCH_DELTA_r05):
    "pipe_decontamination",
    "pipe_sequence_packing_sharded",
    "tpch_q08_market_share",
    "tpch_q21_waiting_supplier",
    # round-6 additions (new computation, disclosed in artifacts/BENCH_DELTA_r06):
    "pipe_dup_span_coverage",
    "pipe_scd2_history",
    "pipe_prefix_filter_pairs",
    "pipe_semantic_dedup",
    "pipe_session_window_agg",
    # round-6 closing-session additions (new computation, disclosed in
    # artifacts/BENCH_DELTA_r06):
    "pipe_image_near_dup",
    "pipe_sorted_neighborhood",
    "pipe_ann_sq8_recall",
    "pipe_zorder_pruning",
    # round-6 continuation additions (new computation, disclosed in
    # artifacts/BENCH_DELTA_r06):
    "pipe_dsir_importance",
    "pipe_dedup_method_agreement",
    # round-7 additions (new computation, disclosed in artifacts/BENCH_DELTA_r07):
    "pipe_semantic_dedup_two_level",
    # round-8 additions (new computation, disclosed in artifacts/BENCH_DELTA_r08):
    "pipe_dup_span_removal",
    "pipe_embedding_near_dup_rp",
    "pipe_ann_two_level_recall_tuned",
    "pipe_ann_ivf_pq_topk",
    # round-9 additions (new computation, disclosed in artifacts/BENCH_DELTA_r09):
    # serve-path twin of pipe_ann_ivf_pq_topk (reads the materialized
    # index — the build-vs-serve latency gap is the pair of these rows)
    # and the batch-ingest SemDeDup.
    "pipe_ann_ivf_pq_serve",
    "pipe_incremental_semantic_dedup",
    # round-10 addition (new computation, disclosed in artifacts/BENCH_DELTA_r10):
    # serve-path twin of pipe_ann_two_level_recall_tuned (reads the
    # materialized two-level IVF-Flat index — the second build-vs-serve
    # row pair, covering the registered 0.80-recall production dial).
    "pipe_ann_two_level_serve",
    # round-11 addition (new computation, disclosed in artifacts/BENCH_DELTA_r11):
    # serve-path twin of pipe_incremental_semantic_dedup (per-batch plan
    # reads the materialized corpus cells instead of re-deriving the
    # corpus seeding + argmax — the third build-vs-serve row pair).
    "pipe_incremental_semantic_dedup_served",
    # round-12 addition (new computation, disclosed in
    # artifacts/OPTIMIZATION_r12.md): the deliberately
    # compute-bound core-scaling witness. After the r11 optimizations
    # every headline entry at sf0.1 is fixed-overhead-bound, so the
    # driver's 8-vs-32-core probe read ≈1.0 everywhere and flagged
    # suspect_cpus_ignored despite session.py honoring $SPARK_GRAFT_CPUS
    # — this row's ratio tracks cores directly (VERDICT r11 Next #2).
    "pipe_cpu_scaling_witness",
    # Verbatim reference corpus headliners (fixtures/ warehouse, fixed
    # scale): the marquee TPC-DS shapes named in the round-1 review plus
    # two verbatim TPC-H texts. These time the reference's own SQL files
    # end-to-end through spark.sql.
    "corpus_tpcds_q14_1",  # multi-CTE cross-channel INTERSECT chain
    "corpus_tpcds_q64",    # wide join chain w/ two CTE passes
    "corpus_tpcds_q67",    # 8-key ROLLUP + windowed top-k
    "corpus_tpcds_q72",    # 8-join chain w/ date arithmetic
    "corpus_tpcds_q95",    # multi-EXISTS over web order numbers
    "corpus_tpch_q01",
    "corpus_tpch_q21",
]

PROBE = "corpus_tpch_q01"
METRIC = "headline_total_wall_sec_noop_sink"


def stdout_line(timings: dict[str, float], probe: float, n_failed: int, sf) -> str:
    """The driver contract: ONE compact JSON line. It carries EVERY
    per-query best (2-decimal): the old top-10-slowest dict made the
    driver's round-over-round PERF comparison fabricate
    "dropped_from_bench" statuses whenever an entry got fast enough to
    rotate out of the top 10. Entries are ordered slowest-first for the
    reader. The line is not truncation-safe: cutting its tail breaks the
    JSON, so the whole line must stay within the 2,000-byte budget
    (pinned by tests/test_harness.py::test_bench_stdout_line_contract)."""
    by_time = {k: round(v, 2) for k, v in sorted(timings.items(), key=lambda kv: -kv[1])}
    return json.dumps(
        {
            "metric": METRIC,
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": by_time,
            "n_queries": len(timings),
            "probe": probe,
            "n_failed": n_failed,
            "full": "BENCH_LOCAL_latest.json",
            "sf": sf,
        },
        separators=(",", ":"),
    )


def main() -> None:
    # The result JSON must be the ONLY stdout line (the driver parses
    # stdout structurally). Re-point fd 1 at stderr for the whole run —
    # the JVM child inherits the redirected fd, so Spark/Ivy/log chatter
    # can never interleave — and keep the real stdout for the final line.
    real_stdout = os.dup(1)
    sys.stdout.flush()
    os.dup2(2, 1)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    spark = build_session(local_test_config("ibx-bench"))
    queries = all_queries()
    # Every timed run goes through the harness loop: timed noop write,
    # A9 error capture (truncate to 2000 chars, CONTINUE — one bad query
    # must never zero the whole run), per-execution stage metrics.
    runner = BenchmarkRunner(spark, run_id="bench", schema_size=f"sf{sf}")

    def run(name: str) -> QueryResult:
        return runner.run("bench", name, lambda: queries[name](spark, sf_dir))

    def probe() -> float:
        res = run(PROBE)
        if res.status != "SUCCESS":
            raise RuntimeError(f"probe {PROBE} failed: {res.error_message}")
        return res.execution_time_sec

    # warm the JVM + parquet footers with one tiny action
    run("tpch_q06_revenue_forecast")

    # Host-noise probe: ONE fixed, code-stable query (corpus_tpch_q01 —
    # byte-identical SQL since round 2). Round-over-round, a move in the
    # probe with no code change = environment shift, so compare_bench can
    # auto-classify host-noise vs real regression. One untimed warm-up
    # (codegen, footers), then best-of-2 per bracket.
    probe()
    probe_runs = [probe() for _ in range(2)]  # pre-bracket

    # Best-of-2 per query: shared-host CPU variance swings single runs by
    # ±30%; the min of two runs is the standard stable estimator. ALL
    # successful runs are emitted (``runs``) so the best-of selection stays
    # auditable; a failure on run 2 keeps run 1's valid timing.
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    metrics: dict[str, dict] = {}
    failed: dict[str, str] = {}
    for name in HEADLINE:
        results = [run(name) for _ in range(2)]
        ok = [r for r in results if r.status == "SUCCESS"]
        if not ok:
            failed[name] = results[-1].error_message or "unknown"
            continue
        best = min(ok, key=lambda r: r.execution_time_sec)
        timings[name] = best.execution_time_sec
        runs[name] = [r.execution_time_sec for r in ok]
        # the best run's metric totals and build_ms; not its per-stage list
        metrics[name] = {k: v for k, v in json.loads(best.metrics_json).items() if k != "stages"}
    # Post-bracket probe: the same fixed code-stable query re-timed AFTER
    # the headline loop. A pre/post divergence means the host shifted
    # MID-SESSION — compare_bench classifies it mechanically from the two
    # brackets.
    probe_runs_after = [probe() for _ in range(2)]
    # corpus_* entries run against the committed fixtures/ warehouse at its
    # own fixed scale, not $SPARK_GRAFT_SF_DIR — label honestly so numbers
    # stay scale-comparable round-over-round.
    from iceberg_benchmark_java_spark.corpus_ref import CORPUS_FIXTURE_SCALE

    full = {
        "metric": METRIC,
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "runs": runs,
        "metrics": metrics,
        "probe": {
            "query": PROBE,
            "runs": probe_runs,
            "best": min(probe_runs),
            "runs_after": probe_runs_after,
            "best_after": min(probe_runs_after),
        },
        "failed": failed,
        "query_sf": {
            name: (CORPUS_FIXTURE_SCALE if name.startswith("corpus_") else sf_val)
            for name in HEADLINE
        },
        "sf": sf_val,
    }
    # Full payload goes to a committed sidecar file; stdout carries ONE
    # compact line.
    local_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL_latest.json"
    )
    with open(local_path, "w") as fh:
        json.dump(full, fh, indent=1)
        fh.write("\n")
    line = stdout_line(timings, min(probe_runs), len(failed), sf_val)
    os.write(real_stdout, line.encode() + b"\n")
    os.close(real_stdout)
    spark.stop()


if __name__ == "__main__":
    main()
