"""Scaling-curve evidence for the verbatim corpus headliners (both suites).

Generates an N× fixtures warehouse (fact counts ×N via fixtures.py's scale
knobs, dims fixed), then runs the suite's plan-quality sample (TPC-DS:
tests/test_plans.py::CORPUS_PLAN_SAMPLE; TPC-H: the five marquee shapes)
at both scales through BenchmarkRunner (spark.sql, noop sink) and records
per-query wall-time ratios plus the plan-quality asserts at the larger scale.

The point: turn "these plans would hold at 100×" from prose into a
measurement. A healthy plan scales sub-linearly-to-linearly in fact volume
(ratio ≲ data ratio); a quadratic candidate stage, a lost pushdown, or a
broadcast flipping to a shuffle shows up as a super-linear ratio or a
failed plan assert.

Usage:  python tools/run_scaling.py [out_json] [scale] [suite: tpcds|tpch]
Writes SCALING_r05.json (default) and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iceberg_benchmark_java_spark import corpus_ref, fixtures
from iceberg_benchmark_java_spark.harness import BenchmarkRunner
from iceberg_benchmark_java_spark.session import build_session, local_test_config

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# tpcds mirrors tests/test_plans.py::CORPUS_PLAN_SAMPLE / BNLJ_OK; tpch is
# the marquee verbatim TPC-H shapes (scan-agg, join chain, 9-way join,
# HAVING-feed semi join, multi-EXISTS)
SAMPLES = {
    "tpcds": ["q03", "q07", "q14_1", "q36", "q64", "q67", "q72", "q88", "q90", "q95"],
    "tpch": ["q01", "q03", "q09", "q18", "q21"],
}
BNLJ_OK_BY_SUITE = {"tpcds": {"q88", "q90"}, "tpch": set()}
FACT_TABLE = {"tpcds": "store_sales", "tpch": "lineitem"}


def register_views_from(spark, suite: str, warehouse_dir: str) -> None:
    """Point the ref_<suite>_* temp views at an arbitrary warehouse dir."""
    for t in corpus_ref.SUITES[suite][2]:
        spark.read.parquet(
            os.path.join(warehouse_dir, f"{t}.parquet")
        ).createOrReplaceTempView(corpus_ref._view(suite, t))


def run_query(spark, suite: str, name: str):
    sql = corpus_ref.template(suite, corpus_ref.corpus_sql(suite, name))
    return spark.sql(sql)


def timed_run(runner: BenchmarkRunner, name: str, build) -> float:
    """Seconds of one harness run of ``build``; a failed run raises."""
    res = runner.run("scaling", name, build)
    if res.status != "SUCCESS":
        raise RuntimeError(f"{name}: {res.error_message}")
    return res.execution_time_sec


def time_sample(spark, suite: str, warehouse_dir: str) -> dict[str, float]:
    register_views_from(spark, suite, warehouse_dir)
    runner = BenchmarkRunner(spark, run_id="scaling", collect_metrics=False)

    def timed(name: str) -> float:
        return timed_run(runner, name, lambda: run_query(spark, suite, name))

    timed(SAMPLES[suite][0])  # warm: parquet footers + codegen for this warehouse
    return {name: min(timed(name) for _ in range(2)) for name in SAMPLES[suite]}


def plan_asserts(spark, suite: str, warehouse_dir: str) -> dict[str, str]:
    """The test_corpus_plan_quality asserts, evaluated on this warehouse."""
    register_views_from(spark, suite, warehouse_dir)
    results: dict[str, str] = {}
    for name in SAMPLES[suite]:
        plan = (
            run_query(spark, suite, name)
            ._jdf.queryExecution().executedPlan().toString()
        )
        errs = []
        if "CartesianProduct" in plan:
            errs.append("CartesianProduct")
        if "PushedFilters: [" not in plan:
            errs.append("no PushedFilters")
        elif plan.split("PushedFilters:")[1][:40].startswith(" []"):
            errs.append("empty pushdown")
        if name not in BNLJ_OK_BY_SUITE[suite] and "BroadcastNestedLoopJoin" in plan:
            errs.append("BroadcastNestedLoopJoin")
        results[name] = "pass" if not errs else "; ".join(errs)
    return results


def main() -> int:
    out_json = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "SCALING_r05.json")
    scale = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    suite = sys.argv[3] if len(sys.argv) > 3 else "tpcds"
    gen = {"tpcds": fixtures.generate_tpcds, "tpch": fixtures.generate_tpch}[suite]
    base_dir = {"tpcds": fixtures.TPCDS_DIR, "tpch": fixtures.TPCH_DIR}[suite]
    scaled_dir = os.path.join(REPO, "fixtures", f"{suite}_x{scale}")

    gen(base_dir)  # ensure the 1x warehouse exists
    gen(scaled_dir, scale=scale)  # marker-protected

    cfg = local_test_config("ibx-scaling")
    # local mode puts executor heap inside the driver JVM: the 1g default
    # that suffices for the committed fixtures OOMs on a 32x warehouse.
    # On a real cluster this is executor memory in the submit conf.
    cfg.extra_confs["spark.driver.memory"] = "24g"
    spark = build_session(cfg)
    try:
        # fact-volume ratio actually materialized (line counts are random
        # per ticket, so measure rather than assume exactly 10.0)
        fact = f"{FACT_TABLE[suite]}.parquet"
        n1 = spark.read.parquet(os.path.join(base_dir, fact)).count()
        n10 = spark.read.parquet(os.path.join(scaled_dir, fact)).count()
        data_ratio = round(n10 / n1, 3)

        t1 = time_sample(spark, suite, base_dir)
        t10 = time_sample(spark, suite, scaled_dir)
        asserts10 = plan_asserts(spark, suite, scaled_dir)
    finally:
        spark.stop()

    queries = {
        q: {
            "t_1x_sec": t1[q],
            f"t_{scale}x_sec": t10[q],
            "ratio": round(t10[q] / t1[q], 2) if t1[q] else None,
            "plan_asserts_at_scale": asserts10[q],
        }
        for q in SAMPLES[suite]
    }
    result = {
        "metric": "corpus_sample_scaling_ratio",
        "suite": suite,
        "scale": scale,
        "fact_rows_1x": n1,
        f"fact_rows_{scale}x": n10,
        "data_ratio": data_ratio,
        "queries": queries,
        "max_ratio": max(v["ratio"] for v in queries.values()),
        "plan_asserts_failed": [
            q for q, v in queries.items() if v["plan_asserts_at_scale"] != "pass"
        ],
    }
    with open(out_json, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
