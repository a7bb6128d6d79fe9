"""Whole-stage codegen reuse across repeated passes of a verbatim suite.

Runs every file of one verbatim corpus suite through ``BenchmarkRunner``
PASSES times in one session over the committed fixture warehouse, and
prints one JSON line: per pass, the number of classes Janino compiled
(``CodegenMetrics.METRIC_COMPILATION_TIME`` count), the wall time, the
peak RSS of this process and the JVM, and the failed-query count.

    python tools/codegen_reuse.py --suite tpcds
    python tools/codegen_reuse.py --suite tpch --cache-entries 100000

A pass-1 compile count below ``--cache-entries`` is the number of distinct
classes one pass needs: nothing was evicted. A pass-2 count near 0 means
the second run of each query reused the classes the first one compiled.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
PASSES = 2


def peak_rss_mb() -> float:
    """VmHWM of this process and its children (the JVM), in MiB."""
    todo, kb = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += sum(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
            for task in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{task}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except FileNotFoundError:
            continue  # exited
    return kb / 1024


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--suite", choices=("tpcds", "tpch"), required=True)
    p.add_argument("--cache-entries", type=int, help="override spark.sql.codegen.cache.maxEntries")
    args = p.parse_args()

    from iceberg_benchmark_java_spark import corpus_ref
    from iceberg_benchmark_java_spark.harness.runner import BenchmarkRunner
    from iceberg_benchmark_java_spark.session import SparkConfig, build_session

    cpus = len(os.sched_getaffinity(0))
    extra = {"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"}
    if args.cache_entries:
        extra["spark.sql.codegen.cache.maxEntries"] = str(args.cache_entries)
    spark = build_session(
        SparkConfig(app_name="codegen-reuse", master=f"local[{cpus}]", shuffle_partitions=cpus, extra_confs=extra)
    )
    corpus_ref.register_bare_views(spark, args.suite)
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    passes = []
    for i in range(PASSES):
        runner = BenchmarkRunner(spark, run_id=f"pass{i + 1}")
        n0, t0 = compiles.getCount(), time.perf_counter()
        results = runner.run_suite(args.suite, corpus_ref.SUITES[args.suite][0])
        passes.append(
            {
                "pass": i + 1,
                "janino_compiles": compiles.getCount() - n0,
                "wall_s": round(time.perf_counter() - t0, 2),
                "peak_rss_mb": round(peak_rss_mb()),
                "queries": len(results),
                "failed": sum(r.status != "SUCCESS" for r in results),
            }
        )
    print(
        json.dumps(
            {
                "suite": args.suite,
                "cpus": cpus,
                "codegen_cache_max_entries": int(spark.conf.get("spark.sql.codegen.cache.maxEntries")),
                "passes": passes,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
