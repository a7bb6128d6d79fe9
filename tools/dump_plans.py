"""Dump .explain('formatted') for named registered queries to files.

Usage: python tools/dump_plans.py <out_dir> <suffix> <query> [<query> ...]
Writes <out_dir>/<query>_<suffix>.txt, for an ad hoc before/after diff of
one plan (per-entry node counts are in artifacts/cost_shape.json). The ids that count up with the
session's history are masked, so two dumps of the same plan are equal:
expression ids (``#123`` → ``#N``), exchange plan ids (``plan_id=N``),
lambda variables (``lambda x_848`` → ``lambda x_N``) and the RDD id and
call site of a checkpointed scan (``RDD[N] at localCheckpoint``).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iceberg_benchmark_java_spark.queries import all_queries
from iceberg_benchmark_java_spark.session import build_session, local_test_config

_MASKS = (
    (r"#\d+", "#N"),
    (r"plan_id=\d+", "plan_id=N"),
    (r"lambda (\w+?)_\d+", r"lambda \1_N"),
    (r"RDD\[\d+\] at (\w+) at [^,\s]+", r"RDD[N] at \1"),
)


def main() -> None:
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session(local_test_config("ibx-plans"))
    qs = all_queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        for pattern, mask in _MASKS:
            plan = re.sub(pattern, mask, plan)
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print("wrote", name, suffix, len(plan), "bytes")
    spark.stop()


if __name__ == "__main__":
    main()
