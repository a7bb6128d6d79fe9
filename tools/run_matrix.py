"""Run-matrix orchestrator (harness operator A15).

The reference drives its benchmark through shell launchers that cross
connector configurations over its corpus (runner.sh:27-43,
partitioned_runner.sh:27-43). This is the rebuild's equivalent: a config
matrix × the harness CLI over the verbatim corpus (corpus/<suite>_ref on
the committed fixtures/<suite> warehouse), one fresh JVM per suite per cell
(as spark-submit gives the reference; bare-name fixture views are
per-suite), results landing under <output>/<run-id> plus a one-line JSON
summary. Every run is labelled with the fixture scale.

Usage:
  python tools/run_matrix.py --output /tmp/ibx-matrix [--configs base,noaqe]

Axes (edit MATRIX for more): shuffle partitions × AQE on/off × partitioned
layout — the local stand-ins for the reference's connector/layout axes,
which are environment (GCS transport, Iceberg warehouse layout), not engine.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from iceberg_benchmark_java_spark.corpus_ref import CORPUS_FIXTURE_SCALE, SUITES  # noqa: E402

MATRIX: list[dict] = [
    {"name": "base", "args": []},
    {"name": "noaqe", "args": ["--no-aqe"]},
    {"name": "shuffle8", "args": ["--shuffle-partitions", "8"]},
    {"name": "partitioned", "args": ["--partitioned-warehouse", "/tmp/ibx-partwh-matrix"]},
]


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--output", required=True)
    p.add_argument("--configs", default=None, help="comma-separated subset of MATRIX names")
    args = p.parse_args()

    cells = [
        c
        for c in MATRIX
        if args.configs is None or c["name"] in args.configs.split(",")
    ]
    sf = str(CORPUS_FIXTURE_SCALE)
    summary = []
    for cell in cells:
        for suite in SUITES:
            run_id = f"sf{sf}-{cell['name']}-ref{suite}"
            cmd = [
                sys.executable,
                "-m",
                "iceberg_benchmark_java_spark.cli",
                f"--{suite}-dir",
                SUITES[suite][0],
                "--fixture-suite",
                suite,
                "--run-id",
                run_id,
                "--output-gcs-path",
                args.output,
                "--schema-size",
                f"sf{sf}",
                *cell["args"],
            ]
            t0 = time.time()
            proc = subprocess.run(
                cmd, cwd=REPO, capture_output=True, text=True, check=False
            )
            wall = round(time.time() - t0, 1)
            ok = proc.returncode == 0
            summary.append(
                {"run_id": run_id, "ok": ok, "wall_sec": wall, "cell": cell["name"], "sf": sf}
            )
            print(f"{'PASS' if ok else 'FAIL'}  {run_id}  {wall}s", flush=True)
            if not ok:
                print(proc.stdout[-1500:], proc.stderr[-1500:], sep="\n", flush=True)
    print(json.dumps({"matrix": summary}))
    return 0 if all(s["ok"] for s in summary) else 1


if __name__ == "__main__":
    raise SystemExit(main())
