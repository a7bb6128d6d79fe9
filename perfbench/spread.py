"""Run the benchmark over several seeds and print each metric's median and
quartile spread (IQR as a share of the median) against its bound.

    python3 perfbench/spread.py --workload corpus_flat --seeds 1 2 3 4 5

Run from the root of a checkout. Exits 1 when a run fails or reports
incorrect output.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import median, quartile_spread  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    values: dict[str, list[float]] = {}
    ok = True
    for seed in args.seeds:
        cmd = [*spec["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, capture_output=True, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            ok = False
            continue
        result = json.loads(lines[-1])
        ok &= result["correct"]
        notes = [ln[2:] for ln in lines if ln.startswith(("# process_s", "# setup_", "# cold_pass_s", "# warm_pass_", "# query_p50_s", "# wrong_results", "# host_"))]
        print(f"seed {seed}: correct={result['correct']} attempted={result['attempted']} failed={result['failed']}", *notes, sep="  ", flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        spread = quartile_spread(vs) if len(vs) >= 2 else float("nan")
        bound = bounds.get(name)
        flag = "" if bound is None else ("  ok" if spread < bound / 3 else "  WIDE")
        print(f"{name:40s} median {median(vs):12.6g}  spread {spread:7.3f}  bound {bound}{flag}")
        print(f"{'':40s} " + " ".join(f"{v:.4g}" for v in vs))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
