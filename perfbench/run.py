"""Benchmark of the harness over verbatim TPC-DS files and registry entries.

    python3 perfbench/run.py --workload corpus_flat --seed 42 --seconds 10 --trace 0

One run, on one client that submits one query at a time (closed loop), on
``local[nproc]`` with ``nproc`` shuffle partitions:

1. make the inputs: the corpus workload generates the seed's TPC-DS fixture
   warehouse; the registry workload reads the tables committed in
   ``perfbench/data`` (one fixed data set, so ``--seed`` does not change it);
2. set up: build the session and register the views (corpus) or load the
   query registry; ``setup_s`` runs from process start to the end of this;
3. run one cold pass;
4. check every query's output against its DuckDB oracle (untimed; this also
   warms the JIT, so the first warm pass is not slower than the next);
5. run WARM_PASSES warm passes.

A pass is one harness run over the workload's query list, ending with
``flush_csv``: ``BenchmarkRunner.run_suite`` over the query files, or
``BenchmarkRunner.run_sql`` per registry entry, whose DataFrame the entry's
builder constructs. Every run does the same passes whatever ``--seconds``
is: a pass count that followed the clock would change what the warm median
means, because each pass in a session costs more than the last (the metrics
collector refetches the stages of earlier passes' job groups).

Everything the run writes stays under ``.bench_work/`` in the checkout. A
run that changes any other file, such as a stored index a registry builder
keeps under ``fixtures/``, reports it and is not correct.
The last stdout line is one JSON object: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``, named and with the
units listed in ``BENCHMARK.json``. The lines before it are a readable
report. The traced run also sets up SETUPS_TRACED times, for the warm
set-up figures, and runs its warm passes traced, untraced, untraced,
traced; the gap between the two pairs is reported as tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from typing import NamedTuple

START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
SUITE = "tpcds"  # key of corpus_ref.SUITES
DATA = os.path.join(HERE, "data", "sf0.01")  # tables of the registry workload
DATA_SEED = 42  # the seed those tables were generated with
WARM_PASSES = 2
SETUPS_TRACED = 3
# Left out of the tracked-file guard: what building, testing and this
# benchmark write (all named in .gitignore).
UNTRACKED = {".bench_work", ".bench_build", ".git", "__pycache__", ".pytest_cache", "spark-warehouse"}

sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

from stats import median, percentile, percentile_supported  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def file_manifest(root: str) -> dict[str, tuple[int, int]]:
    """(size, mtime_ns) of every file below the checkout's directories
    outside UNTRACKED. Files directly in the root are left out: whoever
    runs the benchmark may write its logs there."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d not in UNTRACKED]
        for f in filenames if dirpath != root else ():
            st = os.stat(os.path.join(dirpath, f))
            out[os.path.relpath(os.path.join(dirpath, f), root)] = (st.st_size, st.st_mtime_ns)
    return out


def _read_proc(pid: int, name: str) -> str:
    try:
        with open(f"/proc/{pid}/{name}") as f:
            return f.read()
    except (FileNotFoundError, ProcessLookupError):
        return ""  # exited while being read


def process_tree(pid: int) -> list[int]:
    """``pid`` and every process below it (the JVM and its Python workers)."""
    pids, todo = [], [pid]
    while todo:
        p = todo.pop()
        pids.append(p)
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue  # exited
        for task in tasks:  # a thread that exits meanwhile lists no children
            todo.extend(int(c) for c in _read_proc(p, f"task/{task}/children").split())
    return pids


def peak_rss_mb(pid: int) -> float:
    """Peak RSS (VmHWM) of ``pid`` and every process below it, in MiB."""
    total_kb = 0
    for p in process_tree(pid):
        for ln in _read_proc(p, "status").splitlines():
            if ln.startswith("VmHWM:"):  # zombies have none
                total_kb += int(ln.split()[1])
    return total_kb / 1024


def cpu_s(pid: int) -> float:
    """CPU seconds (user plus system) of ``pid`` and every live process below
    it, with those of their children that have exited and been waited for."""
    ticks = 0
    for p in process_tree(pid):
        stat = _read_proc(p, "stat")
        if stat:
            fields = stat.rsplit(")", 1)[1].split()  # after the command name
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


class RegistrySession:
    """The session ``BenchmarkRunner`` runs the registry workload on:
    ``sql(name)`` returns the DataFrame the registry builder ``name``
    constructs over ``sf_dir``; everything else is the real session."""

    def __init__(self, spark, builders: dict, sf_dir: str) -> None:
        self._spark = spark
        self._builders = builders
        self._sf_dir = sf_dir

    def sql(self, name: str):
        return self._builders[name](self._spark, self._sf_dir)

    def __getattr__(self, attr: str):
        return getattr(self._spark, attr)


class Pass(NamedTuple):
    wall_s: float
    cpu_s: float  # CPU seconds of this process, the JVM and any Python workers
    results: list  # the runner's QueryResult rows
    layers: dict | None = None  # per-layer metrics of a traced pass


class Bench:
    """One benchmark run of one workload."""

    def __init__(self, workload: str, seed: int, trace: bool) -> None:
        self.wl = WORKLOADS[workload]
        self.registry = self.wl.kind == "registry"
        self.seed = seed
        self.trace = trace
        self.work = os.path.join(WORK, workload)
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "spark-local", "queries", "results"):
            os.makedirs(os.path.join(self.work, d))
        # Spark's block manager, the JVM's and Python's temp files all land
        # under the work directory.
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        tempfile.tempdir = None
        self.nproc = len(os.sched_getaffinity(0))
        self.warehouse = DATA if self.registry else os.path.join(self.work, "fixtures")
        self.query_dir = os.path.join(self.work, "queries")
        self.spark = None
        self.builders: dict = {}  # the workload's registry builders, by name
        self.tracer = None
        self.phases: dict[str, float] = {}  # wall time of the run's phases

    # --- inputs -------------------------------------------------------------
    def generate(self) -> float:
        """Write the seed's TPC-DS warehouse, point the corpus layer at it
        and copy the workload's query files. The registry workload reads
        committed tables and needs nothing. Returns the CPU seconds the
        generator took: they are not set-up, while the imports are."""
        self.phases["generate_s"] = 0.0
        if self.registry:
            return 0.0
        from iceberg_benchmark_java_spark import corpus_ref, fixtures

        saved_seed = fixtures.SEED
        fixtures.SEED = self.seed
        c0, t0 = cpu_s(os.getpid()), time.perf_counter()
        try:
            fixtures.generate_tpcds(os.path.join(self.warehouse, SUITE), force=True)
        finally:
            fixtures.SEED = saved_seed
        self.phases["generate_s"] = time.perf_counter() - t0
        took = cpu_s(os.getpid()) - c0
        corpus_dir, _, tables = corpus_ref.SUITES[SUITE]
        corpus_ref.SUITES[SUITE] = (corpus_dir, os.path.join(self.warehouse, SUITE), tables)
        for q in self.wl.queries:
            shutil.copyfile(os.path.join(corpus_dir, f"{q}.sql"), os.path.join(self.query_dir, f"{q}.sql"))
        return took

    # --- set-up ---------------------------------------------------------------
    def session_config(self):
        from iceberg_benchmark_java_spark.session import SparkConfig

        return SparkConfig(
            app_name=f"perfbench-{self.wl.name}",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            extra_confs={
                # a fixed heap ceiling keeps peak RSS comparable between runs
                "spark.driver.memory": "1g",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
                "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )

    def register(self) -> None:
        """What makes the first query submittable once the session is up."""
        if self.registry:
            from iceberg_benchmark_java_spark.queries import all_queries

            builders = all_queries()
            self.builders = {n: builders[n] for n in self.wl.queries}
        else:
            from iceberg_benchmark_java_spark import corpus_ref

            corpus_ref.register_bare_views(self.spark, SUITE)

    def setup(self, times: int) -> dict:
        """Set up ``times`` times; the last session stays for the passes.
        Returns the build and registration seconds of each, and the CPU and
        wall seconds from process start to the end of the first."""
        from iceberg_benchmark_java_spark.session import build_session

        out = {"builds": [], "registers": []}
        for _ in range(times):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = build_session(self.session_config())
            out["builds"].append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            self.register()
            out["registers"].append(time.perf_counter() - t0)
            out.setdefault("first_cpu_s", cpu_s(os.getpid()))
            out.setdefault("first_wall_s", time.perf_counter() - START)
        return out

    # --- passes ---------------------------------------------------------------
    def run_pass(self, label: str) -> Pass:
        from iceberg_benchmark_java_spark.harness.runner import BenchmarkRunner

        session = RegistrySession(self.spark, self.builders, self.warehouse) if self.registry else self.spark
        schema = os.path.basename(self.warehouse) if self.registry else f"seed{self.seed}"
        runner = BenchmarkRunner(session, run_id=label, schema_size=schema)
        c0, t0 = cpu_s(os.getpid()), time.perf_counter()
        if self.registry:
            for name in self.wl.queries:
                runner.run_sql("pipeline", name, name)
        else:
            runner.run_suite("TPC-DS", self.query_dir)
        runner.flush_csv(os.path.join(self.work, "results"))
        return Pass(time.perf_counter() - t0, cpu_s(os.getpid()) - c0, runner.results)

    def traced_pass(self, label: str) -> Pass:
        from layers import pass_metrics

        first = len(self.tracer.spans)
        with self.tracer.installed(self.spark, self.builders), self.tracer.span("pass", label):
            untraced = self.run_pass(label)
        spans = self.tracer.spans[first:]
        spans = [dict(s, parent=None if s["parent"] is None else s["parent"] - first) for s in spans]
        rest = self.rest
        layers = pass_metrics(spans, rest("jobs"), rest("stages"), rest("sql?details=true&planDescription=false&offset=0&length=100000"))
        return untraced._replace(layers=layers)

    def rest(self, path: str):
        sc = self.spark.sparkContext
        with urllib.request.urlopen(f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}", timeout=30) as r:
            return json.load(r)

    # --- output check -----------------------------------------------------------
    def check_outputs(self) -> tuple[list[str], int]:
        """Compare every query of the workload with its DuckDB oracle, the
        queries checked concurrently (outside any timed pass). Returns
        (wrong queries with the reason, oracles that return no rows)."""
        import duckdb

        from tools.check_correctness import compare

        if self.registry:
            from iceberg_benchmark_java_spark.queries import all_oracles

            oracles = all_oracles()

            def result_and_oracle(q: str):
                return self.builders[q](self.spark, self.warehouse), oracles.get(q)
        else:
            from iceberg_benchmark_java_spark import corpus_ref
            from iceberg_benchmark_java_spark.harness.discovery import load_query
            from stats import repoint_oracle

            def result_and_oracle(q: str):
                sql = load_query(os.path.join(self.query_dir, f"{q}.sql"), "", "")
                got = corpus_ref.canonicalize(self.spark.sql(sql))
                return got, repoint_oracle(corpus_ref.load_oracle(SUITE, q), self.warehouse)

        def check(q: str) -> tuple[list[str], bool]:
            df, oracle = result_and_oracle(q)
            got = df.toPandas()
            if oracle is None:
                return ["no oracle"], False
            with con.cursor() as cur:  # one DuckDB connection per thread
                want = cur.sql(oracle).df()
            return compare(q, got, want), len(want) == 0

        with duckdb.connect() as con, ThreadPoolExecutor(max_workers=self.nproc) as pool:
            if self.registry:  # the registry oracles read bare table names
                for f in sorted(os.listdir(self.warehouse)):
                    path = os.path.join(self.warehouse, f)
                    con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM read_parquet('{path}')")
            checked = list(zip(self.wl.queries, pool.map(check, self.wl.queries)))
        wrong = [f"{q}: {'; '.join(errs)}" for q, (errs, _) in checked if errs]
        return wrong, sum(no_rows for _, (_, no_rows) in checked)

    # --- the run ----------------------------------------------------------------
    def run(self) -> dict:
        generate_cpu = self.generate()
        t0 = time.perf_counter()
        setup = self.setup(SETUPS_TRACED if self.trace else 1)
        self.phases["setups_s"] = time.perf_counter() - t0
        # from process start, less generating the inputs, which is not set-up
        setup["cpu_s"] = setup["first_cpu_s"] - generate_cpu
        setup["wall_s"] = setup["first_wall_s"] - self.phases["generate_s"]
        if self.trace:
            from tracing import Tracer

            self.tracer = Tracer()
        run_pass = self.traced_pass if self.trace else self.run_pass

        cold = run_pass("cold")
        # The output check runs every query once more, outside the timed
        # passes, and so also warms the JIT for the warm passes.
        t0 = time.perf_counter()
        wrong, empty = self.check_outputs()
        self.phases["check_s"] = time.perf_counter() - t0
        warm, untraced = [], []
        if self.trace:
            # traced, untraced, untraced, traced: each pass costs a little
            # more than the one before, and this order cancels a steady rise
            # out of the traced-untraced gap
            warm.append(self.traced_pass("warm0"))
            untraced += [self.run_pass("untraced0"), self.run_pass("untraced1")]
            warm.append(self.traced_pass("warm1"))
        else:
            warm = [self.run_pass(f"warm{i}") for i in range(WARM_PASSES)]
        return {
            "setup": setup, "cold": cold, "warm": warm, "untraced": untraced,
            "peak_rss_mb": peak_rss_mb(os.getpid()), "wrong": wrong, "oracles_empty": empty,
        }

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = None


def end_to_end(r: dict) -> tuple[dict, dict]:
    """(metrics for the JSON line, extra figures for the report).

    Set-up and passes are measured in CPU seconds of this process and the
    JVM: on a shared host their wall time also swings with the CPU time the
    hypervisor gives to other guests (``host_steal_frac``), by a third or
    more between runs. CPU time still follows how fast the host runs the
    guest's code, but less. Wall times are in the report.
    """
    warm_lat = [q.execution_time_sec for p in r["warm"] for q in p.results]
    metrics = {
        "setup_s": r["setup"]["cpu_s"],
        "cold_pass_cpu_s": r["cold"].cpu_s,
        "warm_pass_cpu_s": median(p.cpu_s for p in r["warm"]),
        "peak_rss_mb": r["peak_rss_mb"],
    }
    extra = {
        "setup_wall_s": r["setup"]["wall_s"],
        "cold_pass_s": r["cold"].wall_s,
        "warm_pass_s": median(p.wall_s for p in r["warm"]),
        "query_p50_s": median(warm_lat),
        "warm_samples": len(warm_lat),
        "warm_pass_walls_s": [round(p.wall_s, 3) for p in r["warm"]],
        "warm_pass_cpus_s": [round(p.cpu_s, 2) for p in r["warm"]],
        "query_medians_s": {
            q.query_name.removesuffix(".sql"): median(
                x.execution_time_sec for p in r["warm"] for x in p.results if x.query_name == q.query_name
            )
            for q in r["cold"].results
        },
    }
    # p90 only with ten samples beyond it, which two passes never hold
    if percentile_supported(len(warm_lat), 0.9):
        extra["query_p90_s"] = percentile(warm_lat, 0.9)
    return metrics, extra


def per_layer(r: dict, registry: bool) -> dict:
    b, g = r["setup"]["builds"], r["setup"]["registers"]
    # the set-up's second step: loading the query registry, or registering
    # the corpus views; the step a workload does not take reads 0
    done, skipped = ("queries.load_s", "corpus_ref.register_s") if registry else ("corpus_ref.register_s", "queries.load_s")
    metrics = {
        "session.build_session_s": median(b[1:]),
        "session.build_session_s.cold": b[0],
        done: median(g[1:]),
        f"{done}.cold": g[0],
        skipped: 0.0,
        f"{skipped}.cold": 0.0,
    }
    cold_layers = r["cold"].layers
    for k in cold_layers:
        metrics[k] = median(p.layers[k] for p in r["warm"])
        metrics[f"{k}.cold"] = cold_layers[k]
    metrics["pass.cpu_s"] = median(p.cpu_s for p in r["warm"])
    metrics["pass.cpu_s.cold"] = r["cold"].cpu_s
    traced = sum(p.wall_s for p in r["warm"])
    metrics["trace.overhead_frac"] = traced / sum(p.wall_s for p in r["untraced"]) - 1
    metrics["trace.accounted_frac"] = 1 - metrics["pass.unattributed_s"] / metrics["pass_s"]
    return metrics


def environment(bench: Bench, index_rebuilt: bool) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "nproc": bench.nproc,
        "master": f"local[{bench.nproc}]",
        "shuffle_partitions": bench.nproc,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "seed": bench.seed,
        # the registry workload's tables are committed, made with one seed
        "data_seed": DATA_SEED if bench.registry else bench.seed,
        "data": os.path.relpath(bench.warehouse, ROOT),
        # a stored index written under fixtures/ during the run: its build
        # is in the cold pass
        "index_rebuilt": index_rebuilt,
        "client": "closed loop, 1 client, 1 query at a time",
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="accepted; every run does the same passes")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]

    # Spark and the JVM write to fd 1; keep the real stdout for the report.
    out = os.fdopen(os.dup(1), "w")
    sys.stdout.flush()
    os.dup2(2, 1)

    before = file_manifest(ROOT)
    steal0, total0 = cpu_ticks()
    bench = Bench(args.workload, args.seed, bool(args.trace))
    try:
        r = bench.run()
    finally:
        t0 = time.perf_counter()
        bench.close()
        bench.phases["close_s"] = time.perf_counter() - t0
    steal1, total1 = cpu_ticks()
    after = file_manifest(ROOT)
    modified = sorted(k for k in before.keys() | after.keys() if before.get(k) != after.get(k))
    env = environment(bench, any(k.startswith("fixtures" + os.sep) for k in modified))

    executions = [q for p in [r["cold"], *r["warm"], *r["untraced"]] for q in p.results]
    failed = [q for q in executions if q.status != "SUCCESS"]
    report = {
        **env,
        "workload": args.workload,
        "failed_frac": len(failed) / len(executions),
        "wrong_results": len(r["wrong"]),
        "oracles_checked": len(bench.wl.queries),
        "oracles_empty": r["oracles_empty"],
        "tracked_files_modified": len(modified),
        "phases_s": {k: round(v, 2) for k, v in bench.phases.items()},
        "process_s": round(time.perf_counter() - START, 2),
        # share of this VM's CPU time the hypervisor gave to other guests
        # during the run: the figures slow down as it rises
        "host_steal_frac": round((steal1 - steal0) / max(1, total1 - total0), 4),
    }
    if args.trace:
        values = per_layer(r, bench.registry)
        with open(os.path.join(bench.work, "trace.json"), "w") as f:
            json.dump({"report": report, "spans": bench.tracer.spans}, f)
        report["trace_file"] = os.path.relpath(os.path.join(bench.work, "trace.json"), ROOT)
    else:
        values, extra = end_to_end(r)
        report.update(extra)
    metrics = {m["name"]: (values[m["name"]], m["unit"]) for m in spec}
    for line in r["wrong"] + [f"failed {q.query_name}: {q.error_message}" for q in failed] + modified[:20]:
        print(f"# {line[:300]}", file=out)
    for k, v in report.items():
        print(f"# {k}: {v}", file=out)
    for k, (v, unit) in metrics.items():
        print(f"{k:40s} {v:.6g} {unit}", file=out)
    result = {
        "correct": not failed and not r["wrong"] and not modified,
        "attempted": len(executions),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }
    print(json.dumps(result), file=out)
    out.close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
