"""Per-layer metrics of one traced pass, from its spans and the Spark REST API.

Jobs and SQL executions are attributed to the span they were submitted in:
a job submitted inside a ``queries.build`` span ran while the DataFrame was
being constructed; one submitted inside ``exec.noop_write`` is execution.
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Any

from stats import parse_metric_value, self_times, union_length

# Layer spans whose total time is reported, by metric name. Together with the
# runner's self time and the pass's unattributed time they tile the pass.
LAYER_TOTALS = {
    "harness.discovery_s": "harness.discovery",
    "harness.metrics.tag_s": "harness.metrics.tag",
    "harness.metrics.collect_s": "harness.metrics.collect",
    "harness.results.flush_s": "harness.results.flush",
    "queries.build_s": "queries.build",
    "exec.noop_write_s": "exec.noop_write",
}

# SQL-plan operator metrics: (node name prefix, metric name) -> benchmark metric
OPERATOR_METRICS = {
    ("Scan", "scan time"): "op.scan_time_s",
    ("BroadcastExchange", "time to build"): "op.broadcast_build_s",
    ("HashAggregate", "time in aggregation build"): "op.aggregate_time_s",
    ("", "data sent to Python workers"): "op.python_bytes_sent",
}

_STAGE_SUMS = {
    "exec.executor_run_s": ("executorRunTime", 1e-3),
    "exec.executor_cpu_s": ("executorCpuTime", 1e-9),
    "exec.gc_s": ("jvmGcTime", 1e-3),
    "exec.input_bytes": ("inputBytes", 1),
    "exec.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "exec.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "exec.spill_bytes": ("diskBytesSpilled", 1),
}

PASS_METRICS = (
    "pass_s",
    *LAYER_TOTALS,
    "harness.runner.self_s",
    "pass.unattributed_s",
    "harness.metrics.rest_calls",
    "queries.build_jobs",
    "queries.py4j_calls",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.job_busy_s",
    "exec.driver_gap_s",
    *_STAGE_SUMS,
    "plan.exchanges",
    "plan.broadcasts",
    "plan.python_nodes",
    *OPERATOR_METRICS.values(),
)


def ui_time(text: str) -> float:
    """Epoch seconds of a Spark REST timestamp such as 2026-10-16T18:55:01.123GMT."""
    dt = datetime.strptime(text.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def _inside(t: float, intervals: list[tuple[float, float]]) -> bool:
    return any(a <= t <= b for a, b in intervals)


def pass_metrics(
    spans: list[dict[str, Any]],
    jobs: list[dict[str, Any]],
    stages: list[dict[str, Any]],
    executions: list[dict[str, Any]],
) -> dict[str, float]:
    """Layer metrics of one pass. ``spans`` are the pass's spans with the root
    (``pass``) first and parent indices relative to this list."""
    root = spans[0]
    out: dict[str, float] = {"pass_s": root["end"] - root["start"]}
    selfs = self_times(spans)
    for metric, name in LAYER_TOTALS.items():
        out[metric] = sum(s["end"] - s["start"] for s in spans if s["name"] == name)
    out["harness.runner.self_s"] = selfs.get("harness.runner.run_sql", 0.0)
    out["pass.unattributed_s"] = selfs["pass"]
    out["harness.metrics.rest_calls"] = sum(
        s["rest_calls"] for s in spans if s["name"] == "harness.metrics.collect"
    )
    builds = [(s["start"], s["end"]) for s in spans if s["name"] == "queries.build"]
    writes = [(s["start"], s["end"]) for s in spans if s["name"] == "exec.noop_write"]
    out["queries.py4j_calls"] = sum(s["py4j_calls"] for s in spans if s["name"] == "queries.build")

    build_jobs, exec_jobs = [], []
    for j in jobs:
        t = ui_time(j["submissionTime"])
        if _inside(t, builds):
            build_jobs.append(j)
        elif _inside(t, writes):
            exec_jobs.append(j)
    out["queries.build_jobs"] = len(build_jobs)
    out["exec.jobs"] = len(exec_jobs)
    busy = union_length(
        (ui_time(j["submissionTime"]), ui_time(j.get("completionTime", j["submissionTime"])))
        for j in exec_jobs
    )
    out["exec.job_busy_s"] = busy
    out["exec.driver_gap_s"] = out["exec.noop_write_s"] - busy

    stage_ids = {sid for j in exec_jobs for sid in j.get("stageIds", [])}
    ran = [s for s in stages if s["stageId"] in stage_ids and s.get("status") in ("COMPLETE", "FAILED")]
    out["exec.stages"] = len(ran)
    out["exec.tasks"] = sum(s.get("numCompleteTasks", 0) for s in ran)
    for metric, (key, scale) in _STAGE_SUMS.items():
        out[metric] = sum(s.get(key, 0) for s in ran) * scale

    for metric in ("plan.exchanges", "plan.broadcasts", "plan.python_nodes", *OPERATOR_METRICS.values()):
        out[metric] = 0
    for ex in executions:
        if not _inside(ui_time(ex["submissionTime"]), writes):
            continue
        for node in ex.get("nodes", []):
            name = node.get("nodeName", "")
            out["plan.exchanges"] += name == "Exchange"
            out["plan.broadcasts"] += name == "BroadcastExchange"
            out["plan.python_nodes"] += "Python" in name or "Pandas" in name
            for m in node.get("metrics", []):
                for (prefix, mname), metric in OPERATOR_METRICS.items():
                    if m.get("name") == mname and name.startswith(prefix):
                        out[metric] += parse_metric_value(m["value"])
    return out
