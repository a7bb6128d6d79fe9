"""Per-query stage metrics (harness operators A3/A10/A12/A13 substitute).

The reference correlates Spark stages to SQL executions with a custom
SparkListener, a CountDownLatch and a 10-second sleep (SURVEY §3.2, with a
documented race). PySpark has no native listener API, so — per SURVEY §3.4's
recommendation — this module uses the race-free substitute:

1. tag each execution with its own job group before it runs
   (``sc.setJobGroup``; ``ibx:{uuid}:{query_name}``, so a re-run of a query
   name, from this collector or another one on the session, never shares
   a group with an earlier run), and
2. after execution, look up that group's jobs and their stage ids in the
   SparkContext's status tracker (``sc.statusTracker()``) and read exactly
   those stages from the SparkContext's status store
   (``AppStatusStore.stageData``, the call the REST handler for
   ``/stages/{id}?details=false`` makes: the stage totals without the
   per-task list), serialized by the REST API's own JSON writer, so each
   entry carries the field names and values REST would return.

The cost of one collect is two py4j calls per stage of the execution and no
HTTP request; it does not grow with the jobs the session has run before. The
status store exists in every live SparkContext, so metrics are collected
with ``spark.ui.enabled=false`` too.

Aggregation mirrors IcebergBenchmark.java:269-355: Σ executorRunTime,
executorCpuTime, jvmGcTime over the query's stages, plus per-stage entries,
JSON-serialized into ``metrics_json``. The reference's
``total_batch_scan_time_ms`` comes from a patched Iceberg jar's custom
accumulable (SURVEY §4) and is not reproducible from stock artifacts; the
substitute records per-stage ``inputBytes``/``inputRecords`` as the
best-effort scan metric, and the field name documents that provenance.
"""

from __future__ import annotations

import json
import urllib.request
import uuid
from typing import Any

from pyspark.sql import SparkSession


# Unused here; perfbench's tracer patches it by name to count REST calls.
def _get_json(url: str) -> Any:
    with urllib.request.urlopen(url, timeout=10) as r:  # noqa: S310 (localhost UI)
        return json.load(r)


class StageMetricsCollector:
    """Collects per-execution stage metrics from Spark's status store.

    Usage::

        collector = StageMetricsCollector(spark)
        collector.begin("q01")          # A10 substitute: job-group tag
        ... run the query ...
        metrics = collector.collect("q01")   # A12/A13: stage join + agg

    ``collect(name)`` reports the stages of the latest ``begin(name)`` only.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        # Resolved once: a py4j class lookup costs about as much as the
        # per-stage read itself.
        self._store = self.sc._jsc.sc().statusStore()
        self._writer = jvm.org.apache.spark.status.api.v1.JacksonMessageWriter().mapper()
        self._no_statuses = jvm.java.util.ArrayList()  # taskStatus filter: none
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._groups: dict[str, str] = {}  # query name -> its latest job group

    def begin(self, query_name: str) -> None:
        """Tag subsequent jobs with a job group of their own (race-free
        replacement for the listener's execution-id latch)."""
        group = f"ibx:{uuid.uuid4().hex}:{query_name}"
        self._groups[query_name] = group
        self.sc.setJobGroup(group, f"query {query_name}", False)

    def end(self) -> None:
        self.sc.setJobGroup("", "", False)

    def _stage_ids(self, group: str) -> list[int]:
        """Stage ids of the group's jobs, from the SparkContext's status store.
        The store is fed by the listener bus, so wait for the bus to drain
        first: the last job's end event may still be queued
        (``LiveListenerBus.waitUntilEmpty`` is ``private[spark]`` in Scala,
        public to py4j)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        ids: set[int] = set()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is not None:
                ids.update(info.stageIds)
        return sorted(ids)

    def _stage_attempts(self, stage_id: int) -> list[dict[str, Any]]:
        """The stage's attempts as ``/stages/{id}?details=false`` returns
        them; an empty list for a stage the store no longer holds."""
        data = self._store.stageData(stage_id, False, self._no_statuses, False, self._no_quantiles)
        return json.loads(self._writer.writeValueAsString(data))

    def collect(self, query_name: str) -> dict[str, Any]:
        """Aggregate stage metrics for the query's latest execution
        (IcebergBenchmark.java:269-355 field-for-field where stock Spark
        exposes the quantity)."""
        empty = {
            "total_executor_run_time_ms": 0,
            "total_executor_cpu_time_ms": 0,
            "total_jvm_gc_time_ms": 0,
            "total_input_bytes": 0,
            "total_input_records": 0,
            "stages": [],
            "metrics_source": "status_store",
        }
        group = self._groups.get(query_name)
        if group is None:
            return empty
        try:
            out = dict(empty, stages=[])
            for sid in self._stage_ids(group):
                for st in self._stage_attempts(sid):
                    if st.get("status") not in ("COMPLETE", "FAILED"):
                        continue
                    entry = {
                        "stage_id": sid,
                        "executor_run_time_ms": st.get("executorRunTime", 0),
                        "executor_cpu_time_ms": int(st.get("executorCpuTime", 0) / 1e6),
                        "jvm_gc_time_ms": st.get("jvmGcTime", 0),
                        "input_bytes": st.get("inputBytes", 0),
                        "input_records": st.get("inputRecords", 0),
                        "num_tasks": st.get("numCompleteTasks", 0),
                    }
                    out["stages"].append(entry)
                    out["total_executor_run_time_ms"] += entry["executor_run_time_ms"]
                    out["total_executor_cpu_time_ms"] += entry["executor_cpu_time_ms"]
                    out["total_jvm_gc_time_ms"] += entry["jvm_gc_time_ms"]
                    out["total_input_bytes"] += entry["input_bytes"]
                    out["total_input_records"] += entry["input_records"]
            # Best-effort stand-in for the reference's custom_scan_time
            # accumulable (patched-jar only, SURVEY §4): executor run time
            # of the stages that actually read input. Upper-bounds scan
            # time (those stages also filter/project), hence "best-effort".
            out["total_batch_scan_time_ms"] = sum(
                s["executor_run_time_ms"] for s in out["stages"] if s["input_bytes"] > 0
            )
            return out
        except Exception as e:  # py4j error → metrics best-effort, never fatal
            empty["metrics_source"] = f"error: {e}"
            return empty
