"""Benchmark runner (harness operators A5/A8/A9/A11/A15).

The reference's per-suite loop (IcebergBenchmark.java:149-222) re-expressed:
USE database → discover/sort *.sql → per file: template → timed
``spark.sql(q).write.format("noop")`` (forces full execution, discards
rows) → catch-all error capture truncated to 2000 chars → buffer a result
map → attach stage metrics → flush CSV.

Differences by design (documented, cleaner semantics):
- metrics correlate via job groups + REST (metrics.py), not a static-state
  listener with a 10 s sleep — one job group per execution, race-free;
- ``use_database`` is optional: with the parquet-view catalog there is no
  USE statement to issue.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from datetime import datetime, timezone
from pathlib import Path
from typing import Any

from pyspark.sql import SparkSession

from .discovery import discover_queries, load_query
from .metrics import StageMetricsCollector

ERROR_TRUNCATE = 2000  # IcebergBenchmark.java:186


@dataclass
class QueryResult:
    run_id: str
    schema_size: str
    benchmark_type: str
    query_name: str
    execution_id: int
    start_time_ms: int
    end_time_ms: int
    execution_time_sec: float
    status: str
    error_message: str | None
    analytics_core_enabled: bool
    timestamp: datetime
    metrics_json: str | None = None
    client_type: str = "HTTP"
    total_batch_scan_time_ms: int | None = None

    def as_row(self) -> dict[str, Any]:
        return self.__dict__.copy()


@dataclass
class BenchmarkRunner:
    spark: SparkSession
    run_id: str
    schema_size: str = "sf0.1"
    collect_metrics: bool = True
    # A4 tags (IcebergBenchmark.java:107-118): introspected from catalog
    # confs by the CLI; plain fields here so any caller can set them.
    analytics_core_enabled: bool = False
    client_type: str = "HTTP"
    results: list[QueryResult] = field(default_factory=list)

    def __post_init__(self) -> None:
        self._collector = StageMetricsCollector(self.spark)
        self._next_execution_id = 0

    # --- A8/A9: timed noop execution with error capture ----------------------
    def run_sql(self, benchmark_type: str, query_name: str, sql_text: str) -> QueryResult:
        import json

        if self.collect_metrics:
            self._collector.begin(query_name)
        start_ms = int(time.time() * 1000)
        status, error = "SUCCESS", None
        try:
            # noop sink: full execution, rows discarded
            # (IcebergBenchmark.java:179-190)
            self.spark.sql(sql_text).write.format("noop").mode("overwrite").save()
        except Exception as e:  # A9: record, truncate, continue
            status, error = "FAILED", str(e)[:ERROR_TRUNCATE]
        end_ms = int(time.time() * 1000)
        metrics_json, scan_ms = None, None
        if self.collect_metrics:
            self._collector.end()
            metrics = self._collector.collect(query_name)
            metrics_json = json.dumps(metrics)
            # best-effort stand-in for the reference's patched-jar
            # custom_scan_time accumulable (SURVEY §4): not derivable from
            # stock Spark, recorded only if a collector ever provides it.
            scan_ms = metrics.get("total_batch_scan_time_ms")
        execution_id = self._next_execution_id
        self._next_execution_id += 1
        result = QueryResult(
            run_id=self.run_id,
            schema_size=self.schema_size,
            benchmark_type=benchmark_type,
            query_name=query_name,
            execution_id=execution_id,
            start_time_ms=start_ms,
            end_time_ms=end_ms,
            execution_time_sec=(end_ms - start_ms) / 1000.0,
            status=status,
            error_message=error,
            analytics_core_enabled=self.analytics_core_enabled,
            timestamp=datetime.now(timezone.utc).replace(tzinfo=None),
            metrics_json=metrics_json,
            client_type=self.client_type,
            total_batch_scan_time_ms=scan_ms,
        )
        self.results.append(result)
        return result

    # --- per-suite loop (IcebergBenchmark.java:149-222) ----------------------
    def run_suite(
        self,
        benchmark_type: str,
        query_dir: str | Path,
        catalog: str = "",
        schema: str = "",
        use_database: bool = False,
    ) -> list[QueryResult]:
        if use_database and catalog and schema:
            self.spark.sql(f"USE {catalog}.{schema}")  # A5
        out = []
        for path in discover_queries(query_dir):  # A6: sorted order
            sql_text = load_query(path, catalog, schema)  # A7
            out.append(self.run_sql(benchmark_type, path.name, sql_text))
        return out

    # --- A14: flush ----------------------------------------------------------
    def flush_csv(self, output_path: str) -> str:
        from .results import results_dataframe, write_results_csv

        df = results_dataframe(self.spark, [r.as_row() for r in self.results])
        return write_results_csv(df, output_path, self.run_id)
