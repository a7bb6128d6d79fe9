"""Results publishing (harness operator A14).

The reference buffers one 13-key map per query and flushes a 12-column
DataFrame as a single CSV file per run (schema IcebergBenchmark.java:131-147,
rows :357-376, writer options :391-399). Reproduced field-for-field,
including the writer options (header, quoteAll, escape='"', append mode,
repartition(1) for a single output file).

The buffered rows reach the JVM as one Arrow table, not as a Python list:
``createDataFrame(list)`` parallelizes the list, and pickling it starts a
Python daemon and its workers only to carry a dozen rows. The Arrow route
yields a single partition that no Python worker touches, and its
``timestamp`` column holds the naive UTC times the runner records (the list
route reads naive values as host-local time).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Mirrors IcebergBenchmark.java:131-147 (names, types, and order 1:1),
# with three rebuild-extension columns appended after the reference set
# (execution_id / start_time_ms / end_time_ms — the reference keeps start/
# end only in its in-memory maps).
RESULTS_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("schema_size", StringType(), True),
        StructField("benchmark_type", StringType(), True),
        StructField("query_name", StringType(), True),
        StructField("execution_time_sec", DoubleType(), True),
        StructField("status", StringType(), True),
        StructField("error_message", StringType(), True),
        StructField("metrics_json", StringType(), True),
        StructField("analytics_core_enabled", BooleanType(), True),
        StructField("client_type", StringType(), True),
        StructField("total_batch_scan_time_ms", LongType(), True),
        StructField("timestamp", TimestampType(), False),
        # -- rebuild extensions --
        StructField("execution_id", LongType(), True),
        StructField("start_time_ms", LongType(), True),
        StructField("end_time_ms", LongType(), True),
    ]
)
_ARROW_SCHEMA = to_arrow_schema(RESULTS_SCHEMA)  # timestamp: us, UTC


def results_dataframe(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Buffered result maps → typed DataFrame (A11 buffer → A14 schema)."""
    table = pa.Table.from_pylist(rows, schema=_ARROW_SCHEMA)
    return spark.createDataFrame(table, RESULTS_SCHEMA)


def write_results_csv(df: DataFrame, output_path: str, run_id: str) -> str:
    """Single-file CSV append under <output_path>/<run_id>
    (IcebergBenchmark.java:378-403: repartition(1), header, quoteAll,
    escape '"', SaveMode.Append)."""
    target = f"{output_path.rstrip('/')}/{run_id}"
    (
        df.repartition(1)
        .write.option("header", "true")
        .option("quoteAll", "true")
        .option("escape", '"')
        .mode("append")
        .csv(target)
    )
    return target
