"""SparkSession factory with the reference harness's configuration surface.

Re-expresses the session bootstrap of the reference driver
(``IcebergBenchmark.java:94-101``) and the Iceberg/GCS catalog conf surface of
its launchers (``spark_submit_with_analytics_core.sh:10-23``,
``spark-sql.sh:13-26``) as an idiomatic PySpark factory:

- the same session-level confs (dynamic partition overwrite, debug
  maxToStringFields, shuffle partitions, AQE on),
- an Iceberg hadoop catalog mounted when an ``iceberg-spark-runtime`` jar is
  reachable (local warehouse path instead of GCS — the GCS connector itself is
  environment, not engine), and
- a clean parquet fallback when the Iceberg runtime is absent, so the engine
  runs anywhere Spark runs.

Designed for cluster scale: nothing here assumes local mode except the
defaults, which are overridable via ``SparkConfig``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

# Conf keys mirroring spark_submit_with_analytics_core.sh:10-23 (minus the
# GCS-connector-specific gcs.* keys, which configure a proprietary-side
# transport, not query semantics).
ICEBERG_EXTENSIONS = "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
ICEBERG_CATALOG_IMPL = "org.apache.iceberg.spark.SparkCatalog"


@dataclass
class SparkConfig:
    """Knobs of the reference run matrix (runner.sh / partitioned_runner.sh)."""

    app_name: str = "iceberg-benchmark-pyspark"
    master: str | None = None  # None → respect spark-submit / env
    # Reference uses 2000 for a 29-executor cluster
    # (spark_submit_with_analytics_core.sh:22); local default sized to cores.
    shuffle_partitions: int | None = None
    catalog_name: str = "local"
    warehouse: str | None = None  # enables Iceberg catalog when set
    adaptive: bool = True
    extra_confs: dict[str, str] = field(default_factory=dict)


def local_test_config(app_name: str = "iceberg-benchmark-pyspark-test") -> SparkConfig:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return SparkConfig(
        app_name=app_name,
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )


def iceberg_available() -> bool:
    """True when an iceberg-spark-runtime jar is importable by the JVM."""
    jars_dir = os.path.join(os.path.dirname(__import__("pyspark").__file__), "jars")
    try:
        return any(j.startswith("iceberg-spark-runtime") for j in os.listdir(jars_dir))
    except OSError:
        return False


def build_session(cfg: SparkConfig | None = None) -> SparkSession:
    """Create (or reuse) a SparkSession with the harness conf surface.

    Mirrors IcebergBenchmark.java:94-101: app name, dynamic partition
    overwrite, maxToStringFields=1000, WARN log level.
    """
    cfg = cfg or SparkConfig()
    b = SparkSession.builder.appName(cfg.app_name)
    if cfg.master:
        b = b.master(cfg.master)
    b = (
        b.config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.debug.maxToStringFields", "1000")
        .config("spark.sql.adaptive.enabled", str(cfg.adaptive).lower())
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for the Pandas-UDF extension operators (operators/*).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet TIMESTAMP(NANOS) columns (events.ts) surface as LONG
        # nanos; catalog.load_table converts them to timestamps.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spark 4.1's ChecksumCheckpointFileManager deadlocks when many
        # concurrent stateful-streaming tasks await its shared checksum
        # writer pool (observed: all 32 local tasks parked in
        # ChecksumCheckpointFileManager.awaitResult).
        .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
        # Spark's generated-code cache (LRU, default 100 entries) is smaller
        # than one pass's working set, so every re-run of a query compiled
        # its classes again with Janino and the JIT. One pass of the
        # verbatim corpus needs 1,905 distinct classes for TPC-DS and 294
        # for TPC-H (artifacts/codegen_reuse.json, tools/codegen_reuse.py);
        # 4096 is the next power of two above both together. Static conf:
        # read once per JVM, at the first codegen.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # NOTE (r12 audit): spark.sql.parquet.aggregatePushdown was set
        # here in r11 with a footer-statistics justification, but the
        # conf only applies to DSv2 parquet scans and parquet sits in the
        # default spark.sql.sources.useV1SourceList — so it was inert for
        # every spark.read.parquet in this engine (verified: no
        # PushedAggregation in any v1 plan). Worse, under v2 it pushes
        # MIN/MAX for float/double columns where NaN rows make footer
        # stats unreliable (measured: FAILED_READ_FILE on a NaN-bearing
        # double column). Removed rather than scoped; a production
        # deployment wanting footer-stat watermarks should pin them in
        # table metadata (Iceberg snapshot summaries) instead.
    )
    if cfg.shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
    if cfg.warehouse and iceberg_available():
        b = (
            b.config("spark.sql.extensions", ICEBERG_EXTENSIONS)
            .config(f"spark.sql.catalog.{cfg.catalog_name}", ICEBERG_CATALOG_IMPL)
            .config(f"spark.sql.catalog.{cfg.catalog_name}.type", "hadoop")
            .config(f"spark.sql.catalog.{cfg.catalog_name}.warehouse", cfg.warehouse)
            # spark_submit_with_analytics_core.sh:17
            .config("spark.sql.iceberg.vectorization.enabled", "true")
        )
    for k, v in cfg.extra_confs.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
