"""Table registration & warehouse bootstrap (SURVEY §7 M1).

The reference assumes a pre-loaded Iceberg warehouse and only issues
``USE catalog.db`` (IcebergBenchmark.java:153). This module supplies the
missing bootstrap:

- ``load_table``: the one opener of a flat parquet base table. Where Iceberg
  serves a schema from metadata, it takes it from the parquet footer on the
  driver, so an open starts no Spark job and nothing is memoized.
- ``register_views``: register the driver-generated parquet fixtures
  (TESTDATA.md) as temp views — the no-dependency path used by tests and
  the correctness gate.
- ``bootstrap_iceberg``: CTAS every parquet into an Iceberg catalog, with an
  optional partitioned layout mirroring the reference's flat/partitioned
  warehouse axis (runner.sh:11-12 vs partitioned_runner.sh:11-12). Requires
  the iceberg-spark-runtime jar; no-ops (with a warning) otherwise.

At 100 TB the same code path holds: opening a table, one file or a
directory of part files, lists it and reads one footer on the driver, the
scan is distributed, and CTAS into Iceberg is a distributed write; nothing
here collects rows to the driver.
"""

from __future__ import annotations

import os

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructType, TimestampType, _parse_datatype_json_string

from .session import iceberg_available

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Partition spec for the partitioned-warehouse variant: mirrors the
# reference's partitioned catalog axis (partitioned_runner.sh:11-12).
# Iceberg hidden-partitioning transforms; chosen so partition counts stay
# sane at SF1000 (months(date) ~ 84 partitions for 7 years of TPC-H dates;
# bucket(16, key) bounds fan-out for key-partitioned facts).
PARTITION_SPECS: dict[str, str] = {
    "lineitem": "months(l_shipdate)",
    "orders": "months(o_orderdate)",
    "events": "days(ts)",
}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def footer_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers for the parquet file
    or directory of part files at ``path``, converted from one footer on
    the driver by the code the inference job runs on an executor
    (``ParquetFileFormat.readSchema``, which honours the session's
    ``nanosAsLong`` and ``inferTimestampNTZ``)."""
    # JavaClass names each class outright: resolving a dotted name through
    # spark._jvm costs one py4j round trip per package level.
    jss = spark._jsparkSession
    client = spark.sparkContext._gateway._gateway_client
    conf = jss.sessionState().newHadoopConf()
    p = JavaClass("org.apache.hadoop.fs.Path", client)(path)
    fs = p.getFileSystem(conf)
    status = fs.getFileStatus(p)
    if status.isDirectory():
        # Like inference without mergeSchema, read one footer: a summary
        # file's if there is one, else the first data file's. Other names
        # starting with "_" or "." (_SUCCESS, .crc checksums) are not parquet.
        leaves = {s.getPath().getName(): s for s in fs.listStatus(p) if s.isFile()}
        data = sorted(n for n in leaves if not n.startswith(("_", ".")))
        first = next((n for n in ["_common_metadata", "_metadata", *data] if n in leaves), None)
        if first is None:
            raise FileNotFoundError(f"no parquet data file under {path}")
        status = leaves[first]
    files = spark._jvm.PythonUtils.toSeq([status])
    fmt = getattr(
        JavaClass("org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat$", client),
        "MODULE$",
    )
    footers = fmt.readParquetFootersInParallel(conf, files, False)
    return _parse_datatype_json_string(fmt.readSchema(footers, jss).get().json())


def rebalance_starved_scan(df: DataFrame) -> DataFrame:
    """Scale-adaptive scan-parallelism floor (guide §2: derive the
    partitioning from the input, never from a constant) — OPT-IN per
    query, for builders whose heavy compute runs BEFORE their first
    exchange (map-side partial aggregation, per-row hashing).

    Parquet scans cannot split below one ROW GROUP, and the driver's
    fixtures ship as single-file single-row-group tables — so such a
    scan arrives as ONE task and serializes the pre-exchange compute at
    any core count (measured: tpch_q01's 8-aggregate pass over 600k
    lineitem rows ran 1.6 s single-task on local[32]; 1.31 s with the
    floor). When the scan provides fewer partitions than the session's
    ``defaultParallelism``, insert one round-robin rebalance sized to
    the session; at production row-group counts the gate is a no-op.

    Deliberately NOT applied inside load_table for every table (an r12
    A/B measured it): a query whose compute sits downstream of a keyed
    exchange (joins, windows) is already parallel past its first shuffle
    and only pays the rebalance's extra sort+exchange — the events/join
    families regressed 0.3–0.6 s each under a blanket gate while only
    the map-side-aggregation shapes gained.
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        n_scan = df.rdd.getNumPartitions()
    except Exception:
        return df
    if n_scan < par:
        return df.repartition(par)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The base table ``name`` of ``sf_dir``, read with its footer schema:
    the schema inference gives, without the inference job. Nothing is
    memoized, so each call sees the file as it is now."""
    path = table_path(sf_dir, name)
    if name == "events":
        # A lakehouse ingests across eras: events.ts has shipped both as
        # parquet TIMESTAMP(NANOS) (readable only as LONG nanos under
        # spark.sql.legacy.parquet.nanosAsLong) and as TIMESTAMP(MICROS)
        # (native timestamp_ntz). Read, inspect the arrived type, and
        # normalize — never hard-code one encoding. Set before the footer
        # is converted: the conf decides how NANOS arrives.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = footer_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if name == "events":
        from pyspark.sql import functions as F

        if isinstance(schema["ts"].dataType, LongType):
            # LONG nanos → microsecond timestamp_ntz by pure NTZ
            # arithmetic: timestamp_micros() + cast would round-trip
            # through the SESSION TIMEZONE and shift the wall-clock value
            # on non-UTC driver sessions.
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000, "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        elif isinstance(schema["ts"].dataType, TimestampType):
            # instant-typed era (timestamp[us] with tz) → the UTC wall
            # clock as timestamp_ntz via epoch arithmetic; a direct cast
            # would interpret through the SESSION timezone instead.
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, unix_micros(ts), "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
    return df


TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)


def register_views(
    spark: SparkSession,
    sf_dir: str,
    partitioned_dir: str | None = None,
    tables: tuple[str, ...] | None = None,
) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view; return the DataFrames.

    With ``partitioned_dir`` set, the partitioned warehouse is materialized
    there (once — reused if present) and fact tables are registered from
    their partitioned layout instead: the reference's flat/partitioned run
    axis (runner.sh vs partitioned_runner.sh) for the parquet path. The
    derived partition directory column is dropped at registration so both
    axes expose identical view schemas (SELECT * parity).

    ``tables`` narrows registration to the named subset (e.g. TPCH_TABLES
    for subquery showcases) so a corrupt or absent fixture outside the
    subset can never fail an unrelated query family."""
    part_paths: dict[str, str] = {}
    if partitioned_dir:
        marker = os.path.join(partitioned_dir, "_ibx_complete")
        expected = tuple(
            n for n in PARQUET_PARTITION_COLS if os.path.exists(table_path(sf_dir, n))
        )
        if os.path.exists(marker):
            part_paths = {
                n: os.path.join(partitioned_dir, n)
                for n in PARQUET_PARTITION_COLS
                if os.path.isdir(os.path.join(partitioned_dir, n))
            }
        else:
            part_paths = write_partitioned_warehouse(
                spark, sf_dir, partitioned_dir, tables=tuple(PARQUET_PARTITION_COLS)
            )
            # The marker certifies a COMPLETE materialization: writing it
            # after a partial run (source tables absent from sf_dir) would
            # make later runs trust it and silently skip the missing facts.
            if set(part_paths) == set(expected) and expected:
                open(marker, "w").close()
    out: dict[str, DataFrame] = {}
    for name in tables if tables is not None else TABLES:
        if name in part_paths:
            df = spark.read.parquet(part_paths[name])
            df = df.drop(PARQUET_PARTITION_COLS[name][0])
        elif os.path.exists(table_path(sf_dir, name)):
            df = load_table(spark, sf_dir, name)
        else:
            continue
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


# Plain-parquet partition columns for the partitioned-layout axis when the
# Iceberg runtime (hidden partitioning) is absent: a derived month/day
# column materialized as the directory key.
PARQUET_PARTITION_COLS: dict[str, tuple[str, str]] = {
    "lineitem": ("l_shipmonth", "date_trunc('month', l_shipdate)"),
    "orders": ("o_ordermonth", "date_trunc('month', o_orderdate)"),
    "events": ("event_day", "date_trunc('day', ts)"),
}


def write_partitioned_warehouse(
    spark: SparkSession, sf_dir: str, out_dir: str, tables: tuple[str, ...] | None = None
) -> dict[str, str]:
    """Materialize the partitioned-layout axis as plain parquet
    (runner.sh vs partitioned_runner.sh without an Iceberg runtime): facts
    get a derived time partition directory column, dimensions stay flat.
    Returns table → path. Reading back with a time filter must show
    PartitionFilters in the scan (asserted in tests) — the partition-
    pruning behavior the reference's partitioned warehouse exists to
    exercise."""
    from pyspark.sql import functions as F  # local: keep module import light

    out: dict[str, str] = {}
    for name in tables or TABLES:
        src = table_path(sf_dir, name)
        if not os.path.exists(src):
            continue
        df = load_table(spark, sf_dir, name)
        dst = os.path.join(out_dir, name)
        if name in PARQUET_PARTITION_COLS:
            col, expr = PARQUET_PARTITION_COLS[name]
            (
                df.withColumn(col, F.expr(expr).cast("date"))
                .write.mode("overwrite")
                .partitionBy(col)
                .parquet(dst)
            )
        else:
            df.write.mode("overwrite").parquet(dst)
        out[name] = dst
    return out


# Bucketed-table specs for co-located joins: facts bucketed on their join
# key so fact⋈fact joins read pre-partitioned data and skip the shuffle
# entirely. Bucket counts sized so a bucket stays executor-memory-friendly
# at the target SF (scale the count, not the scheme, for 100 TB).
BUCKET_SPECS: dict[str, tuple[str, int]] = {
    "lineitem": ("l_orderkey", 8),
    "orders": ("o_orderkey", 8),
}


def write_bucketed_tables(
    spark: SparkSession, sf_dir: str, database: str = "ibx_bucketed"
) -> list[str]:
    """Materialize bucketed managed tables for the co-located-join path.

    ``bucketBy`` requires saveAsTable (bucket metadata lives in the
    catalog); the session's default in-memory/derby catalog with the local
    spark-warehouse dir suffices. Joining two tables bucketed (same count)
    on the join key produces a SortMergeJoin with NO Exchange on either
    side — asserted in tests/test_plans.py.
    """
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    created = []
    for name, (key, n_buckets) in BUCKET_SPECS.items():
        if not os.path.exists(table_path(sf_dir, name)):
            continue
        fq = f"{database}.{name}"
        spark.sql(f"DROP TABLE IF EXISTS {fq}")
        # The default session catalog is in-memory: it forgets tables on
        # restart while their managed locations persist on disk — clear the
        # leftover directory or saveAsTable fails LOCATION_ALREADY_EXISTS.
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        shutil.rmtree(os.path.join(wh, f"{database}.db", name), ignore_errors=True)
        (
            load_table(spark, sf_dir, name)
            .write.bucketBy(n_buckets, key)
            .sortBy(key)
            .saveAsTable(fq)
        )
        created.append(fq)
    return created


def bootstrap_iceberg(
    spark: SparkSession,
    sf_dir: str,
    catalog: str,
    database: str,
    partitioned: bool = False,
) -> list[str]:
    """CTAS parquet fixtures into an Iceberg database; returns created names.

    Flat layout: plain ``CREATE TABLE ... USING iceberg AS SELECT``.
    Partitioned layout: adds ``PARTITIONED BY`` per PARTITION_SPECS, the
    rebuild's equivalent of the reference's partitioned warehouse.
    """
    if not iceberg_available():
        import warnings

        warnings.warn(
            "iceberg-spark-runtime jar not on classpath; skipping Iceberg "
            "bootstrap (parquet views remain the active path)",
            stacklevel=2,
        )
        return []
    spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{database}")
    created = []
    for name in TABLES:
        p = table_path(sf_dir, name)
        if not os.path.exists(p):
            continue
        load_table(spark, sf_dir, name).createOrReplaceTempView(f"_src_{name}")
        fq = f"{catalog}.{database}.{name}"
        part = ""
        if partitioned and name in PARTITION_SPECS:
            part = f" PARTITIONED BY ({PARTITION_SPECS[name]})"
        spark.sql(f"DROP TABLE IF EXISTS {fq}")
        spark.sql(f"CREATE TABLE {fq} USING iceberg{part} AS SELECT * FROM _src_{name}")
        created.append(fq)
    return created
