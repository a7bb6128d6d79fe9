"""Table registration & warehouse bootstrap (SURVEY §7 M1).

The reference assumes a pre-loaded Iceberg warehouse and only issues
``USE catalog.db`` (IcebergBenchmark.java:153). This module supplies the
missing bootstrap:

- ``load_table``: the one opener of a flat parquet base table. Where Iceberg
  serves a schema from metadata, it takes it from the parquet footer on the
  driver, so an open starts no Spark job and nothing is memoized.
- ``ensure_published``: the one publisher of derived on-disk tables
  (stored indexes, partitioned layouts). A directory is served while its
  ``_complete`` marker carries the caller's stamp of the content it derives
  from, and otherwise rebuilt in a temp dir and renamed into place.
- ``register_views``: register the driver-generated parquet fixtures
  (TESTDATA.md) as temp views — the no-dependency path used by tests and
  the correctness gate. ``read_tables`` is the one reader of the flat and
  the partitioned layout: it publishes each fact table's partitioned copy
  (``write_partitioned_warehouse``, one spec form for the sf and the
  corpus layouts) and reads it back with the flat table's schema.
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


# --- derived on-disk state: content-keyed, crash-safe publication -----------
def _sha16(path: str) -> str:
    """The first 16 hex digits of the sha256 of the file at ``path``,
    read in chunks."""
    import hashlib

    with open(path, "rb") as fh:
        return hashlib.file_digest(fh, "sha256").hexdigest()[:16]


def _source_fingerprint(sf_dir: str, table: str) -> str:
    """Content fingerprint of the table's parquet file or directory tree:
    the sha256 of every file's bytes. A regenerated warehouse invalidates
    any derived table built from the old bytes, even at the same size; a
    copied one, with the same bytes under new timestamps, keeps it."""
    path = table_path(sf_dir, table)
    files = [path] if not os.path.isdir(path) else sorted(
        os.path.join(root, f) for root, _, names in os.walk(path) for f in names
    )
    return ";".join(f"{os.path.relpath(f, sf_dir)}:{_sha16(f)}" for f in files)


def _marker_fresh_index(d: str, stamp: str) -> bool:
    marker = os.path.join(d, "_complete")
    if not os.path.exists(marker):
        return False
    with open(marker) as fh:
        return fh.read().strip() == stamp


def _publish_index(d: str, stamp: str, write_tables) -> None:
    """Build-once/serve-many publication with a crash-safe, NEAR-atomic
    swap: ``write_tables(tmp_dir)`` materializes every table into a
    process-private temp dir, the ``_complete`` marker is written INSIDE
    it, and only then is the temp dir renamed into place — a reader never
    scans half-overwritten parquet (an incomplete dir has no marker, so
    :func:`_marker_fresh_index` sends it back to the builder). A build
    that raises removes its temp dir and leaves ``d`` as it was; so does a
    swap that fails between its renames, which renames the previous
    publication back before it re-raises. The swap is two renames, not
    one: POSIX cannot atomically exchange two non-empty directories, so
    between displacing the old dir and publishing the new one the target
    is briefly ABSENT, and a reader's
    in-flight scan of the displaced dir can race its removal — acceptable
    for this repo's fixture indexes (single host, rebuilds only on code/
    data change), called out here because a production deployment would
    publish under a versioned path + pointer swap instead. Two concurrent
    BUILDERS are reconciled: if the final rename finds the target already
    recreated, the loser accepts the winner's publication when its marker
    carries the same stamp (same code + data ⇒ same tables) and raises
    otherwise."""
    import shutil

    os.makedirs(os.path.dirname(d), exist_ok=True)
    tmp = f"{d}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        write_tables(tmp)
        with open(os.path.join(tmp, "_complete"), "w") as fh:
            fh.write(stamp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    old = f"{d}.old.{os.getpid()}"
    shutil.rmtree(old, ignore_errors=True)
    try:
        if os.path.exists(d):
            os.rename(d, old)
        os.rename(tmp, d)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if os.path.exists(old) and not os.path.exists(d):
            os.rename(old, d)  # keep serving the previous publication
        if not _marker_fresh_index(d, stamp):  # else lost to a twin build
            raise
    finally:
        shutil.rmtree(old, ignore_errors=True)


def ensure_published(d: str, stamp: str, write_tables) -> str:
    """THE discipline for derived on-disk state (stored indexes and
    partitioned layouts): ``d`` is served read-only
    while its ``_complete`` marker carries ``stamp``, and otherwise
    rebuilt by ``write_tables(tmp_dir)`` and published by
    :func:`_publish_index`. The stamp names everything the tables derive
    from — source content, never a host-local mtime — so freshness and
    publication rules cannot drift between callers. Returns ``d``."""
    if _marker_fresh_index(d, stamp):
        return d
    _publish_index(d, stamp, write_tables)
    return d


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

    With ``partitioned_dir`` set, the fact tables are published there in
    their partitioned layout (:func:`write_partitioned_warehouse`) and
    registered from it instead: the reference's flat/partitioned run axis
    (runner.sh vs partitioned_runner.sh) for the parquet path. Both axes
    expose identical view schemas (:func:`read_tables`).

    ``tables`` narrows registration to the named subset (e.g. TPCH_TABLES
    for subquery showcases) so a corrupt or absent fixture outside the
    subset can never fail an unrelated query family."""
    names = [
        n
        for n in (tables if tables is not None else TABLES)
        if os.path.exists(table_path(sf_dir, n))
    ]
    out = read_tables(spark, sf_dir, names, PARQUET_PARTITION_COLS, partitioned_dir)
    for name, df in out.items():
        df.createOrReplaceTempView(name)
    return out


# Plain-parquet partition spec for the partitioned-layout axis when the
# Iceberg runtime (hidden partitioning) is absent: table → (partition
# column, the SQL expression that derives it), a month/day column
# materialized as the directory key.
PARQUET_PARTITION_COLS: dict[str, tuple[str, str]] = {
    "lineitem": ("l_shipmonth", "CAST(date_trunc('month', l_shipdate) AS DATE)"),
    "orders": ("o_ordermonth", "CAST(date_trunc('month', o_orderdate) AS DATE)"),
    "events": ("event_day", "CAST(date_trunc('day', ts) AS DATE)"),
}


def write_partitioned_warehouse(
    spark: SparkSession, sf_dir: str, out_dir: str, spec: dict[str, tuple[str, str]]
) -> dict[str, str]:
    """Materialize the partitioned-layout axis as plain parquet
    (runner.sh vs partitioned_runner.sh without an Iceberg runtime): each
    table of ``spec`` ({table: (partition column, SQL expression)}) goes
    from ``sf_dir`` to ``out_dir/<table>``, partitioned by the column the
    expression derives. Each table is its own publication
    (:func:`ensure_published`), stamped with its spec entry and its source
    file's content: a changed source rebuilds it, a byte-identical copy
    does not, and tables outside ``spec`` are never touched. Returns
    table → path. Reading back with a filter on the partition column must
    show PartitionFilters in the scan (asserted in tests) — the partition-
    pruning behavior the reference's partitioned warehouse exists to
    exercise."""
    from pyspark.sql import functions as F  # local: keep module import light

    out: dict[str, str] = {}
    for name, (col, expr) in spec.items():

        def write(tmp: str) -> None:
            df = load_table(spark, sf_dir, name).withColumn(col, F.expr(expr))
            df.write.partitionBy(col).parquet(tmp)

        stamp = f"{col}={expr}\n{_source_fingerprint(sf_dir, name)}"
        out[name] = ensure_published(os.path.join(out_dir, name), stamp, write)
    return out


def read_tables(
    spark: SparkSession,
    sf_dir: str,
    names: list[str],
    spec: dict[str, tuple[str, str]],
    partitioned_dir: str | None,
) -> dict[str, DataFrame]:
    """The base tables ``names`` of ``sf_dir``, the one reader of both
    layouts. With ``partitioned_dir`` set, the tables of ``spec`` are
    published there (:func:`write_partitioned_warehouse`) and read from
    it with the schema :func:`load_table` gives the flat table: a
    partition-directory read puts the key column last, infers int64 keys
    as int32 and adds any derived partition column, so reading with the
    flat schema in its order keeps SELECT * parity and join-type
    resolution between the layouts."""
    part_paths = (
        write_partitioned_warehouse(
            spark, sf_dir, partitioned_dir, {n: spec[n] for n in names if n in spec}
        )
        if partitioned_dir
        else {}
    )
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        if name in part_paths:
            df = spark.read.schema(df.schema).parquet(part_paths[name]).select(*df.columns)
        out[name] = df
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
