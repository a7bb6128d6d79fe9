"""Harness operator tests (SURVEY §5.2 item 3: A1-A15 semantics)."""

from __future__ import annotations

import glob

import pytest

from iceberg_benchmark_java_spark.harness import (
    RESULTS_SCHEMA,
    BenchmarkRunner,
    discover_queries,
    render_query,
    results_dataframe,
)
from iceberg_benchmark_java_spark.harness.runner import ERROR_TRUNCATE
from tests.conftest import SF_SMOKE


def test_discovery_sorted_and_filtered(tmp_path):
    # IcebergBenchmark.java:162-167: only regular *.sql, sorted by name
    (tmp_path / "q10.sql").write_text("SELECT 10")
    (tmp_path / "q02.sql").write_text("SELECT 2")
    (tmp_path / "q1.txt").write_text("not sql")
    (tmp_path / "sub.sql").mkdir()  # directory with .sql name → excluded
    found = discover_queries(tmp_path)
    assert [p.name for p in found] == ["q02.sql", "q10.sql"]


def test_discovery_missing_dir_warns_returns_empty(recwarn, tmp_path):
    assert discover_queries(tmp_path / "nope") == []
    assert any("not found" in str(w.message) for w in recwarn.list)


def test_templating():
    # IcebergBenchmark.java:174-175
    sql = "SELECT * FROM ${database}.${schema}.lineitem, ${database}.${schema}.orders"
    assert (
        render_query(sql, "cat", "db")
        == "SELECT * FROM cat.db.lineitem, cat.db.orders"
    )


def test_results_schema_matches_reference():
    # IcebergBenchmark.java:131-147: the reference's 12 columns first, in
    # its order and names; rebuild extensions strictly after.
    names = [f.name for f in RESULTS_SCHEMA.fields]
    assert names[:12] == [
        "run_id",
        "schema_size",
        "benchmark_type",
        "query_name",
        "execution_time_sec",
        "status",
        "error_message",
        "metrics_json",
        "analytics_core_enabled",
        "client_type",
        "total_batch_scan_time_ms",
        "timestamp",
    ]
    assert names[12:] == ["execution_id", "start_time_ms", "end_time_ms"]


def test_runner_noop_execution_and_error_capture(spark):
    from iceberg_benchmark_java_spark.catalog import register_views

    register_views(spark, SF_SMOKE)
    r = BenchmarkRunner(spark, run_id="t1", collect_metrics=False)
    ok = r.run_sql("TPC-H", "q_ok", "SELECT l_returnflag, count(*) FROM lineitem GROUP BY 1")
    assert ok.status == "SUCCESS" and ok.error_message is None
    assert ok.execution_time_sec >= 0

    bad = r.run_sql("TPC-H", "q_bad", "SELECT * FROM missing_table_xyz")
    assert bad.status == "FAILED"
    assert bad.error_message and len(bad.error_message) <= ERROR_TRUNCATE

    # a DataFrame builder runs through the same timed path
    built = r.run("PIPELINE", "q_built", lambda: spark.table("lineitem").groupBy("l_returnflag").count())
    assert built.status == "SUCCESS" and built.error_message is None

    def raising_builder():
        raise ValueError("builder broke: " + "x" * 5000)

    broken = r.run("PIPELINE", "q_broken", raising_builder)
    assert broken.status == "FAILED"
    assert broken.error_message.startswith("builder broke")
    assert len(broken.error_message) <= ERROR_TRUNCATE
    # run continues after failure (A9) and buffers every run (A11)
    assert [x.query_name for x in r.results] == ["q_ok", "q_bad", "q_built", "q_broken"]


def test_runner_suite_and_csv_flush(spark, tmp_path):
    from iceberg_benchmark_java_spark.catalog import register_views

    register_views(spark, SF_SMOKE)
    qdir = tmp_path / "queries"
    qdir.mkdir()
    (qdir / "q01.sql").write_text("SELECT count(*) FROM lineitem")
    (qdir / "q02.sql").write_text("SELECT count(*) FROM ${schema}orders")
    r = BenchmarkRunner(spark, run_id="t2", collect_metrics=False)
    results = r.run_suite("TPC-H", qdir, catalog="", schema="")
    assert [x.query_name for x in results] == ["q01.sql", "q02.sql"]
    assert all(x.status == "SUCCESS" for x in results)

    out = r.flush_csv(str(tmp_path / "out"))
    files = glob.glob(out + "/*.csv")
    assert len(files) == 1  # repartition(1) → single CSV file
    header = open(files[0]).readline().strip()
    assert header.startswith('"run_id"')  # quoteAll + header


def test_metrics_collection_smoke(spark):
    from iceberg_benchmark_java_spark.catalog import register_views

    register_views(spark, SF_SMOKE)
    r = BenchmarkRunner(spark, run_id="t3", collect_metrics=True)
    res = r.run_sql("TPC-H", "qm", "SELECT sum(l_quantity) FROM lineitem")
    assert res.metrics_json is not None
    import json

    m = json.loads(res.metrics_json)
    assert "total_executor_run_time_ms" in m
    assert 0 <= m["build_ms"] <= res.execution_time_sec * 1000
    assert m["metrics_source"] == "status_store"
    assert isinstance(m["stages"], list)


JOIN_SQL = (
    "SELECT l_returnflag, count(*) FROM lineitem "
    "JOIN orders ON l_orderkey = o_orderkey GROUP BY 1"
)


def test_metrics_json_lists_only_its_own_execution(spark):
    """Each run of one query name reports its own stages, not those of
    earlier runs in the session."""
    import json

    from iceberg_benchmark_java_spark.catalog import register_views

    register_views(spark, SF_SMOKE)
    shapes = []
    for i in range(3):
        res = BenchmarkRunner(spark, run_id=f"own{i}").run_sql("TPC-H", "q_rerun", JOIN_SQL)
        m = json.loads(res.metrics_json)
        assert m["metrics_source"] == "status_store"
        shapes.append((len(m["stages"]), sum(s["num_tasks"] for s in m["stages"])))
    assert shapes[0][0] > 0
    assert shapes == [shapes[0]] * 3


def test_metrics_match_rest_stage_endpoint(spark):
    """The collector reads each stage from the status store as the REST
    endpoint ``/stages/{id}?details=false`` serves it: same attempts, same
    fields, so the per-stage entries are those REST would have given."""
    import json
    import urllib.error
    import urllib.request

    from iceberg_benchmark_java_spark.catalog import register_views

    register_views(spark, SF_SMOKE)
    r = BenchmarkRunner(spark, run_id="parity")
    m = json.loads(r.run_sql("TPC-H", "q_parity", JOIN_SQL).metrics_json)
    sc, c = spark.sparkContext, r._collector
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"
    want = []
    for sid in c._stage_ids(c._groups["q_parity"]):
        try:
            with urllib.request.urlopen(f"{base}/{sid}?details=false", timeout=10) as resp:
                attempts = json.load(resp)
        except urllib.error.HTTPError as e:
            assert e.code == 404  # a stage the store does not hold
            attempts = []
        assert c._stage_attempts(sid) == attempts
        want += [
            (sid, a["executorRunTime"], int(a["executorCpuTime"] / 1e6), a["jvmGcTime"],
             a["inputBytes"], a["inputRecords"], a["numCompleteTasks"])
            for a in attempts
            if a["status"] in ("COMPLETE", "FAILED")
        ]
    got = [
        (s["stage_id"], s["executor_run_time_ms"], s["executor_cpu_time_ms"], s["jvm_gc_time_ms"],
         s["input_bytes"], s["input_records"], s["num_tasks"])
        for s in m["stages"]
    ]
    assert want and got == want


def test_metrics_collect_makes_no_http_request(spark, monkeypatch):
    import json
    import urllib.request

    from iceberg_benchmark_java_spark.catalog import register_views

    def no_http(*args, **kwargs):
        raise AssertionError("the collector made an HTTP request")

    register_views(spark, SF_SMOKE)
    monkeypatch.setattr(urllib.request, "urlopen", no_http)
    res = BenchmarkRunner(spark, run_id="nohttp").run_sql("TPC-H", "q_nohttp", JOIN_SQL)
    m = json.loads(res.metrics_json)
    assert m["metrics_source"] == "status_store"
    assert m["stages"] and m["total_executor_run_time_ms"] > 0


def test_rerun_reuses_compiled_plan(spark):
    """A query run again after more than 100 other generated classes (the
    size of Spark's default codegen cache) compiles nothing."""
    from iceberg_benchmark_java_spark.catalog import register_views

    register_views(spark, SF_SMOKE)
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    r = BenchmarkRunner(spark, run_id="reuse", collect_metrics=False)

    def run(i: int) -> None:
        sql = (
            f"SELECT l_returnflag, sum(l_quantity * {i}), count(*) FROM lineitem "
            f"WHERE l_orderkey % {i + 2} = 0 GROUP BY 1"
        )
        assert r.run_sql("TPC-H", f"mix{i}", sql).status == "SUCCESS"

    run(0)
    n0 = compiles.getCount()
    for i in range(1, 120):
        run(i)
    n1 = compiles.getCount()
    assert n1 - n0 > 100  # the mix alone overflows the default cache
    run(0)
    assert compiles.getCount() == n1


def test_bench_stdout_line_contract():
    """bench.py's stdout line: one line of JSON with exactly the driver's
    nine keys, its value the sum of the best runs."""
    import json

    import bench

    timings = {"a": 1.5, "b": 0.25, "c": 2.125}
    line = bench.stdout_line(timings, probe=0.5, n_failed=1, sf=0.01)
    assert "\n" not in line
    out = json.loads(line)
    assert set(out) == {
        "metric", "value", "unit", "queries", "n_queries", "probe", "n_failed", "full", "sf",
    }
    assert out["value"] == sum(timings.values())
    assert list(out["queries"]) == ["c", "a", "b"]  # slowest first
    assert (out["n_queries"], out["probe"], out["n_failed"], out["sf"]) == (3, 0.5, 1, 0.01)
    # a tail-truncated line is broken JSON, so the whole line must fit the
    # 2,000-byte budget even with every headline entry at 99.99 s
    worst = {n: 99.99 for n in bench.HEADLINE}
    line = bench.stdout_line(worst, probe=99.99, n_failed=len(worst), sf=0.1)
    assert len(line.encode()) < 2000


def test_ref_query_restores_dropped_view(spark):
    """A corpus query re-registers any view it reads that the session
    lost, not only the first table of the suite."""
    from iceberg_benchmark_java_spark import corpus_ref

    assert corpus_ref.run_ref_query(spark, "tpcds", "q03").count() > 0
    spark.catalog.dropTempView("ref_tpcds_store_sales")
    assert corpus_ref.run_ref_query(spark, "tpcds", "q03").count() > 0


def test_results_dataframe_round_trip(spark):
    r = BenchmarkRunner(spark, run_id="t4", collect_metrics=False)
    r.run_sql("TPC-H", "q", "SELECT 1")
    df = results_dataframe(spark, [x.as_row() for x in r.results])
    row = df.collect()[0]
    assert row.run_id == "t4" and row.status == "SUCCESS"


RESULTS_HEADER = (
    '"run_id","schema_size","benchmark_type","query_name","execution_time_sec","status",'
    '"error_message","metrics_json","analytics_core_enabled","client_type",'
    '"total_batch_scan_time_ms","timestamp","execution_id","start_time_ms","end_time_ms"\n'
)


def _result_row(**changes):
    from datetime import datetime

    row = dict(
        run_id="g", schema_size="sf0.001", benchmark_type="TPC-DS", query_name="q01.sql",
        execution_time_sec=1.5, status="SUCCESS", error_message=None, metrics_json='{"a": 1}',
        analytics_core_enabled=False, client_type="HTTP", total_batch_scan_time_ms=7,
        timestamp=datetime(2026, 10, 17, 10, 42, 52, 123000),  # naive UTC, as run() stores it
        execution_id=0, start_time_ms=1792233772000, end_time_ms=1792233773500,
    )
    return dict(row, **changes)


def test_results_csv_bytes_are_golden(spark, tmp_path):
    """The flushed CSV, byte for byte: nulls, quotes, newlines and commas
    inside fields, non-ASCII text, doubles Java prints in E notation, and a
    run with no rows (header only)."""
    from iceberg_benchmark_java_spark.harness import write_results_csv

    rows = [
        _result_row(
            schema_size=None, benchmark_type=None, metrics_json=None, total_batch_scan_time_ms=None,
            analytics_core_enabled=None, execution_id=None, start_time_ms=None, end_time_ms=None,
            execution_time_sec=None,
        ),
        _result_row(
            query_name="q02.sql", status="FAILED", error_message='say "no", then\nstop',
            metrics_json='{"k": "v,w"}', execution_time_sec=1e-4, execution_id=1,
        ),
        _result_row(
            query_name="q_é_日本.sql", error_message="", execution_time_sec=12345678.5,
            analytics_core_enabled=True, client_type="ünï", execution_id=2,
        ),
    ]
    golden = RESULTS_HEADER + (
        '"g","","","q01.sql","","SUCCESS","","","","HTTP","","2026-10-17T10:42:52.123Z","","",""\n'
        '"g","sf0.001","TPC-DS","q02.sql","1.0E-4","FAILED","say ""no"", then\nstop",'
        '"{""k"": ""v,w""}","false","HTTP","7","2026-10-17T10:42:52.123Z","1","1792233772000",'
        '"1792233773500"\n'
        '"g","sf0.001","TPC-DS","q_é_日本.sql","1.23456785E7","SUCCESS","","{""a"": 1}","true",'
        '"ünï","7","2026-10-17T10:42:52.123Z","2","1792233772000","1792233773500"\n'
    )
    for run_id, rs, want in (("rows", rows, golden), ("empty", [], RESULTS_HEADER)):
        out = write_results_csv(results_dataframe(spark, rs), str(tmp_path), run_id)
        files = glob.glob(out + "/*.csv")
        assert len(files) == 1
        with open(files[0], "rb") as f:
            assert f.read() == want.encode("utf-8"), run_id


def test_results_dataframe_starts_no_python_worker(spark):
    """The rows reach the JVM as Arrow batches: no PythonRDD in the lineage,
    so flushing starts no Python daemon or worker."""
    df = results_dataframe(spark, [_result_row(), _result_row(execution_id=1)])
    assert "PythonRDD" not in df._jdf.rdd().toDebugString()


def test_results_timestamp_is_utc_on_any_host(spark):
    """run() stores naive UTC datetimes; the flushed timestamp must not
    shift by the host's UTC offset."""
    import os
    import time

    from pyspark.sql import functions as F

    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        df = results_dataframe(spark, [_result_row()])
        got = df.select(F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss.SSS")).first()[0]
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()
    assert got == "2026-10-17T10:42:52.123"


def test_dynamic_partition_overwrite(spark, tmp_path):
    """The session sets partitionOverwriteMode=dynamic
    (IcebergBenchmark.java:97): overwriting one partition's data must leave
    sibling partitions untouched instead of truncating the table."""
    from pyspark.sql import functions as F

    from iceberg_benchmark_java_spark.catalog import load_table

    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "dynamic"
    out = str(tmp_path / "dpo")
    l = load_table(spark, SF_SMOKE, "lineitem").withColumn(
        "ship_month", F.date_trunc("month", "l_shipdate").cast("date")
    )
    l.write.partitionBy("ship_month").mode("overwrite").parquet(out)
    before = spark.read.parquet(out)
    n_total = before.count()
    one_month = before.select(F.max("ship_month")).first()[0]
    n_month = before.filter(F.col("ship_month") == one_month).count()
    # rewrite ONLY that month with halved quantities, mode=overwrite
    (
        before.filter(F.col("ship_month") == one_month)
        .withColumn("l_quantity", F.col("l_quantity") / 2)
        .write.partitionBy("ship_month")
        .mode("overwrite")
        .parquet(out)
    )
    after = spark.read.parquet(out)
    assert after.count() == n_total  # siblings survived (dynamic, not truncate)
    assert after.filter(F.col("ship_month") == one_month).count() == n_month


def test_catalog_qualified_suite_with_use_database(spark, tmp_path):
    """A5 (USE catalog.db) + A7 catalog templating end-to-end: a corpus
    file with ${database}.${schema} prefixes runs against a real catalog
    database."""
    from iceberg_benchmark_java_spark.catalog import load_table

    spark.sql("CREATE DATABASE IF NOT EXISTS ibx_cat")
    load_table(spark, SF_SMOKE, "lineitem").write.mode("overwrite").saveAsTable(
        "ibx_cat.lineitem_cat"
    )
    qdir = tmp_path / "catq"
    qdir.mkdir()
    (qdir / "q01.sql").write_text(
        "SELECT l_returnflag, count(*) AS n FROM "
        "${database}.${schema}.lineitem_cat GROUP BY l_returnflag"
    )
    r = BenchmarkRunner(spark, run_id="t5", collect_metrics=False)
    results = r.run_suite(
        "TPC-H", qdir, catalog="spark_catalog", schema="ibx_cat", use_database=True
    )
    assert [x.status for x in results] == ["SUCCESS"]
    assert spark.catalog.currentDatabase() == "ibx_cat"  # A5 took effect
    spark.sql("USE default")
    spark.sql("DROP TABLE ibx_cat.lineitem_cat")


@pytest.mark.slow
def test_cli_runs_verbatim_tpch_suite(spark, tmp_path):
    """The byte-identical reference TPC-H files execute through the full
    harness path (discovery → templating → timed noop → CSV) against the
    fixtures/tpch warehouse via --fixture-suite."""
    from iceberg_benchmark_java_spark import cli

    rc = cli.main(
        [
            "--tpch-dir", "corpus/tpch_ref",
            "--fixture-suite", "tpch",
            "--run-id", "pytest-ref-tpch",
            "--output-gcs-path", str(tmp_path),
            "--no-metrics",
        ]
    )
    assert rc == 0
    csvs = list(tmp_path.glob("pytest-ref-tpch/*.csv"))
    assert csvs
    body = csvs[0].read_text()
    assert body.count("SUCCESS") == 22


def test_source_format_round_trips(spark, tmp_path):
    """Source/sink format surface beyond parquet: documents survive a
    lossless round-trip through JSON-lines and headered CSV (explicit
    schema on read — production ingest never infers), verified by a
    whole-table digest. ORC round-trips too (the columnar alternative)."""
    import pyspark.sql.functions as F

    from iceberg_benchmark_java_spark.catalog import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")

    def digest(df):
        row = (
            df.select(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("doc_id").cast("string"),
                        "text",
                        "lang",
                        "source",
                        F.col("n_chars").cast("string"),
                    )
                ).alias("h")
            )
            .agg(F.sum(F.pmod(F.conv(F.substring("h", 1, 15), 16, 10).cast("long"),
                               F.lit(2_147_483_648))))
            .collect()[0]
        )
        return row[0]

    want = digest(docs)
    cases = {
        "json": dict(write=lambda p: docs.write.json(p),
                     read=lambda p: spark.read.schema(docs.schema).json(p)),
        "csv": dict(
            write=lambda p: docs.write.option("header", True)
            .option("quoteAll", True).option("escape", '"').csv(p),
            read=lambda p: spark.read.schema(docs.schema)
            .option("header", True).option("escape", '"').csv(p),
        ),
        "orc": dict(write=lambda p: docs.write.orc(p),
                    read=lambda p: spark.read.orc(p)),
    }
    for fmt, c in cases.items():
        path = str(tmp_path / fmt)
        c["write"](path)
        back = c["read"](path)
        assert back.count() == docs.count(), fmt
        assert digest(back) == want, f"{fmt} round-trip lost data"
