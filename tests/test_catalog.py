"""The one opener of flat parquet base tables (``catalog.load_table``).

It takes each table's schema from the parquet footer on the driver, so it
must (a) give exactly the schema Spark's inference gives, (b) start no
Spark job, and (c) never serve a stale table. Derived state elsewhere in
the package is keyed on content too, which the fingerprint test and the
source guard pin.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from iceberg_benchmark_java_spark import corpus_ref
from iceberg_benchmark_java_spark.catalog import footer_schema, load_table
from iceberg_benchmark_java_spark.queries.pipeline import _source_fingerprint

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "iceberg_benchmark_java_spark"

_PARITY_FILES = sorted(
    glob.glob(str(REPO / "fixtures" / "tpcds" / "*.parquet"))
    + glob.glob(str(REPO / "fixtures" / "tpch" / "*.parquet"))
    + glob.glob(str(REPO / "perfbench" / "data" / "sf0.01" / "*.parquet"))
    + glob.glob("/root/testdata/sf0.001/*.parquet")
)


def _jobs_in_group(spark, body) -> list[int]:
    """The ids of the Spark jobs ``body()`` starts, read from its job group."""
    sc = spark.sparkContext
    group = f"test-catalog-{uuid.uuid4()}"
    sc.setJobGroup(group, "catalog no-job check", False)
    try:
        body()
    finally:
        sc.setJobGroup("", "", False)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "path", _PARITY_FILES, ids=lambda p: os.path.relpath(p, str(REPO))
)
def test_footer_schema_matches_inference(spark, path):
    assert footer_schema(spark, path) == spark.read.parquet(path).schema


def test_parity_covers_every_fixture_root():
    roots = {os.path.dirname(p) for p in _PARITY_FILES}
    assert len(roots) == 4, roots


def test_footer_schema_matches_inference_on_unusual_types(spark, tmp_path):
    # uint32 widens to LONG; TIMESTAMP(NANOS, UTC) arrives as LONG under
    # nanosAsLong, the setting load_table puts in force for events.
    path = str(tmp_path / "odd.parquet")
    pq.write_table(
        pa.table(
            {
                "u": pa.array([1, 2**32 - 1], pa.uint32()),
                "ts": pa.array([1, 2], pa.timestamp("ns", tz="UTC")),
            }
        ),
        path,
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        assert footer_schema(spark, path) == spark.read.parquet(path).schema
    finally:
        spark.conf.set(key, prior)


def test_footer_schema_of_a_directory_of_part_files(spark, tmp_path):
    # the layout of a scaled warehouse: one table, many part files, next
    # to the marker and checksum files a writer leaves, which are not parquet
    table = tmp_path / "documents.parquet"
    table.mkdir()
    tbl = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    step = (tbl.num_rows + 7) // 8
    for i in range(8):
        pq.write_table(tbl.slice(i * step, step), table / f"part-{i:04d}.parquet")
    (table / "_SUCCESS").write_bytes(b"")
    (table / ".part-0000.parquet.crc").write_bytes(b"not parquet")
    assert footer_schema(spark, str(table)) == spark.read.parquet(str(table)).schema
    assert load_table(spark, str(tmp_path), "documents").count() == tbl.num_rows


def test_load_table_reads_with_the_footer_schema(spark):
    df = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    assert df.schema == spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").schema


def test_opening_tables_starts_no_job(spark, tmp_path):
    # a path this session has never opened
    shutil.copy("/root/testdata/sf0.001/orders.parquet", tmp_path / "orders.parquet")
    assert _jobs_in_group(spark, lambda: load_table(spark, str(tmp_path), "orders")) == []
    # a new session: its bare TPC-DS views must not shadow the test session's
    bare = spark.newSession()
    assert _jobs_in_group(bare, lambda: corpus_ref.register_bare_views(bare, "tpcds")) == []
    assert all(bare.catalog.tableExists(t) for t in corpus_ref.TPCDS_TABLES)


def test_rewrite_under_the_old_mtime_is_not_served_stale(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    st = os.stat(path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": [3, 4]}), path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, 3), (2, 4)]


def test_source_fingerprint_is_keyed_on_content(tmp_path):
    src = "/root/testdata/sf0.001"
    copied = tmp_path / "copy"
    copied.mkdir()
    shutil.copy(os.path.join(src, "embeddings.parquet"), copied / "embeddings.parquet")
    assert _source_fingerprint(str(copied)) == _source_fingerprint(src)

    path = copied / "embeddings.parquet"
    data = bytearray(path.read_bytes())
    data[len(data) // 2] ^= 0xFF
    path.write_bytes(bytes(data))
    assert path.stat().st_size == os.path.getsize(os.path.join(src, "embeddings.parquet"))
    assert _source_fingerprint(str(copied)) != _source_fingerprint(src)


def test_package_has_no_memo_and_no_mtime_key():
    forbidden = re.compile(r"lru_cache|functools\.cache|WeakKeyDictionary|getmtime|st_mtime")
    hits = [
        f"{p.relative_to(REPO)}:{i}: {line.strip()}"
        for p in sorted(PACKAGE.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if forbidden.search(line)
    ]
    assert hits == []
