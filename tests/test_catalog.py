"""The one opener of flat parquet base tables (``catalog.load_table``)
and the one publisher of derived tables (``catalog.ensure_published``).

The opener takes each table's schema from the parquet footer on the
driver, so it must (a) give exactly the schema Spark's inference gives,
(b) start no Spark job, and (c) never serve a stale table. The publisher
keys derived state on content: a changed source rebuilds, an unchanged
one is served as published, and a failed or interrupted build never
leaves a half-written table served. The source guards pin both. The
committed fixture warehouses sit outside the publisher: their generators
must reproduce them, marker included.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from iceberg_benchmark_java_spark import corpus_ref
from iceberg_benchmark_java_spark.catalog import (
    _marker_fresh_index,
    _source_fingerprint,
    ensure_published,
    footer_schema,
    load_table,
    register_views,
)
from iceberg_benchmark_java_spark.fixtures import generate_tpcds, generate_tpch
from tests.conftest import SF_CORRECTNESS, SF_SMOKE

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
    assert _source_fingerprint(str(copied), "embeddings") == _source_fingerprint(src, "embeddings")

    path = copied / "embeddings.parquet"
    data = bytearray(path.read_bytes())
    data[len(data) // 2] ^= 0xFF
    path.write_bytes(bytes(data))
    assert path.stat().st_size == os.path.getsize(os.path.join(src, "embeddings.parquet"))
    assert _source_fingerprint(str(copied), "embeddings") != _source_fingerprint(src, "embeddings")


def _package_lines_matching(pattern: str, outside: str = "") -> list[str]:
    forbidden = re.compile(pattern)
    return [
        f"{p.relative_to(REPO)}:{i}: {line.strip()}"
        for p in sorted(PACKAGE.rglob("*.py"))
        if p != PACKAGE / outside
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if forbidden.search(line)
    ]


def test_package_has_no_memo_and_no_mtime_key():
    assert _package_lines_matching(
        r"lru_cache|functools\.cache|WeakKeyDictionary|getmtime|st_mtime|_ibx_complete"
    ) == []


def test_package_has_one_publisher():
    assert _package_lines_matching(r"os\.rename\(", outside="catalog.py") == []


# --- the publisher -----------------------------------------------------------


def _writes(value: str):
    def write_tables(tmp: str) -> None:
        os.makedirs(tmp)
        Path(tmp, "v").write_text(value)

    return write_tables


def _no_leftovers(d: Path) -> list[str]:
    return [n for n in os.listdir(d.parent) if n != d.name]


def test_failed_rebuild_keeps_the_previous_publication(tmp_path):
    d = tmp_path / "idx"
    ensure_published(str(d), "a", _writes("a"))

    def broken(tmp: str) -> None:
        _writes("partial")(tmp)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        ensure_published(str(d), "b", broken)
    assert _marker_fresh_index(str(d), "a")
    assert (d / "v").read_text() == "a"
    assert _no_leftovers(d) == []


def test_publication_interrupted_between_its_renames_heals(tmp_path, monkeypatch):
    d = tmp_path / "idx"
    ensure_published(str(d), "a", _writes("a"))
    calls = []
    real_rename = os.rename

    def rename_failing_second(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("interrupted")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename_failing_second)
    with pytest.raises(OSError):
        ensure_published(str(d), "b", _writes("b"))
    assert _marker_fresh_index(str(d), "a")
    assert _no_leftovers(d) == []
    monkeypatch.setattr(os, "rename", real_rename)
    ensure_published(str(d), "b", _writes("b"))
    assert _marker_fresh_index(str(d), "b")
    assert (d / "v").read_text() == "b"
    assert _no_leftovers(d) == []


def test_only_a_changed_stamp_rebuilds(tmp_path):
    d = tmp_path / "idx"
    ensure_published(str(d), "a", _writes("a"))
    ino = d.stat().st_ino

    def must_not_run(tmp: str) -> None:
        raise AssertionError("a fresh publication was rebuilt")

    ensure_published(str(d), "a", must_not_run)
    assert d.stat().st_ino == ino
    ensure_published(str(d), "b", _writes("b"))
    assert d.stat().st_ino != ino
    assert (d / "v").read_text() == "b"


# --- partitioned layouts -----------------------------------------------------


def _rows(path) -> int:
    return pq.ParquetFile(path).metadata.num_rows


def test_partitioned_views_follow_their_source(spark, tmp_path):
    # one partitioned warehouse, two scales in turn: the second
    # registration must serve the second scale's rows, with the flat schema
    session = spark.newSession()
    part = str(tmp_path / "part")
    register_views(session, SF_SMOKE, partitioned_dir=part)
    sf = SF_CORRECTNESS
    views = register_views(session, sf, partitioned_dir=part)
    for name in ("lineitem", "orders"):
        assert session.table(name).count() == _rows(os.path.join(sf, f"{name}.parquet"))
        assert views[name].schema == load_table(session, sf, name).schema


def test_unchanged_source_is_not_republished(spark, tmp_path):
    session = spark.newSession()
    part = tmp_path / "part"
    sf = SF_SMOKE
    register_views(session, sf, partitioned_dir=str(part), tables=("lineitem",))
    # a registration of a subset writes only that subset
    assert sorted(os.listdir(part)) == ["lineitem"]
    ino = (part / "lineitem").stat().st_ino
    copied = tmp_path / "copy"
    copied.mkdir()
    shutil.copy(os.path.join(sf, "lineitem.parquet"), copied / "lineitem.parquet")
    for src in (sf, str(copied)):
        register_views(session, src, partitioned_dir=str(part), tables=("lineitem",))
        assert (part / "lineitem").stat().st_ino == ino


def test_partitioned_tpcds_fact_follows_a_rewritten_source(spark, tmp_path, monkeypatch):
    # a copy of the suite whose facts keep their first 60 sold dates, so
    # each layout writes tens of partitions, not thousands
    fixtures = tmp_path / "tpcds"
    shutil.copytree(REPO / "fixtures" / "tpcds", fixtures)

    def keep_first_days(table: str, days: int) -> int:
        path = fixtures / f"{table}.parquet"
        tbl = pq.read_table(path)
        key = tbl[corpus_ref.TPCDS_PARTITION_KEYS[table][0]]
        tbl = tbl.filter(pc.less(key, pc.add(pc.min(key), days)))
        pq.write_table(tbl, path)
        return tbl.num_rows

    for t in corpus_ref.TPCDS_PARTITION_KEYS:
        keep_first_days(t, 60)
    corpus_dir, _, tables = corpus_ref.SUITES["tpcds"]
    monkeypatch.setitem(corpus_ref.SUITES, "tpcds", (corpus_dir, str(fixtures), tables))
    session = spark.newSession()
    part = tmp_path / "part"
    corpus_ref.register_fixture_views(session, "tpcds", partitioned_dir=str(part))
    inos = {t: (part / t).stat().st_ino for t in corpus_ref.TPCDS_PARTITION_KEYS}

    n = keep_first_days("store_sales", 30)
    corpus_ref.register_fixture_views(session, "tpcds", partitioned_dir=str(part))
    assert session.table("ref_tpcds_store_sales").count() == n > 0
    assert (part / "store_sales").stat().st_ino != inos["store_sales"]
    for t in ("catalog_sales", "web_sales", "inventory"):
        assert (part / t).stat().st_ino == inos[t]


# --- committed fixture warehouses --------------------------------------------


@pytest.mark.parametrize("suite", ["tpcds", "tpch"])
def test_fixture_generators_reproduce_committed_warehouse(suite, tmp_path):
    # the generators are the recipe of the tracked warehouse: they must
    # write it table for table, and their `_complete` marker byte for byte,
    # so regenerating in place leaves the tree clean
    generate = {"tpcds": generate_tpcds, "tpch": generate_tpch}[suite]
    committed = REPO / "fixtures" / suite
    names = sorted(p.stem for p in committed.glob("*.parquet"))
    out = tmp_path / suite
    assert sorted(generate(str(out))) == names
    for name in names:
        got = pq.read_table(out / f"{name}.parquet")
        assert got.equals(pq.read_table(committed / f"{name}.parquet")), name
    assert (out / "_complete").read_bytes() == (committed / "_complete").read_bytes()
    assert generate(str(out)) == []
    assert sorted(generate(str(out), force=True)) == names
