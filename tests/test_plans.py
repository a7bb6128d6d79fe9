"""Physical-plan assertions: the scale guarantees, checked mechanically.

These tests pin the properties that matter at 100 TB: filters reach the
parquet scan, projections prune columns, dimension joins broadcast, top-k
avoids global sorts, and the hot path contains no Python row UDFs.
tests/test_cost_shape.py pins every registered entry's node counts and
build-time jobs to artifacts/cost_shape.json. The tests here check what
a count cannot (partition keys, exchanged columns, pushed filters,
operators built outside the registry) and, at the end, bound single
entries' golden rows by what those entries are for.
"""

from __future__ import annotations

import functools
import json

import pytest

from iceberg_benchmark_java_spark.queries import all_queries
from tests.conftest import SF_SMOKE
from tools import cost_shape

QUERIES = all_queries()


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_SMOKE)
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q06_filter_pushdown(spark):
    """Range + BETWEEN predicates must reach the parquet scan."""
    plan = _plan(spark, "tpch_q06_revenue_forecast")
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1][:400]


def test_q01_column_pruning(spark):
    """Q1 reads 7 of 11 lineitem columns — ReadSchema must not include
    join keys it doesn't use."""
    plan = _plan(spark, "tpch_q01_pricing_summary")
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema
    assert "l_partkey" not in read_schema
    assert "l_quantity" in read_schema


def test_q01_partial_aggregation(spark):
    """Aggregates must be map-side combinable: partial_ functions before
    the exchange."""
    plan = _plan(spark, "tpch_q01_pricing_summary")
    assert "partial_sum" in plan or "partial_count" in plan


def test_whole_stage_codegen_present(spark):
    df = QUERIES["tpch_q01_pricing_summary"](spark, SF_SMOKE)
    df.collect()  # AQE finalizes the plan only on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in plan  # WholeStageCodegen stage markers


@pytest.mark.parametrize(
    "name",
    ["sub_exists_semi", "sub_not_exists_anti", "sub_not_in_null_aware"],
)
def test_semi_anti_join_strategies(spark, name):
    """EXISTS/NOT EXISTS/NOT IN must plan semi/anti joins, not inner joins
    plus dedup."""
    plan = _optimized(spark, name)
    assert "LeftSemi" in plan or "LeftAnti" in plan


def test_q21_plans_semi_and_anti(spark):
    """q21's EXISTS/NOT EXISTS self-joins must decorrelate to one semi and
    one anti join on l_orderkey."""
    plan = _optimized(spark, "tpch_q21_waiting_supplier")
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_minhash_single_shuffle_signature(spark):
    """MinHash signatures: one aggregate over exploded shingles — the plan
    must contain exactly one shuffle for the signature aggregation (plus
    the band-join shuffles), not one per hash function."""
    from iceberg_benchmark_java_spark.catalog import load_table
    from iceberg_benchmark_java_spark.operators import dedup

    d = load_table(spark, SF_SMOKE, "documents")
    plan = dedup.minhash_signatures(d)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(doc_id") == 1


@pytest.mark.medium
def test_partitioned_warehouse_prunes(spark, tmp_path):
    """The partitioned-layout axis: a month-filtered scan over the
    partitioned warehouse must prune partitions (PartitionFilters) and
    produce the same rows as the flat layout."""
    from pyspark.sql import functions as F

    from iceberg_benchmark_java_spark.catalog import (
        PARQUET_PARTITION_COLS,
        load_table,
        write_partitioned_warehouse,
    )

    paths = write_partitioned_warehouse(
        spark, SF_SMOKE, str(tmp_path), {"lineitem": PARQUET_PARTITION_COLS["lineitem"]}
    )
    part = spark.read.parquet(paths["lineitem"])
    flat = load_table(spark, SF_SMOKE, "lineitem")
    lo, hi = "1997-03-01", "1997-04-01"
    q = part.filter(
        (F.col("l_shipmonth") >= F.lit(lo).cast("date"))
        & (F.col("l_shipmonth") < F.lit(hi).cast("date"))
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "l_shipmonth" in plan.split("PartitionFilters:")[1][:200]
    n_part = q.count()
    n_flat = flat.filter(
        (F.col("l_shipdate") >= F.lit(lo).cast("date"))
        & (F.col("l_shipdate") < F.lit(hi).cast("date"))
    ).count()
    assert n_part == n_flat > 0


def test_bucketed_join_skips_shuffle(spark):
    """Co-located join: lineitem⋈orders both bucketed 8-way on the order
    key must SortMergeJoin with NO Exchange on either side, and agree with
    the unbucketed join."""
    from pyspark.sql import functions as F

    from iceberg_benchmark_java_spark.catalog import load_table, write_bucketed_tables

    created = write_bucketed_tables(spark, SF_SMOKE)
    assert len(created) == 2
    l = spark.table("ibx_bucketed.lineitem")
    o = spark.table("ibx_bucketed.orders")
    joined = l.join(o, l.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").agg(
        F.count("*").alias("n")
    )
    # smoke-scale tables broadcast by default; force the shuffle-join path
    # the bucketing exists to optimize (at SF where neither side broadcasts).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined.collect()  # finalize AQE plan
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan, plan[:1500]
    # no shuffle feeds the join — the only allowed Exchange is the
    # aggregate's own (on o_orderpriority, above the join).
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert "Bucketed: true" in plan
    # cross-check against the plain layout
    lf = load_table(spark, SF_SMOKE, "lineitem")
    of = load_table(spark, SF_SMOKE, "orders")
    expect = {
        (r.o_orderpriority, r.n)
        for r in lf.join(of, lf.l_orderkey == of.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {(r.o_orderpriority, r.n) for r in joined.collect()} == expect


CORPUS_PLAN_SAMPLE = [
    "q03", "q07", "q14_1", "q36", "q64", "q67", "q72", "q88", "q90", "q95",
]


@pytest.mark.slow  # corpus tier
@pytest.mark.parametrize("name", CORPUS_PLAN_SAMPLE)
def test_corpus_plan_quality(spark, name):
    """Marquee verbatim TPC-DS files: filters reach the parquet scan (their
    join nodes are pinned by artifacts/cost_shape.json)."""
    from iceberg_benchmark_java_spark import corpus_ref as cr

    plan = (
        cr.run_ref_query(spark, "tpcds", name)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [" in plan, name
    pushed_head = plan.split("PushedFilters:")[1][:40]
    assert not pushed_head.startswith(" []"), f"{name}: empty pushdown"


def test_ivf_assignment_no_corpus_shuffle(spark):
    """Nearest-centroid assignment must be a map-side fold over a broadcast
    centroid array: NO hash-partitioning Exchange between the embeddings
    scan and the cent_id column (the old Window.partitionBy(vec_id) argmax
    shuffled N x C scored rows)."""
    from iceberg_benchmark_java_spark.catalog import load_table
    from iceberg_benchmark_java_spark.operators.similarity import (
        ivf_assignments,
    )

    e = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    _, assignments = ivf_assignments(e, n_centroids=16)
    plan = assignments._jdf.queryExecution().executedPlan().toString()
    # no shuffle of the corpus on vec_id, and no per-vector window argmax;
    # the tiny seed side may window/shuffle its <=16 rows freely
    assert "Exchange hashpartitioning(vec_id" not in plan
    assert "windowspecdefinition(vec_id" not in plan


def test_decontamination_broadcast_guard(spark):
    """The eval-side broadcast is size-GUARDED, not forced: above the
    threshold (here: threshold below the fixture's shingle count) the join
    must degrade to a shuffle instead of shipping an unbounded side to
    every executor — the r10 scaling artifact's non-monotone
    decontamination curve was exactly a forced broadcast of a growing eval
    split. Pinned with auto-broadcast off so tiny test data can't mask the
    fallback; both paths must return identical results."""
    from iceberg_benchmark_java_spark.catalog import load_table
    from iceberg_benchmark_java_spark.operators import dedup
    from pyspark.sql import functions as F

    d = load_table(spark, SF_SMOKE, "documents")
    ev = d.filter(F.col("doc_id") % 97 == 0)
    tr = d.filter(F.col("doc_id") % 97 != 0)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        guarded = dedup.cross_corpus_contamination(
            tr, ev, n=3, broadcast_threshold=1
        )
        plan = guarded._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan[:2000]
        assert (
            "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        ), plan[:2000]
        hinted = dedup.cross_corpus_contamination(tr, ev, n=3)
        hplan = hinted._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in hplan, hplan[:2000]
        rows_g = sorted(map(tuple, guarded.collect()))
        rows_h = sorted(map(tuple, hinted.collect()))
        assert rows_g == rows_h and rows_g
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bloom_decontamination_broadcast_guard(spark):
    """Same guard on the Bloom twin's exact semi-join: the two m_bits/8-
    byte bitmap probes stay broadcast at any eval size, the final eval
    shingle join falls back to a shuffle above the threshold, and results
    are unchanged."""
    from iceberg_benchmark_java_spark.catalog import load_table
    from iceberg_benchmark_java_spark.operators import dedup
    from pyspark.sql import functions as F

    d = load_table(spark, SF_SMOKE, "documents")
    ev = d.filter(F.col("doc_id") % 97 == 0)
    tr = d.filter(F.col("doc_id") % 97 != 0)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        guarded = dedup.bloom_prefilter_contamination(
            tr, ev, n=3, broadcast_threshold=1
        )
        plan = guarded._jdf.queryExecution().executedPlan().toString()
        # bitmap probes: exactly the two mask joins remain broadcast
        assert plan.count("BroadcastHashJoin") == 2, plan[:3000]
        assert (
            "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        ), plan[:2000]
        rows_g = sorted(map(tuple, guarded.collect()))
        rows_h = sorted(
            map(
                tuple,
                dedup.bloom_prefilter_contamination(tr, ev, n=3).collect(),
            )
        )
        assert rows_g == rows_h and rows_g
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_two_level_assignment_no_corpus_shuffle(spark):
    """Two-level IVF assignment (k > TWO_LEVEL_THRESHOLD): both argmax
    levels must stay map-side broadcast folds — no shuffle of the corpus
    on vec_id, no per-vector window, no cartesian. This is the plan
    contract that makes the k ∝ N SemDeDup dial O(N·sqrt(k))."""
    from iceberg_benchmark_java_spark.catalog import load_table
    from iceberg_benchmark_java_spark.operators.similarity import (
        TWO_LEVEL_THRESHOLD,
        ivf_assignments,
    )

    e = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    assert TWO_LEVEL_THRESHOLD < 64
    _, assign = ivf_assignments(e, n_centroids=64)
    plan = assign._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(vec_id" not in plan
    assert "windowspecdefinition(vec_id" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_pq_index_build_no_corpus_shuffle(spark):
    """Composed IVF-PQ (similarity.ivf_pq_topk): the index build — cent_id
    assignment + PQ codes — must be ONE map-side corpus pass (broadcast
    centroid fold + row-local code expressions), the routing/LUT/shortlist
    sides must broadcast, and no stage may cartesian the corpus. This is
    the plan contract that makes the scan read 48-bit codes of probed
    lists instead of float32 vectors of the whole corpus."""
    from pyspark.sql import functions as F

    from iceberg_benchmark_java_spark.catalog import load_table
    from iceberg_benchmark_java_spark.operators.similarity import ivf_pq_topk

    e = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    out = ivf_pq_topk(e, q, k=5, n_centroids=16, n_probe=4, refine_k=32)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # probes, LUT, and the refine shortlist all reach the corpus as
    # broadcast sides; the only allowed per-query shuffles are the bounded
    # candidate/top-k windows keyed on query_id
    assert "Exchange hashpartitioning(vec_id" not in plan
    assert "BroadcastHashJoin" in plan
    assert "windowspecdefinition(vec_id" not in plan


def test_banded_near_dup_equijoin_no_vector_fanout(spark):
    """Multi-band near-dup: the candidate stage must be an equi-join on
    (band_idx, bucket) — no cartesian/BNLJ — and the embedding vectors must
    NOT fan out through the banded self-join (only vec_id/band/bucket rows
    do; vectors rejoin by key for the re-rank)."""
    from iceberg_benchmark_java_spark.catalog import load_table
    from iceberg_benchmark_java_spark.operators.similarity import (
        cosine_near_dup_pairs_banded,
    )

    e = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    df = cosine_near_dup_pairs_banded(e, threshold=0.25, n_bits=8, n_bands=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the generate (band explode) node computes buckets FROM the vector but
    # must not RETAIN it: its retained-columns list ("..., [cols], false,
    # [out]") holds only vec_id
    import re

    gen = [ln for ln in plan.splitlines() if "Generate explode" in ln]
    assert gen
    for ln in gen:
        m = re.search(r"\[([^\]]*)\],\s*(?:false|true),\s*\[[^\]]*\]\s*$", ln)
        assert m and "embedding" not in m.group(1), ln


def test_ivf_pq_serve_path_reads_stored_index(spark):
    """Build-once/query-many contract: the serve entry's plan must READ
    the materialized index (fixtures/ivf_pq_index parquet scans) and
    contain NO index-build stages — no centroid-seeding aggregate
    (keys=[bucket…]), no codebook build (posexplode of subspaces) — while
    the build-inclusive twin's plan contains BOTH (proving the markers
    actually detect the build stages). At scale this is the difference
    between a per-query-batch corpus pass and a probed-lists-only read."""
    from iceberg_benchmark_java_spark.queries.pipeline import (
        ann_ivf_pq_serve_q,
        ann_ivf_pq_topk_q,
    )

    serve = ann_ivf_pq_serve_q(spark, SF_SMOKE)
    plan = serve._jdf.queryExecution().executedPlan().toString()
    assert "ivf_pq_index" in plan
    assert "posexplode" not in plan
    assert "keys=[bucket" not in plan
    build_plan = (
        ann_ivf_pq_topk_q(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "posexplode" in build_plan
    assert "keys=[bucket" in build_plan


@pytest.mark.parametrize(
    "entry, sweep",
    [
        ("pipe_ann_probe_sweep", "_PROBE_SWEEP"),
        ("pipe_ann_two_level_probe_sweep", "_TWO_LEVEL_PROBE_SWEEP"),
        ("pipe_ann_ivf_pq_probe_sweep", "_IVF_PQ_SWEEP"),
    ],
)
def test_recall_sweep_plan_size_ignores_sweep_length(spark, monkeypatch, entry, sweep):
    """A recall sweep builds one index and scores one candidate set, so
    its plan's node counts are the same with two settings as with the
    full sweep."""
    from iceberg_benchmark_java_spark.queries import pipeline

    full = cost_shape.node_counts(_plan(spark, entry))
    monkeypatch.setattr(pipeline, sweep, getattr(pipeline, sweep)[:2])
    assert cost_shape.node_counts(_plan(spark, entry)) == full


def test_two_level_serve_path_reads_stored_index(spark):
    """Build-once/query-many contract for the TWO-LEVEL ANN route (the
    registered 0.80-recall production dial): the serve entry's plan must
    READ the materialized index (fixtures/two_level_index parquet scans)
    and contain NO index-build stages — no orthant-seeding aggregate
    (keys=[bucket…], which covers both the fine and coarse seedings and
    hence the whole two-level assignment that feeds off them — while the
    build-inclusive tuned twin's plan contains it (proving the marker
    detects the build). Brute force (the recall measurement's baseline)
    appears in BOTH plans by design; only the index derivation must
    disappear from the serve side."""
    from iceberg_benchmark_java_spark.queries.pipeline import (
        ann_two_level_recall_tuned_q,
        ann_two_level_serve_q,
    )

    serve = ann_two_level_serve_q(spark, SF_SMOKE)
    plan = serve._jdf.queryExecution().executedPlan().toString()
    assert "two_level_index" in plan
    assert "keys=[bucket" not in plan
    build_plan = (
        ann_two_level_recall_tuned_q(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "keys=[bucket" in build_plan


def test_incremental_semdedup_serve_path_reads_stored_index(spark):
    """Build-once/ingest-many contract for batch SemDeDup: the served
    entry's per-batch plan must READ the materialized corpus cells
    (fixtures/inc_sem_index scans) and contain NO corpus-side index-build
    stages — no orthant-seeding aggregate (keys=[bucket…], which feeds
    the corpus argmax; the in-plan twin hides its seeding inside a
    localCheckpoint RDD, so the decisive cross-check here is row
    equality: the stored corpus cells must reproduce the in-plan route's
    decisions bit-for-bit)."""
    from iceberg_benchmark_java_spark.queries.pipeline import (
        incremental_semantic_dedup_q,
        incremental_semantic_dedup_served_q,
    )

    serve = incremental_semantic_dedup_served_q(spark, SF_SMOKE)
    plan = serve._jdf.queryExecution().executedPlan().toString()
    assert "inc_sem_index" in plan
    assert "keys=[bucket" not in plan
    rows_s = sorted(map(tuple, serve.collect()))
    rows_b = sorted(
        map(tuple, incremental_semantic_dedup_q(spark, SF_SMOKE).collect())
    )
    assert rows_s == rows_b and rows_s


def test_incremental_semantic_dedup_batch_shape(spark):
    """Incremental SemDeDup (similarity.incremental_semantic_dedup): the
    batch-ingest plan contract — no re-clustering and no corpus-wide
    per-cluster window. Centroids/occupancy reach the cells as broadcast
    sides, so the plan must contain NO windowspecdefinition over cent_id
    (the full operator's occupancy window — here replaced by the ≤ 2·C-row
    occupancy aggregate joined back by broadcast), no per-vector shuffle,
    and no cartesian anywhere; the corpus appears ONLY as the probed
    y-side of the pair join, never self-joined."""
    from pyspark.sql import functions as F

    from iceberg_benchmark_java_spark.catalog import load_table
    from iceberg_benchmark_java_spark.operators.similarity import (
        incremental_semantic_dedup,
        semantic_dedup,
    )

    e = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    corpus = e.filter(F.col("vec_id") < 450)
    batch = e.filter(F.col("vec_id") >= 450)
    out = incremental_semantic_dedup(corpus, batch, n_centroids=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # (BroadcastNestedLoopJoin IS present and fine: the 1-row broadcast
    # centroid-array fold of nearest_centroid, same as ivf_assignments.
    # A vec_id exchange also remains and is fine: the final keep-join of
    # partner counts onto batch members, bounded by |batch| — corpus rows
    # never shuffle on vec_id.)
    # the occupancy-as-metadata shape: the full operator needs a corpus-
    # wide cent_id window, the incremental path must not
    assert "windowspecdefinition(cent_id" not in plan
    full_plan = (
        semantic_dedup(e, n_centroids=16)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "windowspecdefinition(cent_id" in full_plan
    # centroids + occupancy broadcast back onto the cells
    assert "BroadcastHashJoin" in plan


# --- partitioned TPC-DS fixture warehouse (partitioned_runner.sh axis) -------


@pytest.fixture(scope="module")
def tpcds_part_dir(spark, tmp_path_factory):
    """Materialize + register the date-partitioned TPC-DS fixture facts;
    restore the flat views afterwards so later tests see the flat axis.

    The facts come from a copy of the suite that keeps only the sold
    dates these tests read (every November for q03, March 2000 for the
    DPP probe), so the layout writes hundreds of partitions, not
    thousands; q03 returns the same rows on the copy as on the full
    fixtures."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from iceberg_benchmark_java_spark import corpus_ref

    real = corpus_ref.SUITES["tpcds"]
    fixtures = tmp_path_factory.mktemp("tpcds_fixtures") / "tpcds"
    shutil.copytree(real[1], fixtures)
    dates = pq.read_table(fixtures / "date_dim.parquet")
    read_months = pc.or_(
        pc.equal(dates["d_moy"], 11),
        pc.and_(pc.equal(dates["d_year"], 2000), pc.equal(dates["d_moy"], 3)),
    )
    read_dates = dates["d_date_sk"].filter(read_months)
    for t, (key, _) in corpus_ref.TPCDS_PARTITION_KEYS.items():
        path = fixtures / f"{t}.parquet"
        tbl = pq.read_table(path)
        pq.write_table(tbl.filter(pc.is_in(tbl[key], read_dates)), path)

    corpus_ref.SUITES["tpcds"] = (real[0], str(fixtures), real[2])
    d = str(tmp_path_factory.mktemp("tpcds_part"))
    try:
        corpus_ref.register_fixture_views(spark, "tpcds", partitioned_dir=d)
        yield d
    finally:
        corpus_ref.SUITES["tpcds"] = real
        corpus_ref.register_fixture_views(spark, "tpcds")


@pytest.mark.slow
def test_tpcds_partitioned_static_pruning(spark, tpcds_part_dir):
    """A direct ss_sold_date_sk range on the partitioned store_sales must
    prune at the DIRECTORY level (PartitionFilters), not row level."""
    plan = (
        spark.sql(
            "SELECT ss_item_sk FROM ref_tpcds_store_sales "
            "WHERE ss_sold_date_sk BETWEEN 2451000 AND 2451100"
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "ss_sold_date_sk" in pf


@pytest.mark.slow
def test_tpcds_partitioned_dpp(spark, tpcds_part_dir):
    """date_dim-derived filters must reach store_sales as DYNAMIC partition
    pruning — the plan shape the 198 corpus date_dim references rely on."""
    plan = (
        spark.sql(
            "SELECT ss_item_sk, ss_ext_sales_price "
            "FROM ref_tpcds_store_sales, ref_tpcds_date_dim "
            "WHERE ss_sold_date_sk = d_date_sk AND d_year = 2000 AND d_moy = 3"
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "dynamicpruning" in plan.lower()


@pytest.mark.slow
def test_tpcds_partitioned_corpus_q03_plans_dpp(spark, tpcds_part_dir):
    """The verbatim corpus q03 (date_dim ⋈ store_sales ⋈ item) must plan
    dynamic partition pruning on the partitioned axis."""
    from iceberg_benchmark_java_spark import corpus_ref

    df = corpus_ref.run_ref_query(spark, "tpcds", "q03")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


@pytest.mark.slow
def test_tpcds_partitioned_matches_flat(spark, tpcds_part_dir):
    """Layout must never change results: verbatim q03 returns identical
    rows on the flat and partitioned warehouses."""
    from iceberg_benchmark_java_spark import corpus_ref

    corpus_ref.register_fixture_views(spark, "tpcds")
    flat = corpus_ref.run_ref_query(spark, "tpcds", "q03").collect()
    corpus_ref.register_fixture_views(
        spark, "tpcds", partitioned_dir=tpcds_part_dir
    )
    part = corpus_ref.run_ref_query(spark, "tpcds", "q03").collect()
    assert sorted(map(tuple, flat)) == sorted(map(tuple, part))
    assert len(flat) > 0


def test_runtime_bloom_filter_on_selective_fact_join(spark):
    """Runtime bloom-filter injection (on by default in the session conf):
    a selective filter on one fact side must semi-reduce the other side's
    scan via might_contain BEFORE the shuffle. The size thresholds are
    lowered to emulate cluster-scale scan sizes — at 100 TB the default
    10 GB application-side threshold passes naturally and this is the
    plan Spark produces with our session defaults."""
    from pyspark.sql import functions as F

    from iceberg_benchmark_java_spark.catalog import load_table

    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        o = load_table(spark, SF_SMOKE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        l = load_table(spark, SF_SMOKE, "lineitem")
        j = (
            l.join(o, l.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_zipf_slope_partitioned_rank_only(spark):
    """pipe_zipf_slope needs every term's global rank; the plan must get it
    from the partition-offset decomposition — its only window is
    partitioned by spark_partition_id (bounded at |vocab|/N rows), never an
    unpartitioned global-rank window."""
    plan = _plan(spark, "pipe_zipf_slope")
    assert "windowspecdefinition(pid#" in plan, plan[:1500]


def test_tfidf_topk_two_phase_windows(spark):
    """pipe_tfidf_top_terms must rank in two phases: a (lang, shard) window
    (per-partition bound |lang vocab|/64) feeding a lang window over ≤5×64
    survivors — and no unpartitioned window anywhere."""
    plan = _plan(spark, "pipe_tfidf_top_terms")
    assert "shard#" in plan


def test_incremental_lsh_dedup_equijoin(spark):
    """Incremental dedup must candidate via an equi-join of new-batch band
    buckets against corpus band buckets — no cartesian/BNLJ, and the
    filters splitting new vs corpus must reach the scans."""
    plan = _plan(spark, "pipe_incremental_lsh_dedup")
    assert "PushedFilters: [" in plan


def test_dup_span_coverage_partitioned_windows_only(spark):
    """pipe_dup_span_coverage's interval-union window must partition on
    doc_id (the natural key) — never an unpartitioned global window — and
    the pair space must come from equi-joins (no cartesian/BNLJ)."""
    plan = _plan(spark, "pipe_dup_span_coverage")
    assert "windowspecdefinition(doc_id#" in plan, plan[:1500]


def test_scd2_single_shuffle_on_user(spark):
    """pipe_scd2_history's two windows share the user_id partitioning, so
    the plan needs exactly one hashpartitioning(user_id...) exchange and no
    unpartitioned window."""
    plan = _plan(spark, "pipe_scd2_history")
    import re

    n_user_exchanges = len(
        re.findall(r"Exchange hashpartitioning\(user_id#", plan)
    )
    assert n_user_exchanges == 1, plan[:2000]


def test_cluster_mix_no_corpus_shuffle_before_assignment(spark):
    """pipe_embedding_cluster_mix must keep the centroid assignment
    map-side (no Exchange hashpartitioning on vec_id before the
    (cent_id, label) aggregation) and its share window partitioned."""
    plan = _plan(spark, "pipe_embedding_cluster_mix")
    assert "windowspecdefinition(vec_id" not in plan


def test_shard_manifest_single_shuffle(spark):
    """pipe_shard_manifest is one narrow projection + one shard-keyed
    aggregation: exactly one hashpartitioning exchange, no windows, no
    Python eval."""
    import re

    plan = _plan(spark, "pipe_shard_manifest")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan[:1500]


def test_kmv_distinct_two_phase_windows(spark):
    """pipe_kmv_distinct selects the k smallest hashes in two phases: an
    (event_type, hash-shard) window (per-partition bound |distinct|/16)
    feeding a per-group window over <= 16k survivors — no unpartitioned
    window, no Python eval."""
    plan = _plan(spark, "pipe_kmv_distinct")
    assert "shard#" in plan


def test_priority_sample_two_phase_windows(spark):
    """pipe_priority_sample ranks in two phases: a (lang, doc-shard-of-64)
    window feeding a lang window over <= 64k survivors — no unpartitioned
    window (the naive form would hold a whole language per partition)."""
    plan = _plan(spark, "pipe_priority_sample")
    assert "shard#" in plan


def test_merge_upsert_single_keyed_join(spark):
    """pipe_merge_upsert applies the change batch through ONE doc_id-keyed
    full-outer join: no cartesian, no windows, no Python eval."""
    plan = _plan(spark, "pipe_merge_upsert")
    assert "FullOuter" in plan, plan[:1500]


def test_events_sliding_single_shuffle(spark):
    """pipe_events_sliding expands each event to its 4 hopping windows
    map-side and aggregates with a single (window, type)-keyed exchange —
    no windows-the-analytic-kind, no Python eval."""
    import re

    plan = _plan(spark, "pipe_events_sliding")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan[:1500]


def test_parquet_aggregate_pushdown(spark):
    """COUNT/MIN/MAX over a parquet scan can be answered from footer
    metadata without reading data: with the v2 reader and
    aggregatePushdown on, the plan's BatchScan must carry
    PushedAggregation — the scan-level shortcut that makes 100 TB
    row-count/metadata audits O(files), not O(rows)."""
    old_v1 = spark.conf.get("spark.sql.sources.useV1SourceList", None)
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        df = (
            spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
            .groupBy()
            .count()
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation: [COUNT(*)]" in plan, plan[:1500]
        mm = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").selectExpr(
            "min(o_custkey)", "max(o_custkey)"
        )
        plan2 = mm._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation: [MIN(o_custkey), MAX(o_custkey)]" in plan2, (
            plan2[:1500]
        )
    finally:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
        if old_v1 is None:
            spark.conf.unset("spark.sql.sources.useV1SourceList")
        else:
            spark.conf.set("spark.sql.sources.useV1SourceList", old_v1)


def test_semantic_dedup_plan(spark):
    """SemDeDup: centroid assignment is a NARROW map-side pass over the
    corpus (since r11 an Arrow kernel — no corpus shuffle, no per-vector
    window argmax); the pairwise stage is an equi-join on cent_id — never
    a cartesian over the corpus."""
    plan = _plan(spark, "pipe_semantic_dedup")
    assert "windowspecdefinition(vec_id" not in plan


def test_session_window_plan_native(spark):
    """Native sessionization must plan Spark's session-window aggregate
    (updating session keys JVM-side) with no Python eval anywhere."""
    plan = _plan(spark, "pipe_session_window_agg")
    assert "session_window" in plan, plan[:1500]


def test_embedding_pca_gram_is_combinable(spark):
    """PCA: the d^2 Gram build must be a partial (map-side) aggregation
    before its exchange — the shuffle carries d^2 rows, not the corpus.
    (Asserted on the Gram stage itself: the registered query's final plan
    is a scan of the checkpointed iteration frontier.)"""
    from iceberg_benchmark_java_spark.catalog import load_table
    from iceberg_benchmark_java_spark.operators.similarity import gram_matrix

    e = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    plan = gram_matrix(e)._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan, plan[:1500]
    assert plan.count("Exchange") == 1  # exactly the d^2-row aggregation
    assert "CartesianProduct" not in plan


def test_sorted_neighborhood_partitioned_rank_only(spark):
    """pipe_sorted_neighborhood's global sort rank must come from the
    partition-offset decomposition: its only window is partitioned by
    spark_partition_id, never an unpartitioned global-rank window, and the
    window join is rank+d equi-joins (no cartesian)."""
    plan = _plan(spark, "pipe_sorted_neighborhood")
    assert "windowspecdefinition(pid#" in plan, plan[:1500]


def test_image_near_dup_no_cartesian_and_no_payload_shuffle(spark):
    """pipe_image_near_dup candidates must come from band-key equi-joins
    over the fingerprint table: no cartesian product, and the binary
    payload column never appears in an exchange (only the tiny
    media_id/phash columns shuffle)."""
    plan = _plan(spark, "pipe_image_near_dup")
    assert "payload" not in plan.lower().split("exchange", 1)[-1][:400]


def test_image_phash_zero_shuffle_and_pruned_scan(spark):
    """The decode->fingerprint chain is two chained MapInPandas over a
    column-pruned scan (only doc_id/n_chars read): no Exchange anywhere —
    the embarrassingly-parallel shape a 100 TB decode pass needs."""
    plan = _plan(spark, "pipe_image_phash")
    assert "ReadSchema: struct<doc_id:bigint,n_chars:bigint>" in plan


def test_embedding_quality_filter_no_vector_shuffle(spark):
    """CLIP-proxy filtering: the centroid is a 1-row broadcast; the only
    Exchange may carry the (label, s6) aggregation rows — never a vector
    column."""
    plan = _plan(spark, "pipe_embedding_quality_filter")
    for ln in plan.splitlines():
        if "Exchange" in ln and "hashpartitioning" in ln:
            assert "ve" not in ln and "embedding" not in ln, ln


def test_mixture_epochs_single_corpus_agg(spark):
    """The mixture planner's corpus work is ONE source-keyed aggregate —
    exactly one hashpartitioning Exchange (the 1-row total is broadcast)."""
    plan = _plan(spark, "pipe_mixture_epochs")
    ex = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(ex) <= 1, plan


def test_event_path_mining_single_user_shuffle_topk(spark):
    """Path mining: per-user window (never unpartitioned), path-keyed agg,
    and TakeOrderedAndProject for the top-20 (no global sort)."""
    plan = _plan(spark, "pipe_event_path_mining")
    bad = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition(" in ln and "user_id" not in ln
    ]
    assert not bad, bad


def test_joint_curation_gate_shuffles_only_flags(spark):
    """The cross-modal join is the one intended corpus×corpus shuffle —
    but no Exchange may carry text or a vector; only (id, lang, bool)
    rows cross the wire."""
    plan = _plan(spark, "pipe_joint_curation_gate")
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text#" not in ln and "ve#" not in ln and "embedding#" not in ln, ln


def test_quota_sample_stratum_window_only(spark):
    """Quota sampling may only window inside the source stratum; quotas
    arrive via broadcast."""
    plan = _plan(spark, "pipe_source_quota_sample")
    bad = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition(" in ln and "source" not in ln
    ]
    assert not bad, bad


def test_purchase_attribution_single_user_shuffle(spark):
    """Attribution = the as-of union + ONE running window on user_id; no
    unpartitioned window, no cartesian."""
    plan = _plan(spark, "pipe_purchase_attribution")
    bad = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition(" in ln and "user_id" not in ln
    ]
    assert not bad, bad


def test_event_transitions_per_user_window_only(spark):
    """Transition matrix: lead() strictly inside the per-user window; row
    totals broadcast."""
    plan = _plan(spark, "pipe_event_transitions")
    bad = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition(" in ln and "user_id" not in ln
    ]
    assert not bad, bad


def test_doc_embedding_audit_slim_join(spark):
    """The parity audit joins only (id, lang) projections — no text or
    vector column may reach the join's exchanges."""
    plan = _plan(spark, "pipe_doc_embedding_audit")
    for ln in plan.splitlines():
        if "Exchange" in ln:
            assert "text#" not in ln and "embedding#" not in ln, ln


def test_session_duration_user_window_only(spark):
    plan = _plan(spark, "pipe_session_duration_stats")
    bad = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition(" in ln and "user_id" not in ln
    ]
    assert not bad, bad


def test_norm_outliers_no_vector_shuffle(spark):
    """Norms are computed in the scan projection; only (label, n6) style
    rows may reach an Exchange."""
    plan = _plan(spark, "pipe_embedding_norm_outliers")
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "embedding#" not in ln, ln


def test_sampler_bias_stratum_window_only(spark):
    plan = _plan(spark, "pipe_sampler_bias_audit")
    bad = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition(" in ln and "lang" not in ln
    ]
    assert not bad, bad


def test_dup_span_removal_no_extra_shuffle(spark):
    """pipe_dup_span_removal: the excision must be a per-row JVM
    transform/filter against the doc's broadcast-back span array — the
    only shuffles are the gram-df aggregation and the doc_id span
    aggregation/join that coverage already pays. No cartesian/BNLJ, no
    Python eval, no window at all (the excision replaces coverage's
    interval-union window with a per-row array fold)."""
    plan = _plan(spark, "pipe_dup_span_removal")
    # cross-doc exchanges: gram df groupBy + left-semi (gram key), span
    # groupBy + doc join (doc_id key) — nothing else
    import re
    keys = set()
    for m in re.finditer(r"Exchange hashpartitioning\((\w+)#", plan):
        keys.add(m.group(1))
    assert keys <= {"gram", "doc_id"}, keys


# Per-entry scale properties, held on the entry's row of the committed
# golden. tests/test_cost_shape.py holds every live plan to its row
# exactly; these hold each row to what its entry is for, so regenerating
# the golden cannot quietly accept a lost broadcast, a new shuffle or a
# window. A node count of a line head, unlike a substring of the plan,
# cannot miss a node by its printed name ("WindowExec" never appears).
WINDOWS = ("Window", "WindowGroupLimit")
PYTHON_EVAL = ("ArrowEvalPython", "BatchEvalPython")
EXCHANGES = ("Exchange", "BroadcastExchange", "ReusedExchange")
JOINS = (
    "BroadcastHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "ShuffledHashJoin",
    "SortMergeJoin",
)
BROADCAST_JOINS = ("BroadcastHashJoin", "BroadcastNestedLoopJoin")


@functools.cache
def _golden() -> dict[str, dict[str, int]]:
    with open(cost_shape.GOLDEN) as fh:
        return json.load(fh)


def _count(name: str, *columns: str) -> int:
    """The sum of ``columns`` in entry ``name``'s golden row."""
    row = _golden()[name]
    return sum(row[c] for c in columns)


def test_q05_broadcasts_dimensions():
    """nation/region/supplier joins broadcast: no fact shuffle for a dim join."""
    assert _count("tpch_q05_local_supplier_volume", "BroadcastHashJoin") >= 2


def test_q03_topk_avoids_global_sort():
    """orderBy+limit plans TakeOrderedAndProject, not a global Sort."""
    assert _count("tpch_q03_shipping_priority", "TakeOrderedAndProject")


def test_quartiles_scale_has_no_window():
    """The scale-safe NTILE twin has no window (a global NTILE
    single-partitions the sort) and broadcasts the 1-row cutoffs."""
    assert not _count("win_quartiles_scale", *WINDOWS)
    assert _count("win_quartiles_scale", *BROADCAST_JOINS)


@pytest.mark.parametrize(
    "name,min_bhj",
    [
        ("tpch_q02_min_cost_supplier", 2),  # region⋈nation dim + eu_sup
        ("tpch_q08_market_share", 3),  # part, supplier, both nations
        ("tpch_q09_product_profit", 3),  # part, supplier, nation
        ("tpch_q17_small_qty_revenue", 1),  # filtered part dim
    ],
)
def test_tpch2_broadcasts_dimensions(name, min_bhj):
    """The TPC-H completion queries broadcast their dimension sides."""
    assert _count(name, "BroadcastHashJoin") >= min_bhj


def test_q22_scalar_subquery_broadcast_no_cartesian():
    """The scalar-avg threshold join broadcasts its 1-row side."""
    assert not _count("tpch_q22_sales_opportunity", "CartesianProduct")


def test_ivf_assignment_broadcasts_centroids():
    """IVF corpus assignment is a map-side pass over broadcast centroids."""
    assert _count("pipe_ann_ivf_topk", *BROADCAST_JOINS)


def test_decontamination_broadcasts_eval_side():
    """The tiny eval shingle set broadcasts against the train explode."""
    assert _count("pipe_decontamination", "BroadcastHashJoin")
    assert not _count("pipe_decontamination", "CartesianProduct")


def test_mixture_apply_broadcasts_rates():
    """The per-stratum rate table broadcasts against the corpus scan."""
    assert _count("pipe_mixture_apply", "BroadcastHashJoin")


def test_unigram_logprob_broadcasts_vocab():
    """The vocabulary frequency table broadcasts: no term-keyed corpus shuffle."""
    assert _count("pipe_unigram_logprob", "BroadcastHashJoin")


def test_doc_chunks_no_shuffle():
    """Chunking is narrow (sequence, slice, explode): scan-bound at 100 TB."""
    assert not _count("pipe_doc_chunks", *EXCHANGES, *PYTHON_EVAL)


def test_vocab_coverage_scale_no_window():
    """Top-max(k) by TakeOrderedAndProject; rank and running sum from a
    broadcast triangular self-join, never a whole-vocabulary window."""
    assert not _count("pipe_vocab_coverage", *WINDOWS)
    assert _count("pipe_vocab_coverage", "TakeOrderedAndProject")


def test_quality_filter_zero_shuffle():
    """The composite rule filter is one narrow projection of per-row
    array expressions."""
    assert not _count("pipe_quality_filter_decision", *EXCHANGES, *PYTHON_EVAL)


def test_containment_pairs_equijoin_only():
    """|A∩B| comes from the shingle equi-join, not pair enumeration."""
    assert not _count(
        "pipe_containment_pairs", "CartesianProduct", "BroadcastNestedLoopJoin"
    )


def test_pq_adc_partitioned_windows_and_no_cartesian():
    """The ADC scan is a broadcast-LUT pass; every window is per query."""
    assert not _count("pipe_ann_pq_recall", "CartesianProduct", "global_windows")


def test_hard_negatives_partitioned_topk():
    """Per-query window only: no global sort, no unpartitioned window."""
    assert not _count("pipe_hard_negatives", "global_windows")


def test_bigram_logprob_keyed_joins_only():
    """The score join is keyed and no window is unpartitioned."""
    assert not _count("pipe_bigram_logprob", "CartesianProduct", "global_windows")


def test_normalized_dedup_keyed_aggs_only():
    """Digest projection and source-keyed aggregation only."""
    assert not _count(
        "pipe_normalized_dedup", *WINDOWS, *PYTHON_EVAL, "CartesianProduct"
    )


def test_doc_entropy_keyed_aggs_only():
    """Two natural-key aggregations: no window, no Python eval, no join."""
    assert not _count("pipe_doc_entropy", *WINDOWS, *PYTHON_EVAL, *JOINS)


def test_token_pmi_topk_no_global_sort():
    """The global top-20 is TakeOrderedAndProject with no analytic window."""
    assert _count("pipe_token_pmi", "TakeOrderedAndProject")
    assert not _count("pipe_token_pmi", "Window", "CartesianProduct")


def test_bloom_decontamination_broadcasts_bitmap_and_eval():
    """Both bitmap probes and the exact eval semi-join broadcast, and the
    bit probes are column filters, not a Python UDF."""
    assert _count("pipe_bloom_decontamination", "BroadcastHashJoin") >= 3
    assert not _count(
        "pipe_bloom_decontamination", "CartesianProduct", *PYTHON_EVAL
    )


def test_boilerplate_removal_broadcasts_boiler_set():
    """The heavy-hitter chunk set broadcasts back as a left-anti join."""
    assert _count("pipe_boilerplate_removal", "BroadcastHashJoin")
    assert not _count("pipe_boilerplate_removal", "CartesianProduct")


def test_token_kl_drift_broadcasts_totals():
    """Per-source totals and the 1-row corpus total broadcast."""
    assert _count("pipe_token_kl_drift", "BroadcastHashJoin")
    assert not _count("pipe_token_kl_drift", "CartesianProduct")


def test_bm25_topk_plan():
    """Per-partition heaps, broadcast idf and (N, avgdl), no global window."""
    assert _count("pipe_bm25_topk", "TakeOrderedAndProject")
    assert _count("pipe_bm25_topk", *BROADCAST_JOINS)
    assert not _count("pipe_bm25_topk", "CartesianProduct", "global_windows")


def test_hll_distinct_plan_no_window():
    """HLL registers are a combinable max-per-register aggregation."""
    assert not _count("pipe_hll_distinct", *WINDOWS, "CartesianProduct")


def test_prefix_filter_pairs_plan():
    """Candidates come from an equi-join; both windows are per doc."""
    assert not _count(
        "pipe_prefix_filter_pairs",
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
        "global_windows",
    )


def test_cms_sketch_plan():
    """A combinable (r, col) count; the probe broadcasts the counters."""
    assert not _count("pipe_cms_heavy_hitters", *WINDOWS, "CartesianProduct")
    assert _count("pipe_cms_heavy_hitters", "BroadcastHashJoin")


def test_typo_pairs_plan():
    """FastSS candidates are a variant-keyed equi-join over the vocabulary."""
    assert not _count("pipe_typo_pairs", "CartesianProduct", "BroadcastNestedLoopJoin")


def test_source_overlap_broadcasts_sizes():
    """Per-source set sizes broadcast onto the pair rows."""
    assert _count("pipe_source_overlap", "BroadcastHashJoin")
    assert not _count("pipe_source_overlap", "CartesianProduct")


def test_dsir_broadcasts_bucket_tables():
    """The 512-bucket log-ratio table broadcasts against the bigram explode."""
    assert _count("pipe_dsir_importance", "BroadcastHashJoin")
    assert not _count("pipe_dsir_importance", "CartesianProduct", *WINDOWS)


def test_mad_outliers_broadcasts_stats():
    """Per-type median/MAD stats broadcast back to the hourly table."""
    assert _count("pipe_events_mad_outliers", "BroadcastHashJoin")
    assert not _count("pipe_events_mad_outliers", "CartesianProduct", *WINDOWS)


def test_quality_psi_bounded_aggregates():
    """Both halves aggregate into <=16 bins; no window, no cartesian."""
    assert not _count("pipe_quality_psi", *WINDOWS, "CartesianProduct")


def test_user_erasure_broadcasts_request_list():
    """The deletion-request list broadcasts against the events scan."""
    assert _count("pipe_user_erasure_audit", "BroadcastHashJoin")
    assert not _count("pipe_user_erasure_audit", "CartesianProduct")


def test_dedup_method_agreement_no_cartesian():
    """Flag sets join on doc_id; the method-pair inequality rides the join."""
    assert not _count(
        "pipe_dedup_method_agreement", "CartesianProduct", "BroadcastNestedLoopJoin"
    )


def test_negative_sampling_no_window():
    """The ^0.75 table is a top-64 plus a broadcast triangular self-join,
    never a global vocabulary window."""
    assert not _count("pipe_negative_sampling_table", *WINDOWS, "CartesianProduct")
    assert _count("pipe_negative_sampling_table", "TakeOrderedAndProject")


def test_corpus_datacard_single_pass():
    """The data card is one combinable global aggregate over the scan."""
    assert not _count("pipe_corpus_datacard", *WINDOWS, *JOINS)


def test_threshold_sweep_single_candidate_pass():
    """One banded candidate join; the 4 thresholds ride a tiny broadcast."""
    assert not _count("pipe_near_dup_threshold_sweep", "CartesianProduct")
    assert _count("pipe_near_dup_threshold_sweep", "Generate") <= 2


def test_join_size_estimate_topk_no_window():
    """One key aggregate plus TakeOrderedAndProject; no window."""
    assert _count("pipe_join_size_estimate", "TakeOrderedAndProject")
    assert not _count("pipe_join_size_estimate", *WINDOWS)


def test_mergeable_stats_no_window_no_cartesian():
    assert not _count("pipe_mergeable_stats", *WINDOWS, "CartesianProduct")
