"""Unit tests of the benchmark's own arithmetic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)
sys.path.insert(1, os.path.dirname(BENCH))  # the program, for tracing

from layers import pass_metrics, ui_time  # noqa: E402
from stats import (  # noqa: E402
    parse_metric_value,
    percentile,
    percentile_supported,
    quartile_spread,
    repoint_oracle,
    samples_beyond,
    self_times,
    union_length,
)


# --- percentiles and the sample-count rule -----------------------------------
def test_percentile_matches_inclusive_quantiles():
    xs = [0.9, 0.1, 0.5, 0.3, 0.7, 0.2, 1.4, 0.8]
    cuts = statistics.quantiles(xs, n=10, method="inclusive")
    assert percentile(xs, 0.5) == pytest.approx(statistics.median(xs))
    assert percentile(xs, 0.9) == pytest.approx(cuts[8])
    assert percentile(xs, 0.1) == pytest.approx(cuts[0])


def test_percentile_of_one_sample_and_of_none():
    assert percentile([3.0], 0.9) == 3.0
    with pytest.raises(ValueError):
        percentile([], 0.5)


def test_p90_needs_ten_samples_above_its_rank():
    # 92 samples: the p90 rank is 81.9, so ranks 82..91 (ten samples) lie above
    assert samples_beyond(92, 0.9) == 10
    assert percentile_supported(92, 0.9)
    assert not percentile_supported(91, 0.9)


def test_median_needs_twenty_samples():
    assert samples_beyond(20, 0.5) == 10
    assert percentile_supported(20, 0.5)
    assert not percentile_supported(19, 0.5)


def test_quartile_spread_is_iqr_over_median():
    vs = [10.0, 11.0, 12.0, 13.0, 14.0]
    q1, q2, q3 = statistics.quantiles(vs, n=4)
    assert quartile_spread(vs) == pytest.approx((q3 - q1) / q2)


# --- job busy time as a union of intervals ------------------------------------
def test_union_merges_overlaps_and_keeps_gaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)


def test_union_of_nested_touching_and_empty_intervals():
    assert union_length([(0, 10), (2, 3), (10, 12)]) == pytest.approx(12.0)
    assert union_length([(4, 4), (5, 3)]) == 0.0
    assert union_length([]) == 0.0


# --- self time from nested spans ----------------------------------------------
def _span(name, start, end, parent):
    return {"name": name, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span("pass", 0.0, 10.0, None),
        _span("run_sql", 1.0, 7.0, 0),
        _span("build", 1.5, 2.5, 1),
        _span("write", 3.0, 6.0, 1),
        _span("flush", 8.0, 9.0, 0),
    ]
    selfs = self_times(spans)
    assert selfs["pass"] == pytest.approx(10.0 - 6.0 - 1.0)
    assert selfs["run_sql"] == pytest.approx(6.0 - 1.0 - 3.0)
    assert selfs["build"] == pytest.approx(1.0)
    # self times tile the root span
    assert sum(selfs.values()) == pytest.approx(10.0)


def test_self_time_sums_spans_of_one_name_and_clips_children():
    spans = [
        _span("pass", 0.0, 4.0, None),
        _span("q", 0.0, 1.0, 0),
        _span("q", 2.0, 3.0, 0),
        _span("late", 3.5, 5.0, 0),  # ends after its parent
    ]
    selfs = self_times(spans)
    assert selfs["q"] == pytest.approx(2.0)
    assert selfs["pass"] == pytest.approx(4.0 - 2.0 - 0.5)


# --- re-pointing the oracle paths ---------------------------------------------
def test_repoint_oracle_rewrites_every_fixture_path():
    sql = (
        "WITH a AS (SELECT * FROM read_parquet('/x/repo/fixtures/tpcds/date_dim.parquet')),\n"
        "b AS (SELECT * FROM read_parquet('/x/repo/fixtures/tpch/lineitem.parquet'))\n"
        "SELECT 'read_parquet' AS s FROM a, b"
    )
    out = repoint_oracle(sql, "/w/fixtures/")
    assert "read_parquet('/w/fixtures/tpcds/date_dim.parquet')" in out
    assert "read_parquet('/w/fixtures/tpch/lineitem.parquet')" in out
    assert "/x/repo" not in out
    assert out.endswith("SELECT 'read_parquet' AS s FROM a, b")


def test_repoint_oracle_on_a_committed_oracle():
    path = os.path.join(os.path.dirname(BENCH), "corpus", "tpcds_ref_oracles", "q72.sql")
    if not os.path.exists(path):
        pytest.skip("corpus not present")
    with open(path) as f:
        sql = f.read()
    out = repoint_oracle(sql, "/w")
    assert out.count("read_parquet('/w/tpcds/") == sql.count("read_parquet(")


# --- Spark UI metric strings and timestamps -------------------------------------
@pytest.mark.parametrize(
    "text, value",
    [
        ("234 ms", 0.234),
        ("1.5 s", 1.5),
        ("2.0 m", 120.0),
        ("1,234", 1234.0),
        ("10.0 MiB", 10.0 * 1024**2),
        ("512 B", 512.0),
        ("total (min, med, max (stageId: taskId))\n1.2 s (0 ms, 3 ms, 40 ms (stage 3.0: task 5))", 1.2),
    ],
)
def test_parse_metric_value(text, value):
    assert parse_metric_value(text) == pytest.approx(value)


def test_ui_time_is_utc_epoch_seconds():
    assert ui_time("1970-01-01T00:00:01.500GMT") == pytest.approx(1.5)


# --- attribution of jobs and plans to spans -----------------------------------
def _t(sec: float) -> str:
    from datetime import datetime, timezone

    return datetime.fromtimestamp(sec, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "GMT"


def test_pass_metrics_attributes_jobs_by_submitting_span():
    spans = [
        dict(_span("pass", 100.0, 110.0, None), rest_calls=0, py4j_calls=0),
        dict(_span("harness.runner.run_sql", 100.0, 108.0, 0), rest_calls=0, py4j_calls=0),
        dict(_span("queries.build", 100.0, 101.0, 1), rest_calls=0, py4j_calls=7),
        dict(_span("exec.noop_write", 101.0, 106.0, 1), rest_calls=0, py4j_calls=0),
        dict(_span("harness.metrics.collect", 106.0, 108.0, 1), rest_calls=3, py4j_calls=0),
    ]
    jobs = [
        {"submissionTime": _t(100.5), "completionTime": _t(100.8), "stageIds": [1]},
        {"submissionTime": _t(102.0), "completionTime": _t(104.0), "stageIds": [2, 3]},
        {"submissionTime": _t(103.0), "completionTime": _t(105.0), "stageIds": [4]},
        {"submissionTime": _t(50.0), "completionTime": _t(51.0), "stageIds": [9]},  # earlier pass
    ]
    stages = [
        {"stageId": 2, "status": "COMPLETE", "numCompleteTasks": 4, "executorRunTime": 1500, "inputBytes": 10},
        {"stageId": 3, "status": "SKIPPED", "numCompleteTasks": 0, "executorRunTime": 0},
        {"stageId": 4, "status": "COMPLETE", "numCompleteTasks": 2, "executorRunTime": 500, "inputBytes": 5},
        {"stageId": 9, "status": "COMPLETE", "numCompleteTasks": 8, "executorRunTime": 9000},
    ]
    executions = [
        {
            "submissionTime": _t(101.5),
            "nodes": [
                {"nodeName": "Exchange", "metrics": []},
                {"nodeName": "BroadcastExchange", "metrics": [{"name": "time to build", "value": "20 ms"}]},
                {"nodeName": "Scan parquet ", "metrics": [{"name": "scan time", "value": "total (min, med, max)\n1.0 s (1 ms, 2 ms, 3 ms)"}]},
                {"nodeName": "MapInPandas", "metrics": [{"name": "data sent to Python workers", "value": "1.0 KiB"}]},
            ],
        },
        {"submissionTime": _t(109.0), "nodes": [{"nodeName": "Exchange", "metrics": []}]},  # the flush
    ]
    m = pass_metrics(spans, jobs, stages, executions)
    assert m["pass_s"] == pytest.approx(10.0)
    assert m["queries.build_s"] == pytest.approx(1.0)
    assert m["queries.build_jobs"] == 1
    assert m["queries.py4j_calls"] == 7
    assert m["exec.jobs"] == 2
    assert m["exec.job_busy_s"] == pytest.approx(3.0)  # union of [102, 104] and [103, 105]
    assert m["exec.driver_gap_s"] == pytest.approx(5.0 - 3.0)
    assert m["exec.stages"] == 2  # the skipped stage did not run
    assert m["exec.tasks"] == 6
    assert m["exec.executor_run_s"] == pytest.approx(2.0)
    assert m["exec.input_bytes"] == 15
    assert m["harness.metrics.rest_calls"] == 3
    assert m["plan.exchanges"] == 1
    assert m["plan.broadcasts"] == 1
    assert m["plan.python_nodes"] == 1
    assert m["op.broadcast_build_s"] == pytest.approx(0.02)
    assert m["op.scan_time_s"] == pytest.approx(1.0)
    assert m["op.python_bytes_sent"] == pytest.approx(1024.0)
    assert m["harness.runner.self_s"] == pytest.approx(0.0)
    assert m["pass.unattributed_s"] == pytest.approx(2.0)


# --- span nesting and the registry session ------------------------------------
def test_tracer_opens_no_span_inside_a_span_of_the_same_name():
    tracing = pytest.importorskip("tracing")  # needs pyspark
    t = tracing.Tracer()
    sql = t.wrap("queries.build", lambda text: f"df({text})")
    builder = t.wrap("queries.build", lambda: sql("inner"))
    with t.span("pass", "q1"):
        assert builder() == "df(inner)"
    assert [(s["name"], s["parent"], s["query"]) for s in t.spans] == [("pass", None, "q1"), ("queries.build", 0, "q1")]
    assert sql("outside") == "df(outside)"  # outside any span: no span
    assert len(t.spans) == 2


def test_registry_session_builds_entries_and_forwards_the_rest():
    from run import RegistrySession

    class Spark:
        version = "4"

    spark = Spark()
    builders = {"pipe_x": lambda s, sf: (s, sf)}
    session = RegistrySession(spark, builders, "/data/sf")
    assert session.sql("pipe_x") == (spark, "/data/sf")
    assert session.version == "4"
    builders["pipe_x"] = lambda s, sf: "swapped"  # looked up at call time
    assert session.sql("pipe_x") == "swapped"
