"""Spans around the calls the benchmark makes into each layer.

The tracer wraps public functions of the harness, the session's py4j client,
the ``queries`` registry builders and the two pyspark calls that split
DataFrame construction from execution (``SparkSession.sql`` and
``DataFrameWriter.save``). The wrappers live here, outside the program, and
are installed only for the duration of a traced pass; untraced passes run the
unmodified code.

DataFrame construction is one span name, ``queries.build``: the registry
builder on the registry workload, ``SparkSession.sql`` on the corpus
workloads. A ``SparkSession.sql`` call made inside a builder belongs to the
builder's span and opens none of its own.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrameWriter, SparkSession

from iceberg_benchmark_java_spark.harness import metrics as metrics_mod
from iceberg_benchmark_java_spark.harness import runner as runner_mod


class Tracer:
    """Keeps spans in memory: name, start, end, parent index and query id,
    plus the py4j round trips and REST calls made inside each span."""

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self.py4j_calls = 0
        self.rest_calls = 0

    @contextlib.contextmanager
    def span(self, name: str, query: str | None = None) -> Iterator[None]:
        parent = self._stack[-1] if self._stack else None
        if query is None and parent is not None:
            query = self.spans[parent]["query"]
        rec = {"name": name, "parent": parent, "query": query, "start": time.time()}
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        py4j0, rest0 = self.py4j_calls, self.rest_calls
        try:
            yield
        finally:
            rec["end"] = time.time()
            rec["py4j_calls"] = self.py4j_calls - py4j0
            rec["rest_calls"] = self.rest_calls - rest0
            self._stack.pop()

    def wrap(self, name: str, fn: Callable, query_arg: int | None = None) -> Callable:
        """``fn`` inside a span; ``query_arg`` names the positional argument
        that holds the query id. Calls made outside any span, or inside a
        span of the same name, pass through."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self._stack or self.spans[self._stack[-1]]["name"] == name:
                return fn(*args, **kwargs)
            query = args[query_arg] if query_arg is not None else None
            with self.span(name, query):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def installed(self, spark: SparkSession, builders: dict[str, Callable] | None = None) -> Iterator[None]:
        """Install the layer wrappers and counters, and wrap the registry
        ``builders`` in place; restore everything on exit."""
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted_send(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        get_json = metrics_mod._get_json

        def counted_get_json(url):
            self.rest_calls += 1
            return get_json(url)

        patches = [
            (runner_mod, "discover_queries", self.wrap("harness.discovery", runner_mod.discover_queries)),
            (runner_mod, "load_query", self.wrap("harness.discovery", runner_mod.load_query)),
            (runner_mod.BenchmarkRunner, "run_sql", self.wrap("harness.runner.run_sql", runner_mod.BenchmarkRunner.run_sql, query_arg=2)),
            (runner_mod.BenchmarkRunner, "flush_csv", self.wrap("harness.results.flush", runner_mod.BenchmarkRunner.flush_csv)),
            (metrics_mod.StageMetricsCollector, "begin", self.wrap("harness.metrics.tag", metrics_mod.StageMetricsCollector.begin)),
            (metrics_mod.StageMetricsCollector, "end", self.wrap("harness.metrics.tag", metrics_mod.StageMetricsCollector.end)),
            (metrics_mod.StageMetricsCollector, "collect", self.wrap("harness.metrics.collect", metrics_mod.StageMetricsCollector.collect)),
            (metrics_mod, "_get_json", counted_get_json),
            (SparkSession, "sql", self.wrap("queries.build", SparkSession.sql)),
            (DataFrameWriter, "save", self.wrap("exec.noop_write", DataFrameWriter.save)),
            (client, "send_command", counted_send),
        ]
        saved = [(obj, attr, obj.__dict__.get(attr)) for obj, attr, _ in patches]
        saved_builders = dict(builders or {})
        try:
            for obj, attr, new in patches:
                setattr(obj, attr, new)
            for name, fn in saved_builders.items():
                builders[name] = self.wrap("queries.build", fn)
            yield
        finally:
            for obj, attr, old in saved:
                if old is None:
                    delattr(obj, attr)  # the instance attribute shadowed a method
                else:
                    setattr(obj, attr, old)
            if builders is not None:
                builders.update(saved_builders)
