"""Benchmark harness — the reference driver's API surface in PySpark.

Module map to SURVEY §2-A operators:

- ``discovery``  — A6 query discovery (sorted *.sql), A7 templating.
- ``runner``     — A5 database selection, A8 timed noop execution, A9 error
                   capture, A11 result buffering, A15 run matrix.
- ``metrics``    — A3/A10/A12/A13 substitute: job-group-correlated stage
                   metrics read from the SparkContext's status store
                   (race-free replacement for the reference's listener
                   latch dance, SURVEY §3.4).
- ``results``    — A14 results publishing (12-column schema, CSV writer;
                   rows reach the JVM as an Arrow table).
"""

from .discovery import discover_queries, render_query
from .results import RESULTS_SCHEMA, results_dataframe, write_results_csv
from .runner import BenchmarkRunner, QueryResult

__all__ = [
    "BenchmarkRunner",
    "QueryResult",
    "RESULTS_SCHEMA",
    "discover_queries",
    "render_query",
    "results_dataframe",
    "write_results_csv",
]
