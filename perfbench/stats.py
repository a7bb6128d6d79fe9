"""Arithmetic of the benchmark: percentiles, interval unions, span self
times, Spark UI metric strings and oracle path re-pointing.

Pure functions with no Spark import, so the unit tests run in milliseconds.
"""

from __future__ import annotations

import math
import re
import statistics
from collections.abc import Iterable, Sequence

# A percentile is reported only when at least this many samples lie beyond it.
MIN_TAIL_SAMPLES = 10


def percentile(values: Sequence[float], q: float) -> float:
    """The ``q`` quantile (0 < q < 1) by linear interpolation between the
    closest ranks, the same rule as ``statistics.quantiles(method="inclusive")``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the ``q`` quantile rank."""
    return n - 1 - math.floor(q * (n - 1))


def percentile_supported(n: int, q: float) -> bool:
    """The reporting rule: a percentile needs ``MIN_TAIL_SAMPLES`` beyond it."""
    return samples_beyond(n, q) >= MIN_TAIL_SAMPLES


def median(values: Iterable[float]) -> float:
    return statistics.median(list(values))


def quartile_spread(values: Sequence[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, as ``statistics.quantiles(values, n=4)`` gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: Sequence[dict]) -> dict[str, float]:
    """Self time per span name: each span's duration minus the part of its
    interval that its direct children cover, summed by name.

    A span is a dict with ``name``, ``start``, ``end`` and ``parent`` (the
    index of the parent span in ``spans``, or ``None`` for a root)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        covered = union_length(
            (max(a, s["start"]), min(b, s["end"])) for a, b in children.get(i, [])
        )
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


# --- Spark UI metric strings ------------------------------------------------
# The SQL REST endpoint renders accumulators as text: "1.2 s", "234 ms",
# "10.0 MiB", "1,234", or an aggregate "total (min, med, max ...)\n3.4 s (...)".
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric_value(text: str) -> float:
    """The total of a Spark UI metric string, in seconds, bytes or a count."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparseable metric value: {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return number * _UNITS.get(unit, 1.0) if unit else number


# --- oracle re-pointing -------------------------------------------------------
# The committed DuckDB oracles read the fixture warehouse by absolute path,
# read_parquet('<repo>/fixtures/<suite>/<table>.parquet'). The benchmark
# generates the warehouse for its seed elsewhere and re-points the prefix.
_ORACLE_PATH = re.compile(r"read_parquet\('[^']*/(tpcds|tpch)/([A-Za-z0-9_]+\.parquet)'\)")


def repoint_oracle(sql: str, warehouse_dir: str) -> str:
    """Re-point every fixture ``read_parquet`` in an oracle at ``warehouse_dir``."""
    root = warehouse_dir.rstrip("/")
    return _ORACLE_PATH.sub(
        lambda m: f"read_parquet('{root}/{m.group(1)}/{m.group(2)}')", sql
    )
