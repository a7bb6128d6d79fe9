"""Structured Streaming ingestion over the events table.

The reference has no streaming surface (SURVEY §2-B: "Streaming: none") —
this module is the engine's extension for continuous ingestion, built on
the standard Structured Streaming triad:

- ``read_events_stream``      — file-source readStream with the events
                                schema (at scale: swap the source for
                                Kafka/Kinesis; the plan is unchanged).
- ``hourly_aggregate_stream`` — watermarked tumbling-window aggregate;
                                late data beyond the watermark is dropped
                                deterministically. Batch-equivalent:
                                queries/pipeline.py::pipe_events_hourly.
- ``sessionize_stream``       — custom stateful operator via
                                applyInPandasWithState (30-min-gap
                                sessions); the streaming twin of
                                queries/windows.py::win_sessionize_events.

Tests drive these with a file source and a memory sink
(tests/test_streaming.py) — the same code runs against a real broker by
swapping the reader.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("ts", TimestampType(), True),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("props", StringType(), True),
    ]
)


def read_events_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream of event rows (one file per micro-batch in
    tests). ``maxFilesPerTrigger=1`` keeps micro-batches deterministic."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )


def hourly_aggregate_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-hour aggregate per event_type.

    Same grouping/measures as the batch query pipe_events_hourly, so the
    two can be diffed directly. The watermark bounds state: at 100 TB/day
    the state store holds only open windows within the watermark horizon.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_aggregate_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked hopping-window aggregate (1 h window, 15 min slide) per
    event_type — the trending-metrics stream. Each event feeds exactly 4
    overlapping windows (window/slide), expanded map-side by the native
    window expression. Batch-equivalent: queries/pipeline.py::
    pipe_events_sliding. State bound: open windows within the watermark
    horizon x 4 overlap — still O(horizon/slide) rows per key at any
    event volume."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


SESSION_GAP_SECONDS = 30 * 60

SESSION_STATE_SCHEMA = StructType(
    [
        StructField("session_id", LongType(), True),
        StructField("last_ts_epoch", DoubleType(), True),
        StructField("n_events", LongType(), True),
    ]
)

SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("session_id", LongType(), True),
        StructField("n_events", LongType(), True),
        StructField("closed", IntegerType(), True),
    ]
)


def _processing_time_timer(state: GroupState, last_epoch: float) -> None:
    state.setTimeoutDuration(SESSION_GAP_SECONDS * 1000)


def _event_time_timer(state: GroupState, last_epoch: float) -> None:
    # close when the WATERMARK passes last event + gap (not wall clock)
    state.setTimeoutTimestamp(int(last_epoch * 1000) + SESSION_GAP_SECONDS * 1000)


def _make_sessionize_group(
    set_timer: Callable[[GroupState, float], None] | None,
):
    """The sessionizer kernel, one for every timer: ``set_timer(state,
    last_epoch)`` arms the close timer after each batch
    (_processing_time_timer, _event_time_timer), or None for no timer."""

    def _sessionize_group(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        """Per-user stateful sessionizer: events ordered by ts extend the
        current session unless the gap exceeds SESSION_GAP_SECONDS; a session
        emits (possibly updated) counts per micro-batch and closes on
        timeout."""
        (user_id,) = key
        if state.hasTimedOut:
            session_id, _last, n = state.get
            # Tombstone, not remove(): keep the NEXT session id so a user
            # returning after a timeout-close continues numbering at
            # session_id+1 instead of colliding with the already-emitted
            # (user_id, session_id) close row. last_epoch=None marks "no
            # open session"; no new timeout is registered, so the tombstone
            # never re-fires. State cost: one tiny tuple per user ever
            # seen — bounded by key cardinality, not throughput (for
            # unbounded key domains, derive ids from the session-start
            # timestamp instead and drop the tombstone).
            state.update((session_id + 1, None, 0))
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_id": [session_id],
                    "n_events": [n],
                    "closed": [1],
                }
            )
            return
        rows = pd.concat(list(batches), ignore_index=True).sort_values("ts")
        if state.exists:
            session_id, last_epoch, n = state.get
        else:
            session_id, last_epoch, n = 0, None, 0
        out_rows = []
        for ts in rows["ts"]:
            epoch = ts.timestamp()
            if last_epoch is not None and (epoch - last_epoch) > SESSION_GAP_SECONDS:
                out_rows.append((user_id, session_id, n, 1))  # close previous
                session_id += 1
                n = 0
            n += 1
            last_epoch = epoch
        state.update((session_id, last_epoch, n))
        if set_timer is not None:
            set_timer(state, last_epoch)
        out_rows.append((user_id, session_id, n, 0))  # open session snapshot
        yield pd.DataFrame(
            out_rows, columns=["user_id", "session_id", "n_events", "closed"]
        )

    return _sessionize_group


def sessionize_stream(events: DataFrame, close_by_timeout: bool = True) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    30-minute-gap sessionization. The state is one tiny tuple per active
    user — bounded by active users, not by throughput.

    ``close_by_timeout=True`` (production): processing-time timeouts close
    idle sessions with no further input. Note a stateful operator with
    pending timeouts reports shouldRunAnotherBatch=true, so even an
    availableNow run keeps triggering micro-batches until every timeout has
    fired — correct for a live pipeline, unbounded for a finite test drain.
    ``close_by_timeout=False``: no timeouts; sessions close only when a
    later event exceeds the gap. Finite sources then terminate cleanly
    under availableNow, with open sessions visible as closed=0 snapshots.
    """
    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if close_by_timeout
        else GroupStateTimeout.NoTimeout
    )
    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_sessionize_group(
                _processing_time_timer if close_by_timeout else None
            ),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=timeout_conf,
        )
    )


def sessionize_stream_event_time(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Event-time sessionization (applyInPandasWithState +
    EventTimeTimeout): sessions close when the WATERMARK passes their last
    event + gap. Unlike the processing-time variant this is deterministic
    under replay/backfill (timers keyed to the data, not the wall clock),
    terminates cleanly under availableNow (timeouts fire from watermark
    advance, including the final no-data batch), and late events below the
    watermark are dropped by the engine before the kernel sees them. State
    is one tuple per user within the watermark horizon.

    Ordering contract: events are sorted WITHIN each micro-batch; ACROSS
    batches the kernel assumes per-user event-time-monotone delivery (each
    batch's events for a user are at or after that user's previous batch).
    An above-watermark event older than the state's last_epoch (allowed
    late data arriving out of order across batches) would be appended to
    the current session with a negative gap — to also reorder across
    batches, buffer events in state until the watermark passes them before
    assigning sessions (a state-size trade this engine doesn't take).
    Replay/backfill of an ordered log satisfies the contract."""
    return (
        events.select("user_id", "ts")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_sessionize_group(_event_time_timer),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


SESSION_BUFFERED_STATE_SCHEMA = StructType(
    [
        StructField("session_id", LongType(), True),
        StructField("last_ts_epoch", DoubleType(), True),
        StructField("n_events", LongType(), True),
        StructField("buffer", ArrayType(DoubleType()), True),
    ]
)


def _sessionize_buffered_group(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Buffer-until-watermark sessionizer kernel: incoming events are held
    in per-user state and only assigned to sessions once the watermark has
    passed them, in global event-time order — so unlike
    the event-time sessionizer, the output is correct even when a user's
    events arrive OUT OF ORDER ACROSS micro-batches (any above-watermark
    late data). This is the canonical ordered-processing trade: state grows
    by the events inside the watermark horizon (bounded by horizon ×
    per-user rate), in exchange for batch-identical sessions under any
    above-watermark arrival order.

    Emits CLOSED sessions only — a session is final exactly when the
    watermark passes last_event + gap with nothing assignable before that
    boundary, which is also the moment it becomes deterministic. Timers:
    the earlier of (earliest buffered event, open-session close boundary),
    clamped above the current watermark as the engine requires.
    """
    (user_id,) = key
    wm_ms = state.getCurrentWatermarkMs()
    wm = wm_ms / 1000.0
    if state.hasTimedOut:
        session_id, last_epoch, n, buf = state.get
        incoming: list[float] = []
    else:
        rows = pd.concat(list(batches), ignore_index=True)
        incoming = [ts.timestamp() for ts in rows["ts"]]
        if state.exists:
            session_id, last_epoch, n, buf = state.get
        else:
            session_id, last_epoch, n, buf = 0, None, 0, []
    buf = sorted(list(buf or []) + incoming)
    safe = [e for e in buf if e <= wm]
    buf = [e for e in buf if e > wm]
    out_rows = []
    for epoch in safe:
        if last_epoch is not None and (epoch - last_epoch) > SESSION_GAP_SECONDS:
            out_rows.append((user_id, session_id, n, 1))
            session_id += 1
            n = 0
        n += 1
        last_epoch = epoch
    if n > 0 and wm >= last_epoch + SESSION_GAP_SECONDS:
        # no buffered event can precede the gap boundary (buf > wm >= it):
        # the open session is final
        out_rows.append((user_id, session_id, n, 1))
        session_id += 1
        n = 0
        last_epoch = None
    state.update((session_id, last_epoch, n, buf))
    pending_ms = []
    if buf:
        pending_ms.append(int(buf[0] * 1000) + 1)  # fire once wm passes it
    if n > 0:
        pending_ms.append(int((last_epoch + SESSION_GAP_SECONDS) * 1000))
    if pending_ms:
        state.setTimeoutTimestamp(max(min(pending_ms), wm_ms + 1))
    if out_rows:
        yield pd.DataFrame(
            out_rows, columns=["user_id", "session_id", "n_events", "closed"]
        )


def sessionize_stream_buffered(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Order-robust event-time sessionization: buffer-until-watermark
    variant of sessionize_stream_event_time. Produces batch-identical
    closed sessions under ANY above-watermark arrival order (cross-batch
    out-of-order late data included), at the cost of buffering each user's
    in-horizon events in state. Use this when the source is not per-user
    ordered (multi-partition Kafka, merged backfills); the lean variant
    when it is."""
    return (
        events.select("user_id", "ts")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_buffered_group,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_BUFFERED_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def enrich_events_stream(events: DataFrame) -> DataFrame:
    """Stateless ingestion enrichment: event-time derivatives + value
    bucket. The ETL-to-table path — at scale this lands in hour-partitioned
    Iceberg/parquet and is the input to every batch query downstream."""
    return events.select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        F.date_trunc("hour", F.col("ts")).alias("event_hour"),
        F.when(F.col("value") >= 100, "high")
        .when(F.col("value") >= 10, "mid")
        .otherwise("low")
        .alias("value_bucket"),
    )


def enrich_with_customer_stream(events: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream-static dimension join: each micro-batch broadcast-joins the
    static customer dim (user_id = c_custkey) — the standard streaming
    enrichment pattern. The static side is re-resolved per batch, so a
    dim-table refresh is picked up without restarting the stream; at scale
    the dim stays broadcast (or becomes a state-store join if it outgrows
    the driver)."""
    dim = F.broadcast(
        customers.select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment", "c_nationkey"
        )
    )
    return events.join(dim, "user_id", "left")


def dedup_events_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on event_id with a watermark-bounded state:
    re-delivered events (at-least-once sources re-emit on retry) are
    dropped exactly once per id, and dedup state for ids older than the
    watermark is evicted — the standard ingestion-dedup front of a
    pipeline. Without the watermark the state grows with the stream;
    with it, state is bounded by (watermark horizon × event rate)."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def dedup_against_corpus_stream(
    docs_stream: DataFrame, corpus: DataFrame
) -> DataFrame:
    """Stream-static anti-join dedup: drop incoming documents whose content
    digest already exists in the historical corpus — the ingestion front
    of a training-data pipeline (new crawl data vs everything already
    curated).

    Each micro-batch left_anti-joins the static digest set on the md5
    fingerprint; the static side is re-resolved per batch, so a corpus
    refresh (new curation run landing) is picked up without restarting the
    stream. Here the digest set is broadcast; at 100 TB the same plan
    degrades gracefully to a shuffled anti-join when the digest table
    outgrows the broadcast threshold — or put a Bloom filter of the
    corpus digests in front as a cheap pre-filter and keep the exact
    anti-join for the survivors. Complements dedup_events_stream
    (within-stream dedup): this is ACROSS the stream/batch boundary.
    """
    known = F.broadcast(
        corpus.select(F.md5(F.col("text")).alias("fingerprint")).distinct()
    )
    return docs_stream.withColumn("fingerprint", F.md5(F.col("text"))).join(
        known, "fingerprint", "left_anti"
    )


def click_purchase_join_stream(
    events: DataFrame,
    watermark: str = "2 hours",
    horizon_minutes: int = 60,
    join_type: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: each click joined to the
    same user's purchases within [click_ts, click_ts + horizon] event time
    (attribution-window semantics). Both sides carry watermarks AND the
    join condition bounds event time in both directions — the two
    requirements that let Structured Streaming evict join state instead
    of buffering both streams forever. State per side is bounded by
    (watermark + horizon) of traffic, independent of stream length.

    Takes one events stream and filters the two sides from it (the test
    topology); in production the sides would be two readers.

    ``join_type="left_outer"`` adds the attribution-funnel question inner
    joins can't answer — WHICH clicks never converted: an unmatched click
    is held in state until the watermark passes click_ts + horizon (only
    then is "no purchase arrived" final) and is emitted once with null
    purchase columns. Same bounded state; unmatched results are
    watermark-delayed by construction.
    """
    if join_type not in ("inner", "left_outer"):
        raise ValueError(f"unsupported join_type: {join_type}")
    # Watermark ONCE, before splitting the sides: with per-side watermark
    # nodes the global watermark is their MIN, so the moment one event type
    # pauses (e.g. clicks overnight) that side's watermark stalls and outer
    # results / state eviction freeze corpus-wide. A single pre-split
    # watermark tracks ALL events; the column rename after withWatermark
    # preserves the watermark tag (the documented self-join pattern).
    wm_events = events.withWatermark("ts", watermark)
    clicks = wm_events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = wm_events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {horizon_minutes} MINUTES")
        )
    )
    return clicks.join(purchases, cond, join_type).select(
        "click_id", "user_id", "click_ts", "purchase_id", "purchase_ts"
    )


def run_stream_to_parquet(
    stream_df: DataFrame, path: str, checkpoint: str, available_now: bool = True
) -> Any:
    """Parquet file sink with checkpointed exactly-once semantics: the
    sink's _spark_metadata log records committed files, so a restart from
    the same checkpoint neither reprocesses nor duplicates. Partitioned by
    event_hour — the layout batch readers prune on."""
    w = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("event_hour")
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def run_stream_to_memory(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "update",
    available_now: bool = False,
) -> Any:
    """Start the stream into a memory sink for inspection/testing; returns
    the StreamingQuery (caller awaits/stops).

    ``available_now=True`` drains all currently-available source data and
    stops — the right trigger for finite verification runs. Without it a
    stateful query with processing-time timeouts runs micro-batches forever
    (by design: session timeouts must fire with no new data), so
    ``processAllAvailable`` never settles.
    """
    w = stream_df.writeStream.format("memory").queryName(query_name).outputMode(output_mode)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def session_window_aggregate(
    events: DataFrame, gap: str = "30 minutes", watermark: str | None = None
) -> DataFrame:
    """Gap-based sessionization with Spark's NATIVE session_window — the
    JVM-side twin of the applyInPandasWithState sessionizers: no Python
    in the loop, whole-stage codegen, and the identical function serves
    batch AND streaming input (streaming callers pass a watermark; state
    is then bounded to open sessions inside the watermark horizon, and
    append mode emits each session once when the watermark closes it).

    Session semantics: windows merge while events are < gap apart; an
    event at exactly prev + gap starts a new session (window end is
    exclusive), and session_end = last event + gap.

    Out: user_id, session_start, session_end, n_events.
    """
    src = (
        events
        if watermark is None
        else events.withWatermark("ts", watermark)
    )
    return (
        src.groupBy(
            F.session_window("ts", gap).alias("win"), "user_id"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )
