"""Structured Streaming operators.

The reference has no streaming surface (SURVEY.md §2: build is batch,
search is request/response), but its batch-parallel query pattern
(README.md:120-134) extends naturally to a stream of queries; and a
100 TB training-data pipeline ingests events/documents continuously.
Everything here is expressed so the SAME logical plan runs in batch and
streaming mode (Spark's unified DataFrame semantics): the batch twins in
``__spark_entry__`` are the DuckDB-oracle-checked versions of these
operators, and tests assert batch == streaming(availableNow).

Operators:
- ``sessionized_counts``   — native ``session_window`` gap sessions;
- ``windowed_event_counts``— tumbling window + watermark for late data;
- ``streaming_dedup``      — exact content-hash dedup with state TTL via
                             watermark + dropDuplicates;
- ``ann_search_stream``    — micro-batch ANN: foreachBatch runs the
                             batch search pipeline (operators/search.py)
                             per trigger, appending to a sink. State is
                             the immutable index (reference indexes are
                             immutable once built, lib.rs:361-372 note),
                             so no streaming state store is needed.

Scale notes: watermarks bound state; session/tumbling aggs shuffle by
(key, window) exactly like their batch twins; foreachBatch ANN keeps the
per-batch plan identical to the batch path, so the one-shuffle merge
property of operators/search.py carries over.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rust_diskann_spark import _zipguard

DEFAULT_GAP = "30 minutes"
DEFAULT_WATERMARK = "2 hours"


def with_event_time(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize the events table's timestamp to a proper event-time
    column ``event_ts``. Accepts either fixture encoding: nanos-as-long
    (TIMESTAMP(NANOS) parquet read under
    ``spark.sql.legacy.parquet.nanosAsLong``) or a native TIMESTAMP /
    TIMESTAMP_NTZ column — the branches below handle each."""
    if dict(events.dtypes).get(ts_col) == "bigint":
        # integer `div`, NOT `/`: nanos exceed double precision and float
        # division drifts by +-1 us
        event_ts = F.timestamp_micros(F.expr(f"`{ts_col}` div 1000"))
    else:
        # TIMESTAMP or TIMESTAMP_NTZ; cast through TIMESTAMP (session tz
        # is pinned to UTC) so downstream unix_micros/session_window agree
        # with the DuckDB oracle's naive-timestamp epoch_us
        event_ts = F.col(ts_col).cast("timestamp")
    return events.withColumn("event_ts", event_ts)


def sessionized_counts(
    events: DataFrame,
    gap: str = DEFAULT_GAP,
    watermark: str | None = DEFAULT_WATERMARK,
) -> DataFrame:
    """Gap-based sessions per user -> (user_id, session_start_us,
    session_end_us, n_events, sum_value).

    ``session_window`` works identically in batch and streaming; in
    streaming the watermark closes sessions once event time passes
    end + watermark, bounding state."""
    ev = with_event_time(events)
    if watermark is not None and ev.isStreaming:
        ev = ev.withWatermark("event_ts", watermark)
    return (
        ev.groupBy(F.session_window("event_ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
            "n_events",
            "sum_value",
        )
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str | None = DEFAULT_WATERMARK,
) -> DataFrame:
    """Tumbling-window counts per event_type -> (window_start_us,
    event_type, n_events, sum_value); watermark admits late data up to
    the horizon then finalizes the window."""
    ev = with_event_time(events)
    if watermark is not None and ev.isStreaming:
        ev = ev.withWatermark("event_ts", watermark)
    return (
        ev.groupBy(F.window("event_ts", window), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(
    docs: DataFrame,
    text_col: str = "text",
    watermark_col: str | None = None,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Exact streaming dedup: keep the first document per content hash.
    With a watermark column the dedup state expires past the horizon
    (``dropDuplicates`` within the watermark) — the streaming twin of
    operators/dedup.exact_duplicates."""
    hashed = docs.withColumn("content_hash", F.md5(F.col(text_col)))
    if watermark_col is not None and hashed.isStreaming:
        hashed = hashed.withWatermark(watermark_col, watermark)
        return hashed.dropDuplicatesWithinWatermark(["content_hash"])
    return hashed.dropDuplicates(["content_hash"])


def user_running_stats(
    events: DataFrame,
    watermark: str = DEFAULT_WATERMARK,
    timeout_ms: int = 3_600_000,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (n_events, sum_value, max_ts_us) maintained across
    micro-batches — the pattern for bespoke streaming state Spark's
    built-in aggregations can't express (e.g. decaying counters, session
    models). State times out ``timeout_ms`` after a user's last event
    (event-time timeout, bounded by the watermark).

    Batch twin: ``groupBy(user_id).agg(count, sum, max)`` — tests assert
    the streaming(availableNow) output matches it exactly.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = with_event_time(events).select(
        "user_id", "event_ts", "value",
        F.unix_micros("event_ts").alias("ts_us"),
    )
    if ev.isStreaming:
        ev = ev.withWatermark("event_ts", watermark)

    def update(key, pdfs, state):
        _zipguard.install()  # shipped by value: see _zipguard
        n, total, max_ts = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue  # timeout invocations deliver empty batches
            n += len(pdf)
            total += float(pdf["value"].sum())
            max_ts = max(max_ts, int(pdf["ts_us"].max()))
        state.update((n, total, max_ts))
        # replaying history (availableNow) can advance the watermark past
        # event-time + timeout; the timeout must stay ahead of it
        state.setTimeoutTimestamp(
            max(max_ts // 1000, state.getCurrentWatermarkMs()) + timeout_ms
        )
        import pandas as pd  # local import: executors pickle this closure

        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [round(total, 4)],
                "max_ts_us": [max_ts],
            }
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id BIGINT, n_events BIGINT, sum_value DOUBLE, max_ts_us BIGINT",
        stateStructType="n BIGINT, total DOUBLE, max_ts BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def ann_search_stream(
    queries_stream: DataFrame,
    search_fn: Callable[[DataFrame], DataFrame],
    sink_path: str,
    checkpoint_path: str,
    trigger_available_now: bool = True,
    output_format: str = "parquet",
):
    """Continuous ANN serving: each micro-batch of queries (query_id,
    qvec) runs the batch search pipeline against the (immutable) index
    and appends results to ``sink_path``.

    ``search_fn`` is e.g. ``lambda q: index.search_with_dists(q, k, bw)``
    — the exact batch plan; foreachBatch re-plans it per trigger, so
    Catalyst/AQE still optimize every batch. Returns the started
    ``StreamingQuery`` (caller awaits/stops)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            search_fn(batch_df)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .format(output_format)
            .save(sink_path)
        )

    writer = (
        queries_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
