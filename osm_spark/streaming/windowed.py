"""Structured Streaming: watermarked tumbling-window aggregation and a
custom stateful sessionizer over the ``events`` stream-shaped table.

The reference is strictly request/response (SURVEY.md §2.9); its nearest
analogs are the TTL cache (lib/osm/model.rb:18,105) and the append-only
PaymentStatus history (lib/osm/online_payment.rb:422-515) — "latest state
per key over an unbounded log", which is exactly what the watermarked
window + ``applyInPandasWithState`` pair expresses natively in Spark.

Scale design: the file source is a stand-in for Kafka/Iceberg CDC; the
window agg shuffles on (window, event_type) with partial aggregation, and
the watermark bounds state so a 10^12-event stream holds only
``windows-in-flight × keys`` state per executor. ``availableNow`` runs
the same plan as a bounded backfill — used by tests and the correctness
oracle (stream result ≡ batch result on the same input).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def stream_events(spark: SparkSession, events_path: str) -> DataFrame:
    """File-source stream over an events parquet directory (or a single
    parquet file — streamed from its parent dir via pathGlobFilter, since
    the file source requires a directory basePath)."""
    import os

    reader = spark.readStream.schema(EVENTS_SCHEMA).option("maxFilesPerTrigger", 4)
    if os.path.isfile(events_path):
        reader = reader.option("pathGlobFilter", os.path.basename(events_path))
        events_path = os.path.dirname(events_path)
    return reader.parquet(events_path)


def windowed_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window counts + value sum per event_type with late-data
    watermark. Works on both a stream and a batch DataFrame (same plan)."""
    src = events
    if src.isStreaming:
        src = src.withWatermark("ts", watermark)
    return (
        src.groupBy(
            F.window("ts", window).alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            # decimal sum → order-independent exact total (a double sum is
            # not); terminal cast to double so the stringified value matches
            # the oracle's (DuckDB decimals reach pandas as float64)
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_windowed_counts_batchlike(
    spark: SparkSession, events_dir: str, window: str = "1 hour"
) -> DataFrame:
    """Run the streaming plan to completion with availableNow into a
    memory sink; return the materialized result as a DataFrame.

    This is the bounded-backfill mode: identical results to the batch
    plan, so it is oracle-checkable in plain SQL."""
    import uuid

    sink = f"wc_{uuid.uuid4().hex[:8]}"
    q = (
        windowed_counts(stream_events(spark, events_dir), window)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


def sessionize(
    events: DataFrame, gap_minutes: int = 30
) -> DataFrame:
    """Custom stateful operator: user sessions with an inactivity gap.

    Batch formulation (window lag + cumulative sum) — the exact semantics
    a streaming ``applyInPandasWithState`` sessionizer maintains
    incrementally; implemented as the batch plan so the oracle can verify
    it, with the streaming wrapper in ``sessionize_stream``."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # interval comparison works for TIMESTAMP and TIMESTAMP_NTZ alike,
    # at full microsecond precision
    gap = F.expr(f"INTERVAL '{int(gap_minutes)}' MINUTE")
    marked = events.withColumn(
        "new_session",
        F.when(F.col("ts") - F.lag(F.col("ts"), 1).over(w) > gap, 1)
        .otherwise(0)
        .cast("int"),
    ).withColumn(
        "session_seq", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        marked.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .select("user_id", "session_seq", "session_start", "session_end", "n_events")
    )


def sessionize_stream(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Streaming sessionizer via ``applyInPandasWithState`` (timeout-based
    session close). State per user: (session_start, last_ts, n_events).

    Kept minimal: the batch ``sessionize`` is the semantic spec; this
    wrapper exists to exercise the stateful-streaming plumbing."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id long, session_start timestamp, session_end timestamp, n_events long"
    )
    state_schema = "session_start timestamp, last_ts timestamp, n_events long"
    gap_s = gap_minutes * 60

    def fn(key, pdfs, state: GroupState):
        rows = []
        start = last = None
        n = 0
        if state.exists:
            start, last, n = state.get
        for pdf in pdfs:
            pdf = pdf.sort_values("ts")
            for ts in pdf["ts"]:
                ts = ts.to_pydatetime()
                if last is not None and (ts - last).total_seconds() > gap_s:
                    rows.append((key[0], start, last, n))
                    start, n = None, 0
                if start is None:
                    start = ts
                last = ts
                n += 1
        if last is not None:
            state.update((start, last, n))
        yield pd.DataFrame(
            rows, columns=["user_id", "session_start", "session_end", "n_events"]
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
