"""Structured Streaming: availableNow backfill ≡ batch plan; sessionize."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from osm_spark.streaming.windowed import (
    run_windowed_counts_batchlike,
    sessionize,
    windowed_counts,
)


def test_stream_equals_batch(spark, sf_small_dir):
    events_dir = f"{sf_small_dir}/events.parquet"
    batch = windowed_counts(spark.read.parquet(events_dir)).collect()
    stream = run_windowed_counts_batchlike(spark, events_dir).collect()
    key = lambda r: (r.window_start, r.event_type)
    assert sorted(map(tuple, stream)) == sorted(map(tuple, batch))
    assert len(batch) > 0


def test_windowed_counts_values(spark):
    rows = [
        (1, dt.datetime(2024, 1, 1, 10, 5), 1, "a", 1.5, "{}"),
        (2, dt.datetime(2024, 1, 1, 10, 55), 1, "a", 2.0, "{}"),
        (3, dt.datetime(2024, 1, 1, 11, 5), 1, "a", 3.0, "{}"),
        (4, dt.datetime(2024, 1, 1, 10, 30), 1, "b", 4.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {
        (r.window_start, r.event_type): (r.n_events, float(r.sum_value))
        for r in windowed_counts(df).collect()
    }
    assert got == {
        (dt.datetime(2024, 1, 1, 10, 0), "a"): (2, 3.5),
        (dt.datetime(2024, 1, 1, 11, 0), "a"): (1, 3.0),
        (dt.datetime(2024, 1, 1, 10, 0), "b"): (1, 4.0),
    }


def test_sessionize_gap_semantics(spark):
    t0 = dt.datetime(2024, 1, 1, 9, 0)
    mk = lambda i, minutes, uid: (i, t0 + dt.timedelta(minutes=minutes), uid, "e", 0.0, "{}")
    rows = [
        mk(1, 0, 1),
        mk(2, 10, 1),   # same session (gap 10m)
        mk(3, 50, 1),   # new session (gap 40m > 30m)
        mk(4, 55, 1),
        mk(5, 0, 2),    # other user: own session
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = sorted(
        (r.user_id, r.session_seq, r.session_start, r.session_end, r.n_events)
        for r in sessionize(df, gap_minutes=30).collect()
    )
    assert got == [
        (1, 0, t0, t0 + dt.timedelta(minutes=10), 2),
        (1, 1, t0 + dt.timedelta(minutes=50), t0 + dt.timedelta(minutes=55), 2),
        (2, 0, t0, t0, 1),
    ]


def test_sessionize_stream_stateful(spark, tmp_path):
    """applyInPandasWithState sessionizer: closed sessions emit, the open
    session survives in state across a query restart (checkpoint)."""
    from osm_spark.streaming.windowed import EVENTS_SCHEMA, sessionize_stream

    t0 = dt.datetime(2024, 1, 1, 9, 0)
    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sessions")
    mk = lambda i, minutes: (i, t0 + dt.timedelta(minutes=minutes), 1, "e", 0.0, "{}")

    def run_batch(rows):
        spark.createDataFrame(rows, EVENTS_SCHEMA).write.mode("append").parquet(src)
        q = (
            sessionize_stream(
                spark.readStream.schema(EVENTS_SCHEMA).parquet(src), gap_minutes=30
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in spark.read.parquet(sink).collect()
        )

    # batch 1: one closed session (events 1,2), one open (event 3)
    assert run_batch([mk(1, 0), mk(2, 10), mk(3, 50)]) == [
        (1, t0, t0 + dt.timedelta(minutes=10), 2)
    ]
    # batch 2 (restart from checkpoint): event 4 closes the open session
    assert run_batch([mk(4, 130)]) == [
        (1, t0, t0 + dt.timedelta(minutes=10), 2),
        (1, t0 + dt.timedelta(minutes=50), t0 + dt.timedelta(minutes=50), 1),
    ]


def test_sessionize_boundary_exact_gap_is_same_session(spark):
    """Gap strictly greater than the threshold splits; equal does not."""
    t0 = dt.datetime(2024, 1, 1, 9, 0)
    rows = [
        (1, t0, 1, "e", 0.0, "{}"),
        (2, t0 + dt.timedelta(minutes=30), 1, "e", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = sessionize(df, gap_minutes=30).collect()
    assert len(got) == 1 and got[0].n_events == 2


def test_trending_stream_equals_batch(spark, sf_small_dir):
    """The availableNow streaming trending plan must produce exactly the
    batch plan's result on the same documents (stream ≡ batch)."""
    from osm_spark.streaming.trending import (
        rank_trending,
        run_trending_batchlike,
        trending_term_counts,
        with_synthetic_ts,
    )

    docs_path = f"{sf_small_dir}/documents.parquet"
    got = (
        run_trending_batchlike(spark, docs_path, k=3)
        .orderBy("window_start", "rank")
        .collect()
    )
    batch = (
        rank_trending(
            trending_term_counts(
                with_synthetic_ts(spark.read.parquet(docs_path))
            ),
            k=3,
        )
        .orderBy("window_start", "rank")
        .collect()
    )
    assert len(got) > 0
    assert got == batch
    # exactly k rows per window, ranks 1..k, counts non-increasing
    by_w = {}
    for r in got:
        by_w.setdefault(r.window_start, []).append(r)
    for rows in by_w.values():
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        ns = [r.n for r in rows]
        assert ns == sorted(ns, reverse=True)


def test_rank_trending_tie_breaks_on_term(spark):
    import pandas as pd

    from osm_spark.streaming.trending import rank_trending

    t = pd.Timestamp("2024-01-01")
    counts = spark.createDataFrame(
        pd.DataFrame(
            [
                {"window_start": t, "term": "zebra", "n": 5},
                {"window_start": t, "term": "apple", "n": 5},
                {"window_start": t, "term": "mango", "n": 7},
            ]
        )
    )
    got = rank_trending(counts, k=2).orderBy("rank").collect()
    assert [(r.term, r.rank) for r in got] == [("mango", 1), ("apple", 2)]
