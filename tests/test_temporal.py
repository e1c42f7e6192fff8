"""As-of join semantics: inclusive match, carry-forward, no-prior NULLs."""

from __future__ import annotations

import datetime as dt

from osm_spark.pipeline.temporal import asof_join


def test_asof_join_semantics(spark):
    t = lambda m: dt.datetime(2024, 1, 1, 9, m)
    left = spark.createDataFrame(
        [(1, 1, t(10)), (2, 1, t(20)), (3, 1, t(5)), (4, 2, t(30))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, t(10), 100), (1, t(15), 101), (2, t(40), 102)],
        "user_id long, ts timestamp, purchase_id long",
    )
    got = {
        r.event_id: (r.purchase_id, r.asof_ts)
        for r in asof_join(left, right, "user_id", "ts", "ts", ["purchase_id"]).collect()
    }
    assert got == {
        1: (100, t(10)),   # inclusive: right.ts == left.ts matches
        2: (101, t(15)),   # latest at-or-before wins
        3: (None, None),   # no prior right row
        4: (None, None),   # right row is after left
    }


def test_asof_join_duplicate_right_ts_deterministic(spark):
    """Duplicate (key, ts) right rows: the greatest right struct wins,
    every run (tertiary sort key, no dedupe precondition)."""
    t = lambda m: dt.datetime(2024, 1, 1, 9, m)
    left = spark.createDataFrame(
        [(1, 1, t(20))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, t(10), 100), (1, t(10), 103), (1, t(10), 101)],
        "user_id long, ts timestamp, purchase_id long",
    )
    for _ in range(3):
        [r] = asof_join(
            left, right.repartition(4), "user_id", "ts", "ts", ["purchase_id"]
        ).collect()
        assert (r.purchase_id, r.asof_ts) == (103, t(10))


def test_asof_join_keeps_all_left_rows(spark, sf_med_dir):
    e = spark.read.parquet(f"{sf_med_dir}/events.parquet")
    from pyspark.sql import functions as F

    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("purchase_id"))
    )
    out = asof_join(clicks, purchases, "user_id", "ts", "ts", ["purchase_id"])
    assert out.count() == clicks.count()


def test_range_join_matches_bruteforce(spark):
    """Bucketed interval join == brute-force theta join on random-ish
    intervals, including zero-width and bucket-straddling ones."""
    import random

    rnd = random.Random(7)
    intervals = [
        (i, float(s := rnd.randint(0, 1000)), float(s + rnd.randint(0, 80)))
        for i in range(60)
    ]
    points = [(j, float(rnd.randint(-10, 1100))) for j in range(300)]
    right = spark.createDataFrame(intervals, "ival_id long, lo double, hi double")
    left = spark.createDataFrame(points, "pt_id long, p double")

    from osm_spark.pipeline.temporal import range_join

    got = {
        (r.pt_id, r.ival_id)
        for r in range_join(left, right, "p", "lo", "hi").collect()
    }
    exp = {
        (j, i)
        for j, p in points
        for i, lo, hi in intervals
        if lo <= p <= hi
    }
    assert got == exp
    # explicit width takes the same path
    got2 = {
        (r.pt_id, r.ival_id)
        for r in range_join(left, right, "p", "lo", "hi", bucket_width=13.0).collect()
    }
    assert got2 == exp


def test_range_join_plan_has_no_cartesian(spark):
    right = spark.createDataFrame([(1, 0.0, 10.0)], "ival_id long, lo double, hi double")
    left = spark.createDataFrame([(1, 5.0)], "pt_id long, p double")
    from osm_spark.pipeline.temporal import range_join

    plan = range_join(left, right, "p", "lo", "hi", 5.0)._jdf.queryExecution().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_range_join_zero_width_intervals_safe(spark):
    """ADVICE r2: a zero median interval width must not clamp to 1e-9
    (which would explode F.sequence to ~width/1e-9 rows per real
    interval). Mostly-point intervals fall back to the p90 width; the
    all-point corpus degenerates to an equi-join. Results stay exact."""
    from osm_spark.pipeline.temporal import range_join

    # 90% point intervals + a few real ones → median width is 0
    right = spark.createDataFrame(
        [(i, float(i), float(i)) for i in range(90)]
        + [(100 + i, i * 10.0, i * 10.0 + 25.0) for i in range(10)],
        "rid long, lo double, hi double",
    )
    left = spark.createDataFrame(
        [(i, float(i)) for i in range(0, 100, 7)], "pid long, p double"
    )
    got = {
        (r.pid, r.rid)
        for r in range_join(left, right, "p", "lo", "hi").collect()
    }
    want = {
        (pl, rr)
        for pl, pv in [(i, float(i)) for i in range(0, 100, 7)]
        for rr, lo, hi in (
            [(i, float(i), float(i)) for i in range(90)]
            + [(100 + i, i * 10.0, i * 10.0 + 25.0) for i in range(10)]
        )
        if lo <= pv <= hi
    }
    assert got == want

    # all-point intervals: equi-join fallback, still exact
    right_pts = spark.createDataFrame(
        [(i, float(i), float(i)) for i in range(50)], "rid long, lo double, hi double"
    )
    got2 = {
        (r.pid, r.rid)
        for r in range_join(left, right_pts, "p", "lo", "hi").collect()
    }
    assert got2 == {(i, i) for i in range(0, 50, 7)}
