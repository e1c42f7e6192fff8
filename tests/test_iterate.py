"""Lineage truncation semantics (graph/iterate.py).

Pins both blow-up modes from BENCH.md findings #11/#12: the returned
frame must be a plan LEAF (no join/aggregate subtree survives) and its
Catalyst size statistics must come from real file sizes — bounded
across rounds — not inherited multiplied estimates (the localCheckpoint
failure: sizeInBytes digits doubled per round until BigInteger
overflow).
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

import osm_spark.graph.components as components
import osm_spark.graph.hits as hits
import osm_spark.graph.kcore as kcore
import osm_spark.graph.ktruss as ktruss
import osm_spark.graph.landmarks as landmarks
import osm_spark.graph.scc as scc
import osm_spark.graph.sssp as sssp
import osm_spark.graph.stress as stress
from osm_spark.graph.iterate import drop_truncated, fixpoint, truncate_lineage


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan()


def test_truncate_preserves_rows_and_cuts_plan_to_leaf(spark):
    df = (
        spark.range(100)
        .select(F.col("id"), (F.col("id") % 7).alias("k"))
        .groupBy("k")
        .agg(F.sum("id").alias("s"))
    )
    out = truncate_lineage(df)
    plan = _optimized(out).toString()
    assert "Aggregate" not in plan and "Join" not in plan
    assert sorted((r.k, r.s) for r in out.collect()) == sorted(
        (r.k, r.s) for r in df.collect()
    )


def test_truncated_stats_stay_bounded_across_join_rounds(spark):
    """Finding #12 regression: a 3-reference join round repeated 6 times
    must keep the truncated leaf's sizeInBytes at file-size magnitude.
    With localCheckpoint the inherited estimate compounds (observed
    7→18→41→87… digits); the parquet round-trip reads real file sizes."""
    cur = truncate_lineage(spark.range(200).select("id", (F.col("id") % 3).alias("v")))
    for _ in range(6):
        m = cur.select(F.col("id").alias("id2"), F.col("v").alias("v2"))
        nxt = truncate_lineage(
            cur.join(m, cur["id"] == m["id2"])
            .join(m.select(F.col("id2").alias("id3")), cur["id"] == F.col("id3"))
            .select("id", F.least("v", "v2").alias("v"))
        )
        drop_truncated(cur)
        cur = nxt
    size = int(_optimized(cur).stats().sizeInBytes())
    assert 0 < size < 10**9  # real file size, not a compounded estimate
    assert cur.count() == 200


def test_drop_truncated_removes_backing_files(spark):
    out = truncate_lineage(spark.range(10))
    path = out._trunc_path
    assert os.path.isdir(path)
    out.count()
    drop_truncated(out)
    assert not os.path.isdir(path)
    # no-op on a frame that was never truncated
    drop_truncated(spark.range(3))


def test_drop_truncated_under_session_checkpoint_dir(spark, tmp_path):
    """With a checkpoint dir set, truncations land under the ``file:`` URI
    ``getCheckpointDir`` returns, and drop_truncated still removes them."""
    sc = spark.sparkContext
    prev = sc._jsc.sc().checkpointDir()  # Scala Option; no public reset
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        out = truncate_lineage(spark.range(10))
        path = out._trunc_path
        assert path.startswith("file:")
        local = path.removeprefix("file:")
        assert os.path.isdir(local)
        assert out.count() == 10
        drop_truncated(out)
        assert not os.path.exists(local)
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(prev)


def test_truncate_launches_only_its_write_jobs(spark, tmp_path, count_jobs):
    """The re-read carries the written schema: no footer-inference job."""

    def build():
        return spark.range(500).select("id", (F.col("id") % 5).alias("k")).repartition(3)

    _, write_jobs = count_jobs(lambda: build().write.parquet(str(tmp_path / "p")))
    out, trunc_jobs = count_jobs(lambda: truncate_lineage(build()))
    assert trunc_jobs == write_jobs, (trunc_jobs, write_jobs)
    assert out.schema.names == ["id", "k"]
    assert sorted(r.id for r in out.collect()) == list(range(500))
    drop_truncated(out)


def test_truncate_observes_on_its_write(spark, tmp_path, count_jobs):
    """``observe`` aggregates ride the write: same jobs as the plain write,
    values on ``_observed``; empty input still fills them."""

    def build(n):
        return spark.range(n).select("id", (F.col("id") % 5 == 0).alias("hit")).repartition(3)

    _, write_jobs = count_jobs(lambda: build(500).write.parquet(str(tmp_path / "p")))
    out, trunc_jobs = count_jobs(
        lambda: truncate_lineage(build(500), n=F.count(F.lit(1)), hits=F.count_if("hit"))
    )
    assert trunc_jobs == write_jobs, (trunc_jobs, write_jobs)
    assert out._observed == {"n": 500, "hits": 100}
    empty = truncate_lineage(build(0), n=F.count(F.lit(1)))
    assert empty._observed == {"n": 0}
    assert truncate_lineage(build(3))._observed == {}
    for df in (out, empty):
        drop_truncated(df)


def test_arrow_leaf_is_a_droppable_leaf(spark):
    import pyarrow as pa
    from pyspark.sql.types import LongType, StructField, StructType

    from osm_spark.graph.iterate import arrow_leaf, local_dir

    schema = StructType([StructField("id", LongType())])
    out = arrow_leaf(spark, pa.table({"id": pa.array([3, 1, 2], pa.int64())}), schema)
    assert sorted(r.id for r in out.collect()) == [1, 2, 3]
    assert 0 < int(_optimized(out).stats().sizeInBytes()) < 10**6
    path = local_dir(out)
    assert os.path.isdir(path)
    drop_truncated(out)
    assert not os.path.exists(path)


# ------------------------------------------------------------- fixpoint


@pytest.fixture
def leaves(spark, tmp_path):
    """Truncations land under a ``tmp_path`` checkpoint dir; the fixture
    returns a function listing the ``t-*`` leaves present there."""
    sc = spark.sparkContext
    prev = sc._jsc.sc().checkpointDir()  # Scala Option; no public reset
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    root = sc.getCheckpointDir().removeprefix("file:")
    try:
        yield lambda: {n for n in os.listdir(root) if n.startswith("t-")}
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(prev)


def _leaves_of(df) -> set[str]:
    """The truncation leaves a frame reads."""
    return {
        os.path.basename(os.path.dirname(urlparse(f).path)) for f in df.inputFiles()
    }


def _plus_one(df):
    return df.select("id", (F.col("x") + 1).alias("x"))


def test_fixpoint_runs_max_iter_rounds_and_drops_superseded(spark, leaves):
    init = truncate_lineage(spark.range(4).select("id", F.lit(0).alias("x")))
    seen = []

    def step(df):
        seen.append(df)
        return _plus_one(df)

    out, converged = fixpoint(step, init, 3)
    assert converged and [r.x for r in out.collect()] == [3] * 4
    assert seen[0] is init and len(seen) == 3
    # the caller's initial state stays; every superseded round is gone
    assert leaves() == _leaves_of(init) | _leaves_of(out)
    unchanged, converged = fixpoint(step, init, 0)
    assert unchanged is init and converged
    for df in (init, out):
        drop_truncated(df)


def test_fixpoint_done_reads_observed_values(spark, leaves):
    init = spark.range(4).select("id", F.lit(0).alias("x"))
    calls = []

    def done(new, old):
        calls.append((new, old))
        return new["top"] == 2

    out, converged = fixpoint(_plus_one, init, 10, done=done, top=F.max("x"))
    assert converged and out._observed == {"top": 2}
    assert calls == [({"top": 1}, {}), ({"top": 2}, {"top": 1})]
    assert leaves() == _leaves_of(out)
    # a bound hit before ``done`` holds: the last state, not converged
    last, converged = fixpoint(_plus_one, init, 2, done=lambda new, old: False, top=F.max("x"))
    assert not converged and last._observed == {"top": 2}
    assert leaves() == _leaves_of(out) | _leaves_of(last)
    for df in (out, last):
        drop_truncated(df)


def test_fixpoint_cleans_up_when_a_round_raises(spark, leaves):
    init = truncate_lineage(spark.range(4).select("id", F.lit(0).alias("x")))
    before = leaves()

    def failing_write(df):
        # the third round's write fails inside Spark
        return df.select(
            "id",
            F.when(F.col("x") < 2, F.col("x") + 1)
            .otherwise(F.raise_error(F.lit("boom")).cast("int"))
            .alias("x"),
        )

    with pytest.raises(Exception, match="boom"):
        fixpoint(failing_write, init, 5)
    assert leaves() == before

    def failing_step(df):
        if df.first().x == 2:
            raise KeyError("boom")
        return _plus_one(df)

    with pytest.raises(KeyError):
        fixpoint(failing_step, init, 5)
    assert leaves() == before
    drop_truncated(init)


# ------------------------------------------- the loops built on fixpoint

PATH40 = [(i, i + 1) for i in range(40)]
# a 12-edge chain peels from both ends; the triangle survives as the 2-core
CHAIN12 = [(i, i + 1) for i in range(12)] + [(100, 101), (101, 102), (100, 102)]
# K4 with a pendant triangle and a tail: at k=4 the K4 is the truss
CASCADE = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4), (3, 5), (4, 5), (5, 6), (6, 7)]
CYCLE8 = [(i + 1, i) for i in range(7)] + [(0, 7)]  # floods against the ids
UP4 = [(i, i + 1) for i in range(4)]  # one singleton SCC per outer round
DOWN8 = [(i + 1, i) for i in range(8)]  # one outer round, 9 levels
WEIGHTED = [(1, 2, 10), (2, 3, 5), (3, 1, 1), (2, 4, 2), (4, 5, 7), (5, 4, 7), (3, 6, 100)]


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _weighted(spark):
    return spark.createDataFrame(WEIGHTED, "src long, dst long, w long")


# name: (edges, run(df, with a bound too small to converge))
GUARD_LOOPS = {
    "connected_components": (
        PATH40,
        lambda df, tight: components.connected_components(df, "src", "dst", max_iter=1 if tight else 50),
    ),
    "kcore": (CHAIN12, lambda df, tight: kcore.kcore(df, 2, max_iter=2 if tight else 50)),
    "ktruss": (CASCADE, lambda df, tight: ktruss.ktruss(df, 4, max_iter=1 if tight else 50)),
    "scc_min_color": (
        CYCLE8,
        lambda df, tight: scc.strongly_connected_components(df, max_prop=2 if tight else 100),
    ),
    "scc_outer": (
        UP4,
        lambda df, tight: scc.strongly_connected_components(df, max_rounds=2 if tight else 20),
    ),
    "condensation_levels": (
        DOWN8,
        lambda df, tight: scc.condensation_levels(df, max_prop=3 if tight else 100),
    ),
}


@pytest.mark.parametrize("name", list(GUARD_LOOPS))
def test_guard_loops_leave_no_leaf_behind(spark, leaves, rung, name):
    """A guard loop that raises leaves no truncation behind; one that
    converges leaves only the leaves its result reads."""
    rung(False)  # connected components: the distributed loop
    pairs, run = GUARD_LOOPS[name]
    df = _edges(spark, pairs)
    before = leaves()
    with pytest.raises(RuntimeError, match="did not"):
        run(df, True)
    assert leaves() == before
    out = run(df, False)
    assert out.count() > 0
    assert leaves() - before == _leaves_of(out)


# name: (module whose fixpoint runs the loop, call)
ROUND_LOOPS = {
    "connected_components": (
        components,
        lambda s: components.connected_components(_edges(s, PATH40), "src", "dst"),
    ),
    "kcore": (kcore, lambda s: kcore.kcore(_edges(s, CHAIN12), 2)),
    "ktruss": (ktruss, lambda s: ktruss.ktruss(_edges(s, CASCADE), 4)),
    # the min-coloring floods, then the condensation levels
    "scc": (
        scc,
        lambda s: scc.condensation_levels(
            _edges(s, [(0, 1), (1, 2), (2, 3), (3, 0), (3, 10), (10, 11)])
        ),
    ),
    "sssp": (
        sssp,
        lambda s: sssp.shortest_paths(_weighted(s), s.createDataFrame([(1,)], "id long"), 6),
    ),
    "landmarks": (landmarks, lambda s: landmarks.landmark_distances(_weighted(s), [1, 4], 6)),
    "stress": (stress, lambda s: stress.landmark_stress(_weighted(s), [1, 4], 6)),
}


@pytest.mark.parametrize("name", list(ROUND_LOOPS))
def test_loop_round_launches_only_its_write(spark, tmp_path, count_jobs, monkeypatch, rung, name):
    """Convergence is read from the round's own write: one ``fixpoint``
    round of each loop launches exactly the jobs of a plain parquet write
    of that round's frame (no count job, nothing run while building it)."""
    rung(False)
    module, call = ROUND_LOOPS[name]
    seen = []

    def spy(step, state, max_iter, *, done=None, **observe):
        frame = step(state)
        path = str(tmp_path / f"plain-{len(seen)}")
        _, plain = count_jobs(lambda: frame.write.parquet(path))
        (one, _), jobs = count_jobs(lambda: fixpoint(step, state, 1, done=done, **observe))
        drop_truncated(one)
        seen.append((jobs, plain))
        return fixpoint(step, state, max_iter, done=done, **observe)

    monkeypatch.setattr(module, "fixpoint", spy)
    call(spark).collect()
    assert seen and all(jobs == plain > 0 for jobs, plain in seen), seen


def test_hits_leaves_only_its_result(spark, leaves):
    """hits truncates its vertex set and edge list once and drops both
    after the last round: only the hub and auth leaves stay."""
    before = leaves()
    out = hits.hits(_edges(spark, [(s, d) for s, d, _ in WEIGHTED]))
    assert out.count() == 6
    assert leaves() - before == _leaves_of(out) and len(_leaves_of(out)) == 2


# name: weighted loop called with max_hops 6
NONNEGATIVE_LOOPS = {
    "sssp": lambda s, e: sssp.shortest_paths(e, s.createDataFrame([(1,)], "id long"), 6),
    "landmarks": lambda s, e: landmarks.landmark_distances(e, [1, 4], 6),
}


@pytest.mark.parametrize("name", list(NONNEGATIVE_LOOPS))
def test_negative_weights_seen_on_the_edge_write(spark, leaves, count_jobs, name):
    """The negative-weight check reads its count off the edge
    truncation's write, with no job of its own, and a rejected call
    leaves no leaf behind, a fractional -0.5 included."""
    call = NONNEGATIVE_LOOPS[name]
    before = leaves()
    out, jobs = count_jobs(lambda: call(spark, _weighted(spark)))
    assert jobs == 21
    assert leaves() - before == _leaves_of(out)
    before = leaves()
    for w in (-4, -0.5):
        bad = _weighted(spark).withColumn(
            "w", F.when(F.col("src") == 3, F.lit(w)).otherwise(F.col("w"))
        )
        with pytest.raises(ValueError, match="non-negative"):
            call(spark, bad)
        assert leaves() == before

