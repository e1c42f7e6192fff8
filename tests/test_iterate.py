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

from pyspark.sql import functions as F

from osm_spark.graph.iterate import drop_truncated, truncate_lineage


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
