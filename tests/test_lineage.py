"""Checkpointed flagship pipeline: lineage metrics + mid-job resume."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from osm_spark.pipeline.flagship import run_flagship


def test_flagship_checkpointed_and_resumable(spark, sf_small_dir, tmp_path):
    out = str(tmp_path / "flagship")

    res1 = run_flagship(spark, sf_small_dir, out)
    assert not res1["pip"].skipped
    pip_rows = res1["pip"].df.count()
    assert pip_rows > 50
    assert res1["tiles"].df.count() > 0

    # Lineage has per-file row counts for every stage.
    lin = res1["log"].lineage()
    stages = {r.stage for r in lin.collect()}
    assert stages == {"pages", "points", "way_cells", "pip", "tiles"}
    pip_lineage = (
        lin.filter((F.col("stage") == "pip") & (~F.col("skipped")))
        .agg(F.sum("output_rows"))
        .collect()[0][0]
    )
    assert pip_lineage == pip_rows

    # Full resume: nothing recomputes.
    res2 = run_flagship(spark, sf_small_dir, out)
    assert all(res2[s].skipped for s in ["pages", "points", "way_cells", "pip", "tiles"])
    assert res2["pip"].df.count() == pip_rows

    # Mid-job kill: drop the last two stage outputs; only they recompute.
    shutil.rmtree(f"{out}/stages/pip")
    shutil.rmtree(f"{out}/stages/tiles")
    res3 = run_flagship(spark, sf_small_dir, out)
    assert res3["pages"].skipped and res3["points"].skipped and res3["way_cells"].skipped
    assert not res3["pip"].skipped and not res3["tiles"].skipped
    assert res3["pip"].df.count() == pip_rows


def test_write_partitioned_layout(spark, sf_small_dir, tmp_path):
    """Bounded deterministic file counts per partition dir, in-file sort
    order, and a footer-derived row-count manifest."""
    import pyarrow.parquet as pq

    from osm_spark.pipeline.sinks import write_partitioned

    docs = spark.read.parquet(f"{sf_small_dir}/documents.parquet")
    out = str(tmp_path / "by_lang")
    manifest = write_partitioned(
        docs, out, ["lang"], files_per_partition=2, sort_cols=["doc_id"]
    )
    assert sum(n for _f, n in manifest) == docs.count()
    langs = {r.lang for r in docs.select("lang").distinct().collect()}
    by_dir = {}
    for f, n in manifest:
        by_dir.setdefault(f.split("/")[0], []).append((f, n))
    assert set(by_dir) == {f"lang={l}" for l in langs}
    for d, files in by_dir.items():
        assert 1 <= len(files) <= 2, (d, files)
    # in-file ordering: doc_id ascending within each file
    f0 = manifest[0][0]
    ids = pq.read_table(f"{out}/{f0}", columns=["doc_id"])["doc_id"].to_pylist()
    assert ids == sorted(ids)
    # deterministic layout on rewrite
    manifest2 = write_partitioned(
        docs, out, ["lang"], files_per_partition=2, sort_cols=["doc_id"]
    )
    assert sorted(n for _f, n in manifest) == sorted(n for _f, n in manifest2)


def test_lineage_log_mode_validation(spark, tmp_path):
    """Exactly one of base_dir / table_prefix must be set (ADVICE r2)."""
    import pytest as _pytest

    from osm_spark.pipeline.lineage import LineageLog

    with _pytest.raises(ValueError):
        LineageLog(spark)
    with _pytest.raises(ValueError):
        LineageLog(spark, base_dir=str(tmp_path), table_prefix="both")


def test_resumed_flagship_launches_one_job_per_skipped_stage(
    spark, sf_small_dir, tmp_path, count_jobs
):
    """A resume reads each checkpoint back (one footer-inference job per
    stage) and writes its lineage rows on the driver: no Spark job for
    the lineage log, so 5 jobs for the 5 skipped stages."""
    out = str(tmp_path / "flagship")
    run_flagship(spark, sf_small_dir, out)
    res, n_jobs = count_jobs(lambda: run_flagship(spark, sf_small_dir, out))
    assert all(res[s].skipped for s in ["pages", "points", "way_cells", "pip", "tiles"])
    assert n_jobs <= 5, n_jobs
    parts = [f for f in os.listdir(f"{out}/lineage") if not f.startswith((".", "_"))]
    assert len(parts) == 10  # one driver-written part file per stage and run
    skipped = res["log"].lineage().filter(F.col("skipped")).collect()
    assert {r.stage for r in skipped} == {"pages", "points", "way_cells", "pip", "tiles"}
    assert all(r.run_id == res["log"].run_id for r in skipped)


def test_fresh_stage_launches_only_its_write_jobs(spark, tmp_path, count_jobs):
    """A fresh parquet-mode stage costs exactly what its own write costs:
    no lineage-append job and no footer-read job on the re-read."""
    from osm_spark.pipeline.lineage import LineageLog

    def build():
        return spark.range(1000).select("id", (F.col("id") % 7).alias("k")).repartition(3)

    _, write_jobs = count_jobs(lambda: build().write.parquet(str(tmp_path / "plain")))
    log = LineageLog(spark, base_dir=str(tmp_path / "run"))
    res, stage_jobs = count_jobs(lambda: log.run_stage("s", build))
    assert stage_jobs == write_jobs, (stage_jobs, write_jobs)
    assert res.output_rows == 1000
    assert res.df.schema.names == ["id", "k"]
    assert res.df.count() == 1000
    lin = log.lineage().collect()
    assert sum(r.output_rows for r in lin) == 1000
    assert {r.partition_file for r in lin} == {
        f for f in os.listdir(tmp_path / "run" / "stages" / "s") if f.endswith(".parquet")
    }


def test_resume_over_spark_written_lineage(spark, tmp_path):
    """An out_dir whose lineage/ already holds Spark-written part files
    (the earlier writer) still resumes, and lineage() returns the old
    rows and the new driver-written ones together."""
    from osm_spark.pipeline.lineage import LineageLog

    base = str(tmp_path / "mixed")
    LineageLog(spark, base_dir=base).run_stage("s", lambda: spark.range(50))
    spark.createDataFrame(
        [("old_run", "s", "part-old.parquet", 50, 7, False)],
        "run_id string, stage string, partition_file string, "
        "output_rows long, wall_ms long, skipped boolean",
    ).write.mode("append").parquet(f"{base}/lineage")

    log = LineageLog(spark, base_dir=base)
    res = log.run_stage("s", lambda: spark.range(0))
    assert res.skipped and res.df.count() == 50
    rows = log.lineage().collect()
    assert {r.run_id for r in rows} >= {"old_run", log.run_id}
    assert [r.skipped for r in rows if r.run_id == log.run_id] == [True]
    assert [r.output_rows for r in rows if r.run_id == "old_run"] == [50]
