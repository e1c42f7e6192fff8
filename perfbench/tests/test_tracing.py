"""Span arithmetic and the event-log fold."""

from __future__ import annotations

import pytest

from tracing import Span, Tracer, event_log_files, fold_event_log, self_times


def test_self_time_subtracts_merged_children():
    spans = [
        Span(1, "op", None, 1, 0.0, 10.0),
        Span(2, "a", 1, 1, 1.0, 4.0),
        Span(3, "b", 1, 1, 3.0, 6.0),  # overlaps a: the union 1..6 counts once
        Span(4, "c", 1, 1, 8.0, 12.0),  # runs past the parent: clipped at 10
        Span(5, "a.x", 2, 1, 1.5, 2.0),  # grandchild: only a's self time moves
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(3.0)
    assert st[5] == pytest.approx(0.5)


def test_nested_spans_share_the_op_and_wrap_restores():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    tr = Tracer()
    tr.wrap(mod, "f", "layer.f", capture=True, after=lambda r: r * 10)
    with tr.span("op:x") as op:
        assert mod.f(1) == 2
    tr.unwrap_all()
    assert mod.f(1) == 2 and not hasattr(mod.f, "__wrapped__")
    inner = tr.spans[1]
    assert (inner.name, inner.parent, inner.op, inner.value) == ("layer.f", op.id, op.id, 20)
    assert tr.captured["layer.f"] == 2


def test_every_job_of_a_traced_pip_join_maps_to_a_span(spark, event_log_dir):
    from bench import force
    from osm_spark.pipeline.geometry import build_way_cells, synth_polygons
    from osm_spark.pipeline.spatial_join import pip_join
    from pyspark.sql import functions as F

    tr = Tracer(sc=spark.sparkContext)
    polygons = synth_polygons(spark)
    pts = spark.range(2000).select(
        F.col("id").cast("string").alias("url"),
        (51.45 + F.rand(1) * 0.1).alias("lat"),
        (-0.18 + F.rand(2) * 0.1).alias("lon"),
    )
    from osm_spark.geo.hexgrid import hex_cell_expr

    pts = pts.withColumn("h3_9", hex_cell_expr("lat", "lon", 9))
    # the session is shared: earlier tests' jobs ran outside any span
    _, before = fold_event_log(event_log_files(event_log_dir))
    with tr.span("op:pip_join"):
        with tr.span("geometry.covering"):
            wc = spark.createDataFrame(
                build_way_cells(polygons).collect(), "way_id long, cell long"
            )
        with tr.span("spatial_join.pip_join"):
            df = pip_join(pts, polygons, wc, strategy="auto")
        with tr.span("spatial_join.force"):
            force(df)
    stats, unattributed = fold_event_log(event_log_files(event_log_dir))
    ids = {s.id for s in tr.spans}
    mine = {sid: js for sid, js in stats.items() if sid in ids}
    assert unattributed == before
    assert sum(js.jobs for js in mine.values()) >= 2
    # the forced join ran tasks and they were summed under its span
    force_span = tr.spans[-1]
    assert mine[force_span.id].tasks > 0
    assert mine[force_span.id].task_run_s > 0
