"""Reverse geocode: smallest containing polygon wins."""

import pytest

from osm_spark.geo.geocode import reverse_geocode
from osm_spark.pipeline.geometry import build_way_cells
from osm_spark.pipeline.pages import synth_pages
from osm_spark.pipeline.spatial_join import extract_points


@pytest.fixture(scope="module")
def points(spark, sf_small_dir):
    return extract_points(synth_pages(spark, sf_small_dir)).cache()


def test_smallest_containing_polygon_wins(spark):
    # Nested squares around the origin: big (way 1) ⊃ small (way 2);
    # way 3 is far away. Point at origin must geocode to way 2.
    polys = spark.createDataFrame(
        [
            (1, [-1.0, -1.0, 1.0, 1.0], [-1.0, 1.0, 1.0, -1.0]),
            (2, [-0.1, -0.1, 0.1, 0.1], [-0.1, 0.1, 0.1, -0.1]),
            (3, [40.0, 40.0, 41.0, 41.0], [40.0, 41.0, 41.0, 40.0]),
        ],
        "way_id long, vlat array<double>, vlon array<double>",
    )
    from osm_spark.geo.hexgrid import hex_cell_expr

    pts = spark.createDataFrame(
        [("p0", 0.0, 0.0), ("p1", 0.5, 0.5), ("p2", 40.5, 40.5), ("p3", 10.0, 10.0)],
        "url string, lat double, lon double",
    ).withColumn("h3_9", hex_cell_expr("lat", "lon", 9))
    out = {
        r.url: r.way_id
        for r in reverse_geocode(
            pts, polys, build_way_cells(polys), strategy="broadcast"
        ).collect()
    }
    # p0 in both 1 and 2 -> smaller (2); p1 only in 1; p2 in 3; p3 nowhere.
    assert out == {"p0": 2, "p1": 1, "p2": 3}


def test_reverse_geocode_salted_matches_broadcast(spark, points):
    """The salted path (two-side-salted vertex AND area attaches) must
    return the identical pick set as the broadcast path on the shared
    skewed fixture."""
    from osm_spark.pipeline.geometry import synth_polygons

    polys = synth_polygons(spark)
    wc = build_way_cells(polys).cache()
    bc = {
        (r.url, r.way_id)
        for r in reverse_geocode(points, polys, wc, strategy="broadcast").collect()
    }
    sj = {
        (r.url, r.way_id)
        for r in reverse_geocode(points, polys, wc, strategy="salted").collect()
    }
    assert sj == bc and len(bc) > 20


def test_reverse_geocode_adaptive_rungs_match(spark, points, monkeypatch):
    """When the flat covering estimate exceeds the ceiling, auto must
    climb to the adaptive rungs (broadcast, then salted) and return the
    identical smallest-polygon picks."""
    import osm_spark.pipeline.spatial_join as sj_mod
    from osm_spark.pipeline.geometry import synth_polygons

    polys = synth_polygons(spark)
    wc = build_way_cells(polys).cache()
    want = {
        (r.url, r.way_id)
        for r in reverse_geocode(points, polys, wc, strategy="broadcast").collect()
    }
    flat_est = sj_mod.estimate_covering_cells(polys)
    capped = sj_mod.estimate_covering_cells(polys, cap=8)
    assert capped < flat_est
    # rung 2: flat too big, capped fits
    monkeypatch.setattr(sj_mod, "BROADCAST_MAX_CELLS", (capped + flat_est) // 2)
    got2 = {
        (r.url, r.way_id)
        for r in reverse_geocode(points, polys, budget=8).collect()
    }
    assert got2 == want
    # rung 3: even the capped estimate exceeds the ceiling -> adaptive salted
    monkeypatch.setattr(sj_mod, "BROADCAST_MAX_CELLS", capped // 2)
    got3 = {
        (r.url, r.way_id)
        for r in reverse_geocode(points, polys, budget=8).collect()
    }
    assert got3 == want
