"""Radius (DWithin) join: brute-force equality, path equality, plans."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_spark.geo.knn import haversine_m_py
from osm_spark.geo.radius import plan_res, plan_ring, radius_join


def _fixture(spark, seed=7, n_pts=400, n_nodes=60, centers=((51.5, -0.13), (64.15, -21.94))):
    """Point/node clouds around two latitudes (one sub-arctic — the
    worst case for the degree→meter coverage bound)."""
    rng = np.random.RandomState(seed)
    pts, nodes = [], []
    for ci, (clat, clon) in enumerate(centers):
        for i in range(n_pts // len(centers)):
            pts.append((f"p{ci}_{i}",
                        float(clat + rng.uniform(-0.06, 0.06)),
                        float(clon + rng.uniform(-0.06, 0.06))))
        for i in range(n_nodes // len(centers)):
            nodes.append((ci * 1000 + i,
                          float(clat + rng.uniform(-0.05, 0.05)),
                          float(clon + rng.uniform(-0.05, 0.05))))
    pdf = spark.createDataFrame(pts, "url string, lat double, lon double")
    ndf = spark.createDataFrame(nodes, "id long, lat double, lon double")
    return pts, nodes, pdf, ndf


def _brute(pts, nodes, radius_m):
    out = set()
    for url, plat, plon in pts:
        for nid, nlat, nlon in nodes:
            if haversine_m_py(plat, plon, nlat, nlon) <= radius_m:
                out.add((url, nid))
    return out


@pytest.mark.parametrize("radius_m", [300.0, 1500.0, 5000.0])
def test_radius_join_equals_brute_force(spark, radius_m):
    pts, nodes, pdf, ndf = _fixture(spark)
    got = {
        (r.url, r.node_id)
        for r in radius_join(pdf, ndf, radius_m, strategy="broadcast").collect()
    }
    assert got == _brute(pts, nodes, radius_m)
    assert len(got) > 0


def test_radius_join_paths_identical(spark):
    pts, nodes, pdf, ndf = _fixture(spark, seed=11)
    kw = dict(radius_m=2000.0, max_abs_lat=65.0)
    b = {(r.url, r.node_id) for r in radius_join(pdf, ndf, strategy="broadcast", **kw).collect()}
    s = {(r.url, r.node_id) for r in radius_join(pdf, ndf, strategy="shuffle", **kw).collect()}
    assert b == s == _brute(pts, nodes, 2000.0)


def test_radius_join_explicit_res_still_exact(spark):
    # correctness must not depend on the prune resolution
    pts, nodes, pdf, ndf = _fixture(spark, seed=13)
    for res in (6, 7, 8):
        got = {
            (r.url, r.node_id)
            for r in radius_join(pdf, ndf, 1200.0, res=res, strategy="broadcast").collect()
        }
        assert got == _brute(pts, nodes, 1200.0), f"res={res}"


def test_plan_ring_and_res():
    # ring shrinks as cells coarsen; planned res keeps the disk small
    assert plan_ring(1500.0, 6, 65.0) <= plan_ring(1500.0, 8, 65.0)
    for radius in (100.0, 1000.0, 10000.0):
        res = plan_res(radius, 65.0)
        assert plan_ring(radius, res, 65.0) <= 4
    # equator needs fewer/equal cells than the arctic for the same radius
    assert plan_ring(1500.0, 8, 0.0) <= plan_ring(1500.0, 8, 64.0)


def test_radius_join_plans(spark):
    _, _, pdf, ndf = _fixture(spark)
    plan_b = radius_join(pdf, ndf, 1000.0, strategy="broadcast")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_b
    assert "CartesianProduct" not in plan_b
    plan_s = radius_join(pdf, ndf, 1000.0, strategy="shuffle")._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan_s
    assert "SortMergeJoin" not in plan_s and "CartesianProduct" not in plan_s


def test_radius_join_rejects_bad_radius(spark):
    _, _, pdf, ndf = _fixture(spark)
    with pytest.raises(ValueError):
        radius_join(pdf, ndf, 0.0)


def test_hex_disk_expr_matches_decode_reference(spark):
    # the packed-delta addition must equal re-encoding (q+dq, r+dr)
    from osm_spark.geo.hexgrid import hex_cell_expr, hex_disk_expr

    df = spark.createDataFrame(
        [(51.5, -0.12), (64.15, -21.94), (-33.87, 151.21)], "lat double, lon double"
    ).select(F.explode(F.array(hex_cell_expr("lat", "lon", 8))).alias("c"))
    rows = df.select("c", hex_disk_expr("c", 8, 3).alias("disk")).collect()
    for r in rows:
        q = (r.c >> 29) & ((1 << 29) - 1)
        rr = r.c & ((1 << 29) - 1)
        expected = {
            (r.c & ~(((1 << 29) - 1) << 29 | ((1 << 29) - 1)))
            | ((q + dq) << 29) | (rr + dr)
            for dq in range(-3, 4)
            for dr in range(max(-3, -dq - 3), min(3, -dq + 3) + 1)
        }
        assert set(r.disk) == expected and len(r.disk) == 37


def test_radius_large_radius_high_latitude_recall(spark):
    """For radii beyond ~111 km the old fixed +1° latitude margin broke
    the K-disk coverage guarantee at high latitude (a matching point
    sits poleward of the northernmost node where meters-per-degree-
    longitude is smaller than the bound used). The margin now scales
    with the radius; recall must be exact for a 250 km radius at 64°N."""
    pts, nodes, pdf, ndf = _fixture(
        spark, n_pts=120, n_nodes=20, centers=((64.15, -21.94),)
    )
    # stretch the point cloud 3° poleward so points genuinely sit beyond
    # the old +1° margin from the northernmost node
    import numpy as np
    rng = np.random.RandomState(11)
    far = [(f"far{i}", float(66.0 + rng.uniform(0, 1.0)),
            float(-21.94 + rng.uniform(-1.0, 1.0))) for i in range(60)]
    pts = pts + far
    pdf = spark.createDataFrame(pts, "url string, lat double, lon double")
    radius_m = 250_000.0
    got = {
        (r.url, r.node_id)
        for r in radius_join(pdf, ndf, radius_m, strategy="broadcast").collect()
    }
    assert got == _brute(pts, nodes, radius_m)
    # the far points must actually match (they are within 250 km)
    assert any(u.startswith("far") for u, _ in got)


def test_radius_empty_nodes_raises_clearly(spark):
    pdf = spark.createDataFrame([("p", 1.0, 2.0)], "url string, lat double, lon double")
    ndf = spark.createDataFrame([], "id long, lat double, lon double")
    with pytest.raises(ValueError, match="nodes is empty"):
        radius_join(pdf, ndf, 100.0)
