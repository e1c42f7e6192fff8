"""Overlay (polygon × polygon intersects) join vs numpy brute force."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_spark.geo.overlay import overlay_join
from osm_spark.pipeline.geometry import (
    build_way_cells,
    synth_polygons,
    synth_polygons_pdf,
)


def _np_intersects(avlat, avlon, bvlat, bvlon) -> bool:
    """Same predicate as polygons_intersect_expr, straight-line numpy."""
    from osm_spark.geo.hexgrid import points_in_polygon_np

    na, nb = len(avlat), len(bvlat)
    for i in range(na):
        p1x, p1y = avlon[i], avlat[i]
        p2x, p2y = avlon[(i + 1) % na], avlat[(i + 1) % na]
        for j in range(nb):
            q1x, q1y = bvlon[j], bvlat[j]
            q2x, q2y = bvlon[(j + 1) % nb], bvlat[(j + 1) % nb]
            d1 = (p2x - p1x) * (q1y - p1y) - (p2y - p1y) * (q1x - p1x)
            d2 = (p2x - p1x) * (q2y - p1y) - (p2y - p1y) * (q2x - p1x)
            d3 = (q2x - q1x) * (p1y - q1y) - (q2y - q1y) * (p1x - q1x)
            d4 = (q2x - q1x) * (p2y - q1y) - (q2y - q1y) * (p2x - q1x)
            if d1 * d2 < 0 and d3 * d4 < 0:
                return True
    a_in_b = points_in_polygon_np(
        np.asarray(avlon), np.asarray(avlat),
        np.asarray(bvlon), np.asarray(bvlat),
    ).any()
    b_in_a = points_in_polygon_np(
        np.asarray(bvlon), np.asarray(bvlat),
        np.asarray(avlon), np.asarray(avlat),
    ).any()
    return bool(a_in_b or b_in_a)


@pytest.fixture(scope="module")
def fixtures(spark):
    pa = synth_polygons(spark)  # 80 rings, seed 42
    pb = synth_polygons(spark, n_per_city=5, seed=1234)
    ca = build_way_cells(pa).persist()
    cb = build_way_cells(pb).persist()
    pdf_a = synth_polygons_pdf()
    pdf_b = synth_polygons_pdf(n_per_city=5, seed=1234)
    return pa, pb, ca, cb, pdf_a, pdf_b


def _brute_pairs(pdf_a, pdf_b, self_join=False):
    out = set()
    for ra in pdf_a.itertuples():
        for rb in pdf_b.itertuples():
            if self_join and not ra.way_id < rb.way_id:
                continue
            if _np_intersects(ra.vlat, ra.vlon, rb.vlat, rb.vlon):
                out.add((ra.way_id, rb.way_id))
    return out


def test_overlay_matches_brute_force(fixtures):
    pa, pb, ca, cb, pdf_a, pdf_b = fixtures
    expected = _brute_pairs(pdf_a, pdf_b)
    got = {
        (r.a_id, r.b_id)
        for r in overlay_join(pa, pb, ca, cb, strategy="broadcast").collect()
    }
    assert len(expected) > 20  # fixture genuinely overlaps
    assert got == expected


def test_overlay_shuffle_equals_broadcast(fixtures):
    pa, pb, ca, cb, *_ = fixtures
    b = set(map(tuple, overlay_join(pa, pb, ca, cb, strategy="broadcast").collect()))
    s = set(map(tuple, overlay_join(pa, pb, ca, cb, strategy="shuffle").collect()))
    assert b == s


def test_overlay_self_join(fixtures):
    pa, _, ca, _, pdf_a, _ = fixtures
    expected = _brute_pairs(pdf_a, pdf_a, self_join=True)
    got = {
        (r.a_id, r.b_id)
        for r in overlay_join(pa, pa, ca, ca, strategy="broadcast", self_join=True).collect()
    }
    assert got == expected
    assert all(a < b for a, b in got)


def test_overlay_contained_ring_detected(spark):
    # B strictly inside A: no edge crossing — only the containment arm fires.
    pa = spark.createDataFrame(
        [(1, [0.0, 0.0, 10.0, 10.0], [0.0, 10.0, 10.0, 0.0])],
        "way_id long, vlat array<double>, vlon array<double>",
    )
    pb = spark.createDataFrame(
        [(2, [4.0, 4.0, 6.0, 6.0], [4.0, 6.0, 6.0, 4.0]),
         (3, [40.0, 40.0, 41.0, 41.0], [40.0, 41.0, 41.0, 40.0])],
        "way_id long, vlat array<double>, vlon array<double>",
    )
    ca, cb = build_way_cells(pa, res=2), build_way_cells(pb, res=2)
    got = overlay_join(pa, pb, ca, cb).collect()
    assert [(r.a_id, r.b_id) for r in got] == [(1, 2)]


def test_overlay_shuffle_plan_has_no_cartesian(fixtures):
    pa, pb, ca, cb, *_ = fixtures
    plan = overlay_join(pa, pb, ca, cb, strategy="shuffle")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dissolve_transitive_clusters(spark):
    # Chain A-B-C overlap pairwise-adjacent (A∩B, B∩C, A∩C=∅) + isolated D:
    # dissolve must merge {A,B,C} and leave D a singleton keeper.
    from osm_spark.geo.overlay import dissolve

    polys = spark.createDataFrame(
        [
            (1, [0.0, 0.0, 1.0, 1.0], [0.0, 1.0, 1.0, 0.0]),
            (2, [0.5, 0.5, 1.5, 1.5], [0.5, 1.5, 1.5, 0.5]),
            (3, [1.2, 1.2, 2.2, 2.2], [1.2, 2.2, 2.2, 1.2]),
            (4, [50.0, 50.0, 51.0, 51.0], [50.0, 51.0, 51.0, 50.0]),
        ],
        "way_id long, vlat array<double>, vlon array<double>",
    )
    cells = build_way_cells(polys, res=3)
    out = {r.way_id: r for r in dissolve(polys, cells).collect()}
    assert {out[i].cluster_id for i in (1, 2, 3)} == {1}
    assert out[4].cluster_id == 4 and out[4].is_keeper and out[4].cluster_size == 1
    assert out[1].is_keeper and not out[2].is_keeper and out[1].cluster_size == 3


def test_overlay_detects_nonfirst_vertex_touch(spark):
    """Shared-border adjacency where only a NON-first vertex of A lies on
    B's boundary (no proper edge crossing, neither first vertex inside
    the other) — the case the first-vertex-only containment arm missed.
    Exactly-equal node coordinates on shared OSM borders make this
    common, not measure-zero."""
    # B: unit square [0,1]x[0,1]. A: triangle far right of B except its
    # SECOND vertex, which touches B's right edge at (0.5, 1.0).
    a = (3001, [2.0, 0.5, 2.0], [3.0, 1.0, 5.0])     # (lat, lon) vertices
    b = (3002, [0.0, 0.0, 1.0, 1.0], [0.0, 1.0, 1.0, 0.0])
    polys = spark.createDataFrame(
        [a, b], "way_id long, vlat array<double>, vlon array<double>"
    )
    cells = build_way_cells(polys, res=3)
    pa = polys.filter(F.col("way_id") == 3001)
    pb = polys.filter(F.col("way_id") == 3002)
    ca = cells.filter(F.col("way_id") == 3001)
    cb = cells.filter(F.col("way_id") == 3002)
    got = {
        (r.a_id, r.b_id)
        for r in overlay_join(pa, pb, ca, cb, strategy="broadcast").collect()
    }
    assert got == {(3001, 3002)}
    # sanity: the numpy oracle agrees under the all-vertex arms
    assert _np_intersects(a[1], a[2], b[1], b[2])


def test_overlay_broadcast_path_broadcasts_only_b_vertex_dim(fixtures):
    """'broadcast' asserts only B is small: B's covering and vertex dims
    broadcast, but A's vertex dim (the potentially-10^8-way side) must
    hash-join onto the pair list, never broadcast."""
    pa, pb, ca, cb, *_ = fixtures
    plan = (
        overlay_join(pa, pb, ca, cb, strategy="broadcast")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ShuffledHashJoin [a_id" in plan
    for sub in plan.split("BroadcastExchange")[1:]:
        assert "avlat" not in sub[:600], plan


def test_overlay_salted_equals_unsalted(fixtures):
    """The two-side-salted vertex attach is a schedule change only: with
    a hot-cell plan covering the fixture's densest cells (tiny target so
    the plan is non-empty), the shuffle path must return exactly the
    unsalted pairs."""
    from osm_spark.geo.overlay import overlay_salt_plan

    pa, pb, ca, cb, *_ = fixtures
    salts = overlay_salt_plan(ca, cb, target=4)
    assert salts.count() > 0  # the plan genuinely fires on this fixture
    plain = set(map(tuple, overlay_join(pa, pb, ca, cb, strategy="shuffle").collect()))
    salted = set(
        map(
            tuple,
            overlay_join(pa, pb, ca, cb, strategy="shuffle", salts=salts).collect(),
        )
    )
    assert salted == plain


def test_overlay_salted_plan_joins_on_id_salt(fixtures):
    """Plan pin for the big × big path: with a salt plan both vertex
    attaches are ShuffledHashJoins on (id, _vsalt) — a plain polygon-id
    key would re-concentrate a hot polygon's whole pair mass on one
    task — and no BroadcastExchange carries vertex arrays (only the
    way-salt dims broadcast)."""
    import re

    from osm_spark.geo.overlay import overlay_salt_plan

    pa, pb, ca, cb, *_ = fixtures
    salts = overlay_salt_plan(ca, cb, target=4)
    plan = (
        overlay_join(pa, pb, ca, cb, strategy="shuffle", salts=salts)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert re.search(r"ShuffledHashJoin \[a_id#\d+L?, _vsalt", plan), plan
    assert re.search(r"ShuffledHashJoin \[b_id#\d+L?, _vsalt", plan), plan
    for sub in plan.split("BroadcastExchange")[1:]:
        head = sub[:600]
        assert "avlat" not in head and "bvlat" not in head, plan


def test_overlay_salts_rejected_on_broadcast_path(fixtures):
    pa, pb, ca, cb, *_ = fixtures
    from osm_spark.geo.overlay import overlay_salt_plan

    with pytest.raises(ValueError):
        overlay_join(
            pa, pb, ca, cb, strategy="broadcast",
            salts=overlay_salt_plan(ca, cb, target=4),
        )
