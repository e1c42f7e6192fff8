"""End-to-end flagship pipeline tests vs a pure-Python oracle.

Covers the north_rule invariants: byte-identical extracted text per url,
exact-match PIP join rows, exact-match tile assignments.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_spark.functions import strip_html
from osm_spark.geo.extract import extract_coords_py
from osm_spark.geo.hexgrid import hex_cell_np, points_in_polygon_np
from osm_spark.geo.s2 import s2_cell_np
from osm_spark.geo.tiles import tile_xy, tile_xy_py
from osm_spark.pipeline.geometry import build_way_cells, synth_polygons, synth_polygons_pdf
from osm_spark.pipeline.pages import synth_pages
from osm_spark.pipeline.spatial_join import (
    extract_points,
    pip_join,
    pip_join_broadcast,
    pip_join_salted,
    salt_plan,
)


@pytest.fixture(scope="module")
def pages(spark, sf_small_dir):
    return synth_pages(spark, sf_small_dir).cache()


@pytest.fixture(scope="module")
def points(spark, pages):
    return extract_points(pages).cache()


def test_pages_shape_and_determinism(spark, sf_small_dir, pages):
    rows = pages.count()
    assert rows == 500
    assert pages.select("url").distinct().count() == rows
    assert [f.name for f in pages.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang",
    ]
    # Determinism: a second synthesis is byte-identical per url.
    again = synth_pages(spark, sf_small_dir)
    diff = (
        pages.select("url", "text")
        .join(again.select("url", F.col("text").alias("t2")), "url")
        .filter(F.col("text") != F.col("t2"))
        .count()
    )
    assert diff == 0


def test_text_byte_identical_invariant(pages):
    """strip_html(decode(html)) == text, byte for byte (BASELINE.json:15)."""
    bad = (
        pages.withColumn("rt", strip_html(F.decode("html", "UTF-8")))
        .filter(F.col("rt") != F.col("text"))
        .count()
    )
    assert bad == 0


def test_extraction_matches_python_oracle(pages, points):
    """Every output column against its reference: (lat, lon) against the
    pure-Python grammar, ``h3_9`` against ``hex_cell_np`` and ``s2_13``
    against ``s2_cell_np``, bit-exact."""
    got = {r.url: (r.lat, r.lon) for r in points.collect()}
    for row in pages.select("url", "text").collect():
        lat, lon = extract_coords_py(row.text)
        if lat is None:
            assert row.url not in got
        else:
            assert got[row.url] == (lat, lon), row.url
    # ~60% of pages carry a coordinate.
    assert 0.5 < len(got) / 500 < 0.7

    rows = extract_points(pages, with_s2=True).collect()
    assert sorted((r.url, r.lat, r.lon) for r in rows) == sorted(
        (u, la, lo) for u, (la, lo) in got.items()
    )
    lat = np.array([r.lat for r in rows])
    lon = np.array([r.lon for r in rows])
    assert [r.h3_9 for r in rows] == hex_cell_np(lat, lon, 9).tolist()
    assert [r.s2_13 for r in rows] == s2_cell_np(lat, lon, 13).tolist()


def oracle_pip(points_rows, polys_pdf):
    """Pure-Python/numpy PIP oracle over all (point, polygon) pairs."""
    exp = set()
    lats = np.array([r.lat for r in points_rows])
    lons = np.array([r.lon for r in points_rows])
    urls = [r.url for r in points_rows]
    for _, poly in polys_pdf.iterrows():
        inside = points_in_polygon_np(
            lons, lats, np.array(poly["vlon"]), np.array(poly["vlat"])
        )
        for i in np.nonzero(inside)[0]:
            exp.add((urls[i], poly["way_id"]))
    return exp


def test_pip_join_exact_match_vs_oracle(spark, points, pages):
    polys = synth_polygons(spark)
    got = {(r.url, r.way_id) for r in pip_join(points, polys).collect()}
    exp = oracle_pip(points.collect(), synth_polygons_pdf())
    assert got == exp
    assert len(exp) > 50  # fixture actually exercises the join


def test_pip_salted_equals_broadcast(spark, points):
    polys = synth_polygons(spark)
    wc = build_way_cells(polys).cache()
    bc = {(r.url, r.way_id) for r in pip_join_broadcast(points, polys, wc).collect()}
    # Force salting for every cell with >2 points to exercise the path.
    salts = salt_plan(points, target=2)
    assert salts.count() > 0
    sj = {(r.url, r.way_id) for r in pip_join_salted(points, polys, wc, salts).collect()}
    assert sj == bc


# A 0.5°-wide square (~10^5 res-9 cells) pushes the flat covering
# estimate well past the budget-capped one.
BIG_SQUARE = ([51.3, 51.3, 51.8, 51.8], [-0.4, 0.1, 0.1, -0.4])
HOLE = ([51.49, 51.49, 51.51, 51.51], [-0.15, -0.12, -0.12, -0.15])


def _ladder_inputs(spark, sf_small_dir, points):
    """entry point → (the polygons its ladder estimates, the call)."""
    import osm_spark.pipeline.flagship as flagship
    from osm_spark.geo.geocode import reverse_geocode
    from osm_spark.pipeline.spatial_join import pip_join_multipolygon

    polys = (
        synth_polygons(spark)
        .select("way_id", "vlat", "vlon")
        .unionByName(
            spark.createDataFrame(
                [(77777, *BIG_SQUARE)], "way_id long, vlat array<double>, vlon array<double>"
            )
        )
    )
    rings = spark.createDataFrame(
        [(600, "outer", 8001, *BIG_SQUARE), (600, "inner", 8002, *HOLE)],
        "relation_id long, role string, way_id long, vlat array<double>, vlon array<double>",
    )
    return {
        "pip_join": (polys, lambda: pip_join(points, polys)),
        "reverse_geocode": (polys, lambda: reverse_geocode(points, polys)),
        "flagship_query": (
            synth_polygons(spark),
            lambda: flagship.flagship_query(spark, sf_small_dir),
        ),
        "pip_join_multipolygon": (
            rings.select("way_id", "vlat", "vlon"),
            lambda: pip_join_multipolygon(points, rings),
        ),
    }


# (jobs launched while building the frame, estimate_covering_cells calls)
# per rung. flagship_query supplies its flat covering, so it has only
# the two-way choice: broadcast, broadcast, salted.
PIP_LADDER = {
    "pip_join": {
        "flat_broadcast": (2, 1), "adaptive_broadcast": (6, 2), "adaptive_salted": (6, 2),
    },
    "reverse_geocode": {
        "flat_broadcast": (2, 1), "adaptive_broadcast": (6, 2), "adaptive_salted": (6, 2),
    },
    "flagship_query": {
        "flat_broadcast": (3, 1), "adaptive_broadcast": (3, 1), "adaptive_salted": (3, 1),
    },
    "pip_join_multipolygon": {
        "flat_broadcast": (2, 1), "adaptive_broadcast": (6, 2), "adaptive_salted": (6, 2),
    },
}


@pytest.mark.parametrize("rung", ["flat_broadcast", "adaptive_broadcast", "adaptive_salted"])
@pytest.mark.parametrize("entry", list(PIP_LADDER))
def test_pip_ladder_jobs_per_entry_and_rung(
    spark, sf_small_dir, points, count_jobs, monkeypatch, entry, rung
):
    """Every PIP entry point climbs the one ladder in ``_pip_candidates``:
    patching ``spatial_join.BROADCAST_MAX_CELLS`` alone moves each of
    them onto the rung's prejoin, and each rung launches a pinned number
    of jobs and estimates."""
    import osm_spark.pipeline.spatial_join as sj

    geo, call = _ladder_inputs(spark, sf_small_dir, points)[entry]
    est = sj.estimate_covering_cells
    flat, capped = est(geo), est(geo, cap=4096)
    ceiling = {
        "flat_broadcast": sj.BROADCAST_MAX_CELLS,
        "adaptive_broadcast": (capped + flat) // 2,
        "adaptive_salted": capped // 2,
    }[rung]
    monkeypatch.setattr(sj, "BROADCAST_MAX_CELLS", ceiling)
    calls = []

    def spy(*args, **kwargs):
        calls.append(args)
        return est(*args, **kwargs)

    monkeypatch.setattr(sj, "estimate_covering_cells", spy)
    out, jobs = count_jobs(call)
    assert (jobs, len(calls)) == PIP_LADDER[entry][rung]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert ("_vsalt" in plan) == (rung == "adaptive_salted")


def test_flagship_query_salted_matches_broadcast(spark, sf_small_dir, monkeypatch):
    """flagship_query's salted branch (the name dim two-side-salted like
    the vertex dim) returns the broadcast branch's rows."""
    import osm_spark.pipeline.spatial_join as sj
    from osm_spark.pipeline.flagship import flagship_query

    want = sorted(flagship_query(spark, sf_small_dir).collect())
    monkeypatch.setattr(sj, "BROADCAST_MAX_CELLS", 0)
    salted = flagship_query(spark, sf_small_dir)
    assert "_vsalt" in salted._jdf.queryExecution().executedPlan().toString()
    assert sorted(salted.collect()) == want and len(want) > 50


def test_tile_assignment_exact(points):
    rows = points.select("url", "lat", "lon", tile_xy("lat", "lon", 12).alias("t")).collect()
    for r in rows:
        assert (r.t.z, r.t.x, r.t.y) == tile_xy_py(r.lat, r.lon, 12)


def test_skew_exists_in_fixture(points):
    """The synthetic data really has hot cells (for the skew-handling tests)."""
    counts = [r.n for r in points.groupBy("h3_9").agg(F.count("*").alias("n")).collect()]
    counts.sort()
    assert counts[-1] >= 10 * np.median(counts)
