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


def test_tile_assignment_exact(points):
    rows = points.select("url", "lat", "lon", tile_xy("lat", "lon", 12).alias("t")).collect()
    for r in rows:
        assert (r.t.z, r.t.x, r.t.y) == tile_xy_py(r.lat, r.lon, 12)


def test_skew_exists_in_fixture(points):
    """The synthetic data really has hot cells (for the skew-handling tests)."""
    counts = [r.n for r in points.groupBy("h3_9").agg(F.count("*").alias("n")).collect()]
    counts.sort()
    assert counts[-1] >= 10 * np.median(counts)
