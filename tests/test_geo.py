"""Geo core tests: S2 cells, hex grid, PIP, tiles — vs pure-Python oracles."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import assume, given, settings
from hypothesis import strategies as st

from osm_spark.geo.hexgrid import (
    edge_deg,
    hex_cell_np,
    hex_disk,
    hex_polyfill,
    hex_to_center,
    latlon_to_axial,
    pack,
    points_in_polygon_np,
    unpack,
)
from osm_spark.geo.s2 import s2_cell_np, s2_parent_np
from osm_spark.geo.tiles import tile_xy, tile_xy_py

lats = st.floats(min_value=-85.0, max_value=85.0, allow_nan=False)
lons = st.floats(min_value=-179.99, max_value=179.99, allow_nan=False)


# ---------- S2 ----------


def test_s2_level_encoded_and_distinct_faces():
    lat = np.array([0.0, 0.0, 89.9, -89.9, 0.0, 0.0])
    lon = np.array([0.0, 90.0, 0.0, 0.0, 180.0, -90.0])
    cells = s2_cell_np(lat, lon, 13)
    assert all(c & 31 == 13 for c in cells)
    assert len(set((c >> 5) // (1 << 26) for c in cells)) == 6  # six faces


@settings(max_examples=200, deadline=None)
@given(lats, lons)
def test_s2_parent_containment(lat, lon):
    """A point's level-13 cell coarsens to the same cell as encoding at 10."""
    c13 = s2_cell_np(np.array([lat]), np.array([lon]), 13)
    c10 = s2_cell_np(np.array([lat]), np.array([lon]), 10)
    assert s2_parent_np(c13, 13, 10)[0] == c10[0]


def test_s2_locality():
    """Nearby points share cells; far points don't (level 13 ≈ 1.3 km)."""
    a = s2_cell_np(np.array([51.5000]), np.array([-0.1000]), 13)[0]
    b = s2_cell_np(np.array([51.5001]), np.array([-0.1001]), 13)[0]
    c = s2_cell_np(np.array([40.0]), np.array([100.0]), 13)[0]
    assert a == b
    assert a != c


# ---------- hex grid ----------


def test_hex_res9_scale_matches_h3():
    assert abs(edge_deg(9) - 0.00157) < 2e-4


@settings(max_examples=200, deadline=None)
@given(lats, lons)
def test_hex_roundtrip_center_within_circumradius(lat, lon):
    cell = hex_cell_np(np.array([lat]), np.array([lon]), 9)
    clat, clon = hex_to_center(cell)
    d = math.hypot(clat[0] - lat, clon[0] - lon)
    assert d <= edge_deg(9) * 1.0001  # circumradius == edge length


@settings(max_examples=100, deadline=None)
@given(lats, lons)
def test_hex_center_reencodes_to_same_cell(lat, lon):
    cell = hex_cell_np(np.array([lat]), np.array([lon]), 9)
    clat, clon = hex_to_center(cell)
    again = hex_cell_np(clat, clon, 9)
    assert again[0] == cell[0]


def test_hex_pack_unpack():
    q = np.array([-12345, 0, 99999], dtype=np.int64)
    r = np.array([54321, -1, -99999], dtype=np.int64)
    c = pack(q, r, 9)
    q2, r2, res = unpack(c)
    assert (q2 == q).all() and (r2 == r).all() and (res == 9).all()
    assert (c > 0).all()


def test_hex_disk_sizes():
    cell = int(hex_cell_np(np.array([10.0]), np.array([20.0]), 9)[0])
    assert len(hex_disk(cell, 0)) == 1
    assert len(hex_disk(cell, 1)) == 7
    assert len(hex_disk(cell, 2)) == 19
    assert cell in set(hex_disk(cell, 1).tolist())


# ---------- PIP ----------

SQUARE_X = np.array([0.0, 10.0, 10.0, 0.0])
SQUARE_Y = np.array([0.0, 0.0, 10.0, 10.0])


def test_pip_square():
    px = np.array([5.0, -1.0, 10.0, 0.0, 10.0001, 5.0])
    py = np.array([5.0, 5.0, 5.0, 0.0, 5.0, 10.0])
    out = points_in_polygon_np(px, py, SQUARE_X, SQUARE_Y)
    # boundary counts as inside (covers semantics)
    assert out.tolist() == [True, False, True, True, False, True]


def test_pip_concave():
    # L-shape: (0,0)(4,0)(4,2)(2,2)(2,4)(0,4)
    vx = np.array([0.0, 4, 4, 2, 2, 0])
    vy = np.array([0.0, 0, 2, 2, 4, 4])
    px = np.array([1.0, 3.0, 3.0, 1.0])
    py = np.array([1.0, 1.0, 3.0, 3.0])
    out = points_in_polygon_np(px, py, vx, vy)
    assert out.tolist() == [True, True, False, True]


@settings(max_examples=100, deadline=None)
@given(st.floats(-15, 25, allow_nan=False), st.floats(-15, 25, allow_nan=False))
def test_pip_square_oracle(x, y):
    # Points within the 1e-12 boundary-tolerance band are defined as inside
    # (covers semantics); the binary oracle only applies outside that band.
    assume(min(abs(x), abs(x - 10), abs(y), abs(y - 10)) > 1e-9)
    exp = (0 <= x <= 10) and (0 <= y <= 10)
    got = points_in_polygon_np(np.array([x]), np.array([y]), SQUARE_X, SQUARE_Y)[0]
    assert bool(got) == exp


def test_polyfill_superset_of_point_cells():
    """Every cell of a point inside the polygon appears in the covering."""
    rng = np.random.RandomState(7)
    vlat = np.array([51.50, 51.50, 51.52, 51.52])
    vlon = np.array([-0.12, -0.09, -0.09, -0.12])
    cover = set(hex_polyfill(vlat, vlon, 9).tolist())
    plat = rng.uniform(51.50, 51.52, 500)
    plon = rng.uniform(-0.12, -0.09, 500)
    cells = hex_cell_np(plat, plon, 9)
    missing = set(cells.tolist()) - cover
    assert not missing
    assert len(cover) < 2000  # and it is not a trivial blow-up


# ---------- tiles ----------


def test_tile_xy_matches_oracle(spark):
    rng = np.random.RandomState(3)
    rows = [
        (float(la), float(lo))
        for la, lo in zip(rng.uniform(-85, 85, 200), rng.uniform(-180, 180, 200))
    ] + [(85.06, 0.0), (-85.06, 0.0), (0.0, 180.0), (0.0, -180.0)]
    df = spark.createDataFrame(rows, "lat double, lon double")
    got = df.select("lat", "lon", tile_xy("lat", "lon", 12).alias("t")).collect()
    for row in got:
        z, x, y = tile_xy_py(row.lat, row.lon, 12)
        assert (row.t.z, row.t.x, row.t.y) == (z, x, y), (row.lat, row.lon)


def test_cell_udfs_on_dataframe(spark):
    from osm_spark.geo import hex_cell, s2_cell

    df = spark.createDataFrame(
        [(51.5, -0.1), (None, 3.0), (48.85, 2.35)], "lat double, lon double"
    )
    out = df.select(
        hex_cell("lat", "lon", 9).alias("h"), s2_cell("lat", "lon", 13).alias("s")
    ).collect()
    assert out[0].h == int(hex_cell_np(np.array([51.5]), np.array([-0.1]), 9)[0])
    assert out[0].s == int(s2_cell_np(np.array([51.5]), np.array([-0.1]), 13)[0])
    assert out[1].h is None and out[1].s is None
    assert out[2].h != out[0].h


def test_s2_cell_cols_matches_numpy(spark):
    """The codegen select-chain S2 encode is bit-identical to the numpy
    construction across the globe (incl. all six faces)."""
    import numpy as np
    from pyspark.sql import functions as F

    from osm_spark.geo.s2 import s2_cell_cols, s2_cell_np

    c = spark.range(1, 4001).select(
        ((F.col("id") * 2654435761 % 1700001) / 10000.0 - 85.0).alias("lat"),
        ((F.col("id") * 40503 % 3600001) / 10000.0 - 180.0).alias("lon"),
    )
    rows = s2_cell_cols(c, level=13, out="s2").collect()
    lat = np.array([r.lat for r in rows])
    lon = np.array([r.lon for r in rows])
    got = np.array([r.s2 for r in rows])
    exp = s2_cell_np(lat, lon, 13)
    assert (got == exp).all()
    # all six faces exercised
    assert len({int(v) >> 5 >> 26 for v in got}) == 6


def test_s2_cell_cols_table_walk_matches_numpy_across_levels(spark):
    """The table-driven Hilbert walk is bit-exact with ``s2_cell_np`` at
    levels whose leading chunk has 1, 2, 0, 1 and 2 bits (1, 5, 12, 13,
    30), on random points plus the poles, the antimeridian and points on
    face boundaries (|x| = |y|, |y| = |z|, |x| = |z| and cube corners)."""
    import numpy as np
    import pandas as pd

    from osm_spark.geo.s2 import s2_cell_cols, s2_cell_np

    rng = np.random.default_rng(7)
    lat = list(np.degrees(np.arcsin(rng.uniform(-1, 1, 20_000))))
    lon = list(rng.uniform(-180, 180, 20_000))
    corner = float(np.degrees(np.arctan(1 / np.sqrt(2))))
    special = [(90.0, 0.0), (-90.0, 0.0), (90.0, 180.0), (0.0, 180.0),
               (0.0, -180.0), (45.0, 180.0), (-45.0, -180.0)]
    special += [(la, lo) for lo in (45.0, 135.0, -45.0, -135.0) for la in (0.0, 20.0, -20.0)]
    special += [(la, lo) for la in (45.0, -45.0) for lo in (0.0, 90.0, 180.0, -90.0, 30.0)]
    special += [(la, lo) for la in (corner, -corner) for lo in (45.0, 135.0, -45.0, -135.0)]
    lat += [a for a, _ in special]
    lon += [b for _, b in special]
    pdf = pd.DataFrame({"k": np.arange(len(lat)), "lat": lat, "lon": lon})
    df = spark.createDataFrame(pdf)
    levels = (1, 5, 12, 13, 30)
    for level in levels:
        df = s2_cell_cols(df, level=level, out=f"s2_{level}")
    got = df.toPandas().sort_values("k")
    for level in levels:
        exp = s2_cell_np(got["lat"].to_numpy(), got["lon"].to_numpy(), level)
        assert np.array_equal(got[f"s2_{level}"].to_numpy(), exp), level


def test_hex_cell_backend_dispatch(spark):
    """'native' backend ≡ hex_cell_expr; 'h3' is import-guarded (green
    with the library, clean ImportError without — never a silent
    fallback into a mixed id space)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from osm_spark.geo.hexgrid import (
        h3_available,
        hex_cell_backend,
        hex_cell_expr,
    )

    df = spark.createDataFrame(
        [(10.05, 20.05), (-33.9, 151.2), (51.5, -0.1)], "lat double, lon double"
    )
    native = df.select(
        hex_cell_backend("lat", "lon", 9, "native").alias("a"),
        hex_cell_expr("lat", "lon", 9).alias("b"),
    ).collect()
    assert all(r.a == r.b for r in native)
    with _pytest.raises(ValueError):
        hex_cell_backend("lat", "lon", 9, "s2ish")
    if h3_available():
        rows = df.select(
            hex_cell_backend("lat", "lon", 9, "h3").alias("c")
        ).collect()
        import h3 as _h3

        want = [
            _h3.latlng_to_cell(10.05, 20.05, 9),
            _h3.latlng_to_cell(-33.9, 151.2, 9),
            _h3.latlng_to_cell(51.5, -0.1, 9),
        ]
        want = [int(w, 16) if isinstance(w, str) else w for w in want]
        assert [r.c for r in rows] == want
    else:
        with _pytest.raises(ImportError):
            hex_cell_backend("lat", "lon", 9, "h3")
