"""kde_density vs a pure-python replay of the integer Epanechnikov scatter."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from osm_spark.geo.kde import kde_density

Z, TS, R = 6, 256, 2
MAXLAT = 85.05112878


def _q(lat: float, lon: float) -> tuple[int, int, int, int]:
    """Replay tile_pixel at zoom Z: (qx, qy, cx, cy) in sub-cell units."""
    n = float(1 << Z)
    lat = max(min(lat, MAXLAT), -MAXLAT)
    fx = (lon + 180.0) / 360.0 * n
    fy = (1.0 - math.asinh(math.tan(math.radians(lat))) / math.pi) / 2.0 * n
    x = min(max(int(math.floor(fx)), 0), (1 << Z) - 1)
    y = min(max(int(math.floor(fy)), 0), (1 << Z) - 1)
    px = min(int(math.floor((fx - x) * TS)), TS - 1)
    py = min(int(math.floor((fy - y) * TS)), TS - 1)
    return x * TS + px, y * TS + py, x, y


def _replay(pts: list[tuple[float, float]]) -> dict[tuple[int, int], int]:
    out: dict[tuple[int, int], int] = {}
    r2 = (R * TS) ** 2
    for lat, lon in pts:
        qx, qy, cx, cy = _q(lat, lon)
        for dx in range(-R, R + 1):
            for dy in range(-R, R + 1):
                tx, ty = cx + dx, cy + dy
                if not (0 <= tx < (1 << Z) and 0 <= ty < (1 << Z)):
                    continue
                d2 = (qx - (tx * TS + TS // 2)) ** 2 + (qy - (ty * TS + TS // 2)) ** 2
                w = r2 - d2
                if w > 0:
                    out[(tx, ty)] = out.get((tx, ty), 0) + w
    return out


@pytest.fixture(scope="module")
def pts():
    # mid-tile positions in two overlapping neighbourhoods + one clamped
    # polar point exercising the address-space edge
    return [
        (10.43, 20.81),
        (10.44, 20.82),
        (10.43, 20.79),
        (-33.2, 150.7),
        (89.9, 0.3),
    ]


def test_kde_matches_replay(spark, pts):
    df = spark.createDataFrame(pts, "lat double, lon double")
    got = {(r.x, r.y): r.kde for r in kde_density(df, Z, radius=R).collect()}
    assert got == _replay(pts)


def test_kde_mass_conservation_interior(spark, pts):
    """Away from the clamp edge, total mass = Σ per-point footprint mass."""
    interior = [p for p in pts if abs(p[0]) < 80]
    df = spark.createDataFrame(interior, "lat double, lon double")
    got = kde_density(df, Z, radius=R).agg(F.sum("kde")).collect()[0][0]
    assert got == sum(_replay([p]).get(k, 0) for p in interior for k in _replay([p]))


def test_kde_peak_is_at_point_cell(spark):
    df = spark.createDataFrame([(10.43, 20.81)], "lat double, lon double")
    rows = kde_density(df, Z, radius=R).collect()
    top = max(rows, key=lambda r: r.kde)
    _, _, cx, cy = _q(10.43, 20.81)
    assert (top.x, top.y) == (cx, cy)


def test_kde_radius_validation(spark):
    df = spark.createDataFrame([(0.0, 0.0)], "lat double, lon double")
    with pytest.raises(ValueError):
        kde_density(df, Z, radius=0)

