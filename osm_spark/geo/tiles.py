"""Slippy-map (z/x/y) raster tile math as pure Column expressions.

Tile assignment is closed-form Web-Mercator arithmetic, so it stays entirely
inside whole-stage codegen — no UDF, no shuffle. Density rasterization is
then a plain groupBy((z,x,y) [, pixel]) count.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAX_MERCATOR_LAT = 85.05112878  # Web-Mercator clamp


def _cols(lat, lon):
    la = F.col(lat) if isinstance(lat, str) else lat
    lo = F.col(lon) if isinstance(lon, str) else lon
    return la, lo


def tile_xy(lat: Column | str, lon: Column | str, z: int) -> Column:
    """struct<z:int, x:long, y:long> slippy tile for a point.

    x = floor((lon+180)/360 · 2^z);  y = floor((1 − asinh(tan φ)/π)/2 · 2^z)
    Latitudes outside the Web-Mercator domain clamp to the edge tiles.
    """
    la, lo = _cols(lat, lon)
    n = F.lit(float(1 << z))
    la = F.greatest(F.least(la, F.lit(MAX_MERCATOR_LAT)), F.lit(-MAX_MERCATOR_LAT))
    x = F.floor((lo + 180.0) / 360.0 * n).cast("long")
    lat_rad = F.radians(la)
    y = F.floor((1.0 - F.asinh(F.tan(lat_rad)) / math.pi) / 2.0 * n).cast("long")
    # Clamp x for lon == 180 exactly; y for the pole clamp edge.
    x = F.least(F.greatest(x, F.lit(0)), F.lit((1 << z) - 1))
    y = F.least(F.greatest(y, F.lit(0)), F.lit((1 << z) - 1))
    return F.struct(F.lit(z).alias("z"), x.alias("x"), y.alias("y"))


def tile_pixel(lat: Column | str, lon: Column | str, z: int, tile_size: int = 256) -> Column:
    """struct<z,x,y,px:int,py:int> — tile plus within-tile pixel coordinates.

    Used by the density-raster + contour pipeline: groupBy(z,x,y,px,py)
    gives per-pixel counts with no UDF.
    """
    la, lo = _cols(lat, lon)
    n = F.lit(float(1 << z))
    la = F.greatest(F.least(la, F.lit(MAX_MERCATOR_LAT)), F.lit(-MAX_MERCATOR_LAT))
    fx = (lo + 180.0) / 360.0 * n
    lat_rad = F.radians(la)
    fy = (1.0 - F.asinh(F.tan(lat_rad)) / math.pi) / 2.0 * n
    x = F.least(F.greatest(F.floor(fx).cast("long"), F.lit(0)), F.lit((1 << z) - 1))
    y = F.least(F.greatest(F.floor(fy).cast("long"), F.lit(0)), F.lit((1 << z) - 1))
    px = F.least(F.floor((fx - x) * tile_size).cast("int"), F.lit(tile_size - 1))
    py = F.least(F.floor((fy - y) * tile_size).cast("int"), F.lit(tile_size - 1))
    return F.struct(
        F.lit(z).alias("z"), x.alias("x"), y.alias("y"), px.alias("px"), py.alias("py")
    )


def tile_delta(
    changes: DataFrame, z: int, op_col: str = "op"
) -> DataFrame:
    """Signed per-tile count delta from a CDC batch.

    ``changes``: (lat, lon, op) with op = +1 (insert) / -1 (delete).
    Returns (z, x, y, delta) — one aggregated row per touched tile; the
    shuffle carries only the CHANGED rows (map-side combined), never the
    corpus.
    """
    t = tile_xy("lat", "lon", z)
    return (
        changes.select(t.alias("t"), F.col(op_col).cast("long").alias("w"))
        .groupBy("t.z", "t.x", "t.y")
        .agg(F.sum("w").alias("delta"))
    )


def tile_refresh(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental view maintenance for a materialized tile-count layer:
    ``base`` (z, x, y, n) ⊕ ``delta`` (z, x, y, delta) → refreshed
    (z, x, y, n), rows that reach zero dropped.

    Counts are an Abelian-group aggregate, so refresh ≡ full recompute
    exactly (the gated ``tile_refresh`` oracle states recompute-from-
    scratch and must hash-match). At the 10^12-page design point this is
    the difference between touching the day's CDC batch and rescanning
    the corpus: the only exchange is the full-outer equi-join on the
    tile key — and when ``base`` is stored bucketed by (z, x, y)
    (``DataFrameWriter.bucketBy``), only the delta side shuffles.
    """
    j = base.join(delta.hint("shuffle_hash"), ["z", "x", "y"], "full_outer")
    n2 = F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("delta"), F.lit(0))
    # filter BEFORE the select: after aliasing n2 AS n, a filter written
    # on n2 would re-resolve its F.col("n") against the new column
    return j.filter(n2 != 0).select(
        "z", "x", "y", n2.cast("long").alias("n")
    )


def tile_xy_py(lat: float, lon: float, z: int) -> tuple[int, int, int]:
    """Pure-Python oracle for tile_xy (tests compare Spark vs this)."""
    lat = max(min(lat, MAX_MERCATOR_LAT), -MAX_MERCATOR_LAT)
    n = 1 << z
    x = int(math.floor((lon + 180.0) / 360.0 * n))
    y = int(math.floor((1.0 - math.asinh(math.tan(math.radians(lat))) / math.pi) / 2.0 * n))
    return z, max(0, min(x, n - 1)), max(0, min(y, n - 1))
