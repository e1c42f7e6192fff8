"""Kernel density estimation (the GIS "heatmap" surface) over the slippy
tile grid, integer-exact.

The raster family's smoother with sub-cell precision: `geo/tiles.py`
rasterizes counts, `geo/focal.py` convolves the *binned* grid with an
integer kernel, and this evaluates a true point-level kernel — each point
contributes kernel(‖point − cell center‖) to every cell within the
bandwidth, so the surface has no binning alias (two points on opposite
edges of one cell pull their mass toward opposite neighbours, which a
count-then-convolve pipeline cannot represent).

Integer-exactness: point positions are taken at 1/``tile_size``-cell
precision straight from ``tile_pixel`` (the contour pipeline's pixel
math — the Mercator floor is the only float op, shared with every gated
tile operator), so squared distances are integers in sub-cell units and
the Epanechnikov kernel is used in its rescaled integer form
w = R² − d²  (R = radius·tile_size sub-cells; w/R² is the textbook
1 − d²/R²).  Sums of bounded integers are associative — the output is
value-hash gateable with no float caveats, the same contract as
``focal_sum`` and ``hotspot_gi``.

Scale design: scatter-gather, the engine's standard sparse-raster shape —
each point emits its (2r+1)² kernel footprint re-keyed by target cell
(closed-form Column math, no UDF), then ONE combiner-reduced groupBy.
Work is |points| × (2r+1)², independent of the 4^z address space; the
shuffle key is the target cell, so a Zipf-hot urban cell is AQE skew
territory exactly like the density raster, with `pipeline/salting`'s
data-driven split available unchanged.

Reference parity: the reference library exposes raw node coordinates
(robertgauld/osm lib/osm/node.rb attribute access); density surfaces are
the tile-serving generalisation this engine's map stack adds.
"""

from __future__ import annotations

from itertools import product

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.geo.tiles import tile_pixel

__all__ = ["kde_density"]


def kde_density(
    points: DataFrame,
    z: int,
    radius: int = 2,
    tile_size: int = 256,
) -> DataFrame:
    """(z, x, y, kde) — integer Epanechnikov KDE of ``points(lat, lon)``
    over zoom-``z`` tiles; bandwidth = ``radius`` tiles.

    ``kde`` is Σ_points max(0, R² − d²) with d measured point→cell-center
    in 1/``tile_size`` tile units (bigint; divide by R²·n for the
    normalised density).  Output support is every cell with positive
    kernel mass, clamped to the z-level address space.
    """
    if radius < 1:
        raise ValueError(f"radius must be >= 1, got {radius}")

    t = tile_pixel("lat", "lon", z, tile_size)
    base = points.select(t.alias("t")).select(
        (F.col("t.x") * tile_size + F.col("t.px")).cast("long").alias("qx"),
        (F.col("t.y") * tile_size + F.col("t.py")).cast("long").alias("qy"),
        F.col("t.x").alias("cx"),
        F.col("t.y").alias("cy"),
    )
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in product(range(-radius, radius + 1), repeat=2)
        ]
    )
    half = tile_size // 2
    r2 = (radius * tile_size) ** 2
    n_max = (1 << z) - 1

    tx = (F.col("cx") + F.col("o.dx")).alias("x")
    ty = (F.col("cy") + F.col("o.dy")).alias("y")
    scattered = (
        base.select("qx", "qy", F.explode(offs).alias("o"), "cx", "cy")
        .select("qx", "qy", tx, ty)
        .where(
            (F.col("x") >= 0) & (F.col("x") <= n_max)
            & (F.col("y") >= 0) & (F.col("y") <= n_max)
        )
    )
    ddx = F.col("qx") - (F.col("x") * tile_size + half)
    ddy = F.col("qy") - (F.col("y") * tile_size + half)
    w = (F.lit(r2).cast("long") - (ddx * ddx + ddy * ddy)).alias("w")

    return (
        scattered.select("x", "y", w)
        .where(F.col("w") > 0)
        .groupBy("x", "y")
        .agg(F.sum("w").alias("kde"))
        .select(F.lit(z).alias("z"), "x", "y", "kde")
    )
