"""Segment-crossing join: which pairs of way geometries intersect, and
at which segments — the line×line half of the spatial-join family (the
polygon×polygon half is ``geo/overlay.py``, point×polygon is the PIP
ladder in ``pipeline/spatial_join.py``). The classic OSM use: road×river
crossings that lack a shared node (missing-bridge QA), self-checking a
routing graph against level crossings, or conflating two way layers.

Reference analog: the way model whose vertex arrays this joins
(`lib/osm/way.rb` node refs; SURVEY.md §1.4 assembles ``vlat/vlon``);
line×line conflation is the natural extension of the graft's mandated
PIP/kNN/overlay join family (SURVEY.md §2.10) — Spark-first design, no
reference code ports.

Exactness contract
------------------
Endpoints are quantized to integer grid units (``round(deg * scale)``,
default ``scale = 100_000`` ≈ 1.1 m) and the intersection predicate is
the classical four-orientation test evaluated in *pure int64
arithmetic* — sign of the 2×2 cross determinant, plus the collinear
bbox-on-segment cases — so the answer is bit-exact across engines by
construction (no transcendental parity needed, unlike the haversine
family). Overflow bound: |coord| ≤ 180·scale = 1.8e7 units, so every
cross-product term is ≤ (2·1.8e7)² ≈ 5.2e15 ≪ 2^63. Touching counts as
crossing (endpoint-on-segment and collinear-overlap pairs are
returned); callers that want proper crossings only can post-filter by
re-deriving the orientation signs — the quantization scale is the
documented snap tolerance.

Plan shape (the engine's standard cell-prejoin ladder)
------------------------------------------------------
1. ways → segments: one Generate per side (consecutive vertex pairs,
   1-based ``seg_idx``, optional ring wrap — the cliptiles idiom).
2. each segment explodes its bbox cover on an integer grid of
   ``cell_units`` quantized units per cell edge (two nested
   ``sequence`` explodes, ``max_cells`` guard so a continent-spanning
   segment errors its row out loudly instead of OOMing the executor).
   An intersection point lies inside both segments' bboxes, hence in a
   grid cell both covers contain — the equi-join below loses nothing.
3. candidate pairs: equi-join on the packed cell key, hinted
   ``shuffle_hash`` (both sides are freshly exploded and statless — an
   unhinted plan would SortMergeJoin and sort the big side). Pass
   ``salts`` (``pipeline/salting.key_salt_plan`` over the cell key) to
   opt hot cells (dense urban grids) into explicit scatter/replicate
   splitting, same contract as DBSCAN's ``eps_pairs``.
4. exact int64 orientation refine, then ``distinct`` on the 4-int pair
   id (a pair sharing several cells must emit once).

Scale: the 10^12-row axis is never replicated — per-segment cover work
is O(bbox cells), per-candidate refine is O(1), and the only shuffles
are the cell equi-join and the bounded pair distinct.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_spark.pipeline.salting import keyed_join

__all__ = [
    "DEFAULT_SCALE",
    "DEFAULT_CELL_UNITS",
    "way_segments",
    "segment_crossings",
    "ring_validity",
]

# quantized units per degree (~1.1 m at the equator) — the snap tolerance
DEFAULT_SCALE = 100_000
# grid cell edge in quantized units (~1.1 km) — candidate-join granularity
DEFAULT_CELL_UNITS = 1_024
_CELL_PACK = 1 << 32  # cell key packing: |cx| ≤ 180·scale/cell_units ≪ 2^31


def way_segments(
    ways: DataFrame,
    *,
    scale: int = DEFAULT_SCALE,
    id_col: str = "way_id",
    closed: bool = True,
) -> DataFrame:
    """(way_id, seg_idx, x0, y0, x1, y1) — consecutive vertex pairs with
    endpoints quantized to int64 grid units (x = lon·scale, y =
    lat·scale, round-half-away like every quantized output in the
    engine). ``seg_idx`` is 1-based; ``closed`` adds the ring
    wrap-around segment. Single-vertex geometries emit nothing."""
    nv = F.size("vlat")
    q = lambda v: F.round(v * F.lit(float(scale))).cast("long")  # noqa: E731
    last = nv if closed else nv - 1
    seg = lambda i: F.struct(  # noqa: E731
        i.cast("int").alias("seg_idx"),
        q(F.element_at("vlon", i.cast("int"))).alias("x0"),
        q(F.element_at("vlat", i.cast("int"))).alias("y0"),
        q(F.element_at("vlon", (i % nv + 1).cast("int"))).alias("x1"),
        q(F.element_at("vlat", (i % nv + 1).cast("int"))).alias("y1"),
    )
    return ways.select(
        F.col(id_col).alias("way_id"),
        F.explode(
            F.when(nv >= 2, F.transform(F.sequence(F.lit(1), last), seg))
            .otherwise(
                F.array().cast(
                    "array<struct<seg_idx:int,x0:bigint,y0:bigint,"
                    "x1:bigint,y1:bigint>>"
                )
            )
        ).alias("s"),
    ).select("way_id", "s.*")


def _cover(segs: DataFrame, cell_units: int, max_cells: int) -> DataFrame:
    """Explode each segment over its bbox cells; adds packed ``cellk``."""
    cu = F.lit(int(cell_units))
    x_lo = F.floor(F.least("x0", "x1") / cu).cast("long")
    x_hi = F.floor(F.greatest("x0", "x1") / cu).cast("long")
    y_lo = F.floor(F.least("y0", "y1") / cu).cast("long")
    y_hi = F.floor(F.greatest("y0", "y1") / cu).cast("long")
    n_cells = (x_hi - x_lo + 1) * (y_hi - y_lo + 1)
    guard = F.when(
        n_cells <= F.lit(int(max_cells)), F.lit(True)
    ).otherwise(
        F.raise_error(
            F.format_string(
                "segment_crossings: segment covers %s grid cells "
                "(max_cells=%s) — degenerate geometry",
                n_cells,
                F.lit(int(max_cells)),
            )
        )
    )
    return (
        segs.where(guard)
        .withColumn("_cx", F.explode(F.sequence(x_lo, x_hi)))
        .withColumn("_cy", F.explode(F.sequence(y_lo, y_hi)))
        .withColumn("cellk", F.col("_cx") * F.lit(_CELL_PACK) + F.col("_cy"))
        .drop("_cx", "_cy")
    )


def _orient(
    px: Column, py: Column, qx: Column, qy: Column, rx: Column, ry: Column
) -> Column:
    """sign of cross(Q−P, R−P) — int64-exact (see module overflow bound);
    the sign is taken by integer comparison, never via a float cast."""
    c = (qx - px) * (ry - py) - (qy - py) * (rx - px)
    return F.when(c > 0, F.lit(1)).when(c < 0, F.lit(-1)).otherwise(F.lit(0))


def _on_bbox(
    px: Column, py: Column, qx: Column, qy: Column, rx: Column, ry: Column
) -> Column:
    """R within the bbox of P–Q (the collinear on-segment test)."""
    return (
        (rx >= F.least(px, qx))
        & (rx <= F.greatest(px, qx))
        & (ry >= F.least(py, qy))
        & (ry <= F.greatest(py, qy))
    )


def segments_intersect_pred(a: str = "a", b: str = "b") -> Column:
    """The classical segment-intersection predicate over two struct
    columns ``a``/``b`` each with fields x0,y0,x1,y1 — proper crossings
    (opposite strict orientations on both sides) plus every collinear /
    endpoint-touch case. Pure integer arithmetic end to end."""
    ax0, ay0 = F.col(f"{a}.x0"), F.col(f"{a}.y0")
    ax1, ay1 = F.col(f"{a}.x1"), F.col(f"{a}.y1")
    bx0, by0 = F.col(f"{b}.x0"), F.col(f"{b}.y0")
    bx1, by1 = F.col(f"{b}.x1"), F.col(f"{b}.y1")
    d1 = _orient(ax0, ay0, ax1, ay1, bx0, by0)
    d2 = _orient(ax0, ay0, ax1, ay1, bx1, by1)
    d3 = _orient(bx0, by0, bx1, by1, ax0, ay0)
    d4 = _orient(bx0, by0, bx1, by1, ax1, ay1)
    proper = (d1 * d2 < 0) & (d3 * d4 < 0)
    touch = (
        ((d1 == 0) & _on_bbox(ax0, ay0, ax1, ay1, bx0, by0))
        | ((d2 == 0) & _on_bbox(ax0, ay0, ax1, ay1, bx1, by1))
        | ((d3 == 0) & _on_bbox(bx0, by0, bx1, by1, ax0, ay0))
        | ((d4 == 0) & _on_bbox(bx0, by0, bx1, by1, ax1, ay1))
    )
    return proper | touch


def segment_crossings(
    ways_a: DataFrame,
    ways_b: DataFrame | None = None,
    *,
    scale: int = DEFAULT_SCALE,
    cell_units: int = DEFAULT_CELL_UNITS,
    max_cells: int = 4096,
    closed: bool = True,
    id_col: str = "way_id",
    salts: DataFrame | None = None,
) -> DataFrame:
    """(way_a, seg_a, way_b, seg_b) — every pair of segments from two
    way layers (or, with ``ways_b`` omitted, every unordered pair
    across DIFFERENT ways of one layer, ``way_a < way_b``) whose
    quantized segments intersect, touching included.

    ``ways_*``: id + ``vlat``/``vlon`` vertex arrays (rings when
    ``closed``). ``salts`` opts the cell equi-join into the engine's
    data-driven hot-key splitting (pipeline/salting.py — pass
    ``key_salt_plan`` output over the A side's exploded ``cellk``)."""
    self_join = ways_b is None
    segs_a = way_segments(ways_a, scale=scale, id_col=id_col, closed=closed)
    segs_b = (
        segs_a
        if self_join
        else way_segments(ways_b, scale=scale, id_col=id_col, closed=closed)
    )
    left = _cover(segs_a, cell_units, max_cells).select(
        F.col("way_id").alias("way_a"),
        F.col("seg_idx").alias("seg_a"),
        F.struct("x0", "y0", "x1", "y1").alias("a"),
        "cellk",
    )
    right = _cover(segs_b, cell_units, max_cells).select(
        F.col("way_id").alias("way_b"),
        F.col("seg_idx").alias("seg_b"),
        F.struct("x0", "y0", "x1", "y1").alias("b"),
        "cellk",
    )
    if salts is not None:
        left = left.withColumn(
            "_sid",
            F.col("way_a") * F.lit(1 << 20) + F.col("seg_a"),
        )
    cand = keyed_join(
        left, right, "cellk", "shuffle" if salts is None else "salted",
        salts=salts, scatter="_sid",
    ).drop("_sid")
    if self_join:
        cand = cand.where(F.col("way_a") < F.col("way_b"))
    return (
        cand.where(segments_intersect_pred("a", "b"))
        .select("way_a", "seg_a", "way_b", "seg_b")
        .distinct()
    )


def _seg_pred(sa: Column, sb: Column) -> Column:
    """segments_intersect_pred over two segment struct VALUES (for use
    inside higher-order lambdas, where named columns don't exist)."""
    d1 = _orient(sa.x0, sa.y0, sa.x1, sa.y1, sb.x0, sb.y0)
    d2 = _orient(sa.x0, sa.y0, sa.x1, sa.y1, sb.x1, sb.y1)
    d3 = _orient(sb.x0, sb.y0, sb.x1, sb.y1, sa.x0, sa.y0)
    d4 = _orient(sb.x0, sb.y0, sb.x1, sb.y1, sa.x1, sa.y1)
    proper = (d1 * d2 < 0) & (d3 * d4 < 0)
    touch = (
        ((d1 == 0) & _on_bbox(sa.x0, sa.y0, sa.x1, sa.y1, sb.x0, sb.y0))
        | ((d2 == 0) & _on_bbox(sa.x0, sa.y0, sa.x1, sa.y1, sb.x1, sb.y1))
        | ((d3 == 0) & _on_bbox(sb.x0, sb.y0, sb.x1, sb.y1, sa.x0, sa.y0))
        | ((d4 == 0) & _on_bbox(sb.x0, sb.y0, sb.x1, sb.y1, sa.x1, sa.y1))
    )
    return proper | touch


def ring_validity(
    ways: DataFrame,
    *,
    scale: int = DEFAULT_SCALE,
    id_col: str = "way_id",
) -> DataFrame:
    """OGC-style ring simplicity check: a ring is VALID iff it has ≥ 3
    vertices and no two NON-ADJACENT segments intersect (adjacent
    segments — consecutive, and the first/last wrap pair — share an
    endpoint by construction and are excluded; any other contact,
    crossing OR touch/pinch, is invalid, matching the OGC simple-ring
    rule). The ingestion guard in front of every polygon consumer
    (PIP covering, overlay, area): a bowtie ring silently corrupts
    even-odd containment downstream.

    Scale shape: a ring's vertices live in ONE row, so this is a pure
    per-row Column program — zero shuffle, zero Python, same int64
    orientation arithmetic as ``segment_crossings`` (quantization
    round(deg·scale)). O(n²) integer ops per ring over bounded ring
    sizes, constant in table size.

    Output: (way_id, n_vertices, n_bad_pairs, is_valid).
    """
    nv = F.size("vlat")
    q = lambda v: F.round(v * F.lit(float(scale))).cast("long")  # noqa: E731
    seg = lambda i: F.struct(  # noqa: E731
        q(F.element_at("vlon", i.cast("int"))).alias("x0"),
        q(F.element_at("vlat", i.cast("int"))).alias("y0"),
        q(F.element_at("vlon", (i % nv + 1).cast("int"))).alias("x1"),
        q(F.element_at("vlat", (i % nv + 1).cast("int"))).alias("y1"),
    )
    segs = F.when(nv >= 2, F.transform(F.sequence(F.lit(1), nv), seg)).otherwise(
        F.array().cast(
            "array<struct<x0:bigint,y0:bigint,x1:bigint,y1:bigint>>"
        )
    )
    n = F.size(segs)
    # j ranges over i+2 .. n, except the (1, n) wrap pair
    jmax = lambda i: F.when(i == 1, n - 1).otherwise(n)  # noqa: E731
    bad_for = lambda i: F.size(  # noqa: E731
        F.filter(
            F.when(i + 2 <= jmax(i), F.sequence(i + 2, jmax(i))).otherwise(
                F.array().cast("array<int>")
            ),
            lambda j: _seg_pred(
                F.element_at(segs, i.cast("int")),
                F.element_at(segs, j.cast("int")),
            ),
        )
    )
    # guard: sequence(1, 0) would run DESCENDING through index 0 on a
    # degenerate ring — below 4 segments no non-adjacent pair exists
    n_bad = F.when(
        n >= 4,
        F.aggregate(
            F.sequence(F.lit(1), n),
            F.lit(0).cast("long"),
            lambda acc, i: acc + bad_for(i).cast("long"),
        ),
    ).otherwise(F.lit(0).cast("long"))
    return ways.select(
        F.col(id_col).alias("way_id"),
        nv.cast("long").alias("n_vertices"),
        n_bad.alias("n_bad_pairs"),
        ((nv >= 3) & (n_bad == 0)).alias("is_valid"),
    )
