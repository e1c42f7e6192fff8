"""Trajectory-similarity join: symmetric Hausdorff distance between
point-set trajectories — "which trips cover the same ground" (route
conflation, GPS-track clustering, probe-data dedup). Completes the
trajectory family: geo/trips.py segments and summarizes single
trajectories, geo/mapmatch.py snaps them to the way network; this
module compares them to each other.

Reference analog: trajectories are the moving-object view of the node
streams the reference models (`lib/osm/node.rb`; SURVEY.md §1.4);
pairwise similarity extends the graft's spatial-join family
(SURVEY.md §2.10) with the set-distance shape — Spark-first design.

Semantics: the symmetric Hausdorff distance
``H(A,B) = max(h(A→B), h(B→A))`` with ``h(A→B) = max_{a∈A} min_{b∈B}
haversine(a,b)`` — a SET distance (point order never enters), so no
per-trip ordering or window is needed anywhere in the plan, and
``collect_list``'s partition-order nondeterminism is harmless: min/max
over the same multiset of exact doubles is order-independent.

Exactness: every leaf distance is the engine's ``haversine_m``
(geo/knn.py), whose op order the DuckDB oracles already replay
bit-exactly across the radius/DBSCAN family; min/max/greatest are exact
selections over those doubles, so the reported distance is one of the
shared haversine values and survives the value hash after millimeter
rounding.

Plan shape (the engine's standard cell-prejoin ladder):

1. candidates — per-trip DISTINCT cell sets; the B side explodes each
   cell's K-disk at a ring planned from ``d_max_m`` (geo/radius.py
   plan_res/plan_ring — provably sufficient: if H(A,B) ≤ d then some
   cross pair is within d, so A's point-cell lands in B's disk). Cell
   equi-join, ``trip_a < trip_b``, distinct pairs. Optional data-driven
   hot-cell salting (``pipeline/salting.py``) — dense urban cells are
   the usual Zipf hazard.
2. refine — per-trip point arrays attach to the pair list (two
   shuffle_hash equi-joins on the trip id; never a join ON the arrays),
   then the max-min fold runs entirely inside codegen as nested
   ``transform``/``array_min``/``array_max`` higher-order expressions:
   per-pair cost O(|A|·|B|) with zero Python and zero extra shuffle.

Scale: the pair list is bounded by cell co-location, per-pair work by
trip length — segment pathological multi-day tracks first
(geo/trips.py stay-point splitting) exactly as a production probe
pipeline does; the 10^12-point axis is never replicated, only its
bounded per-trip arrays ride the two attach joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.geo.hexgrid import hex_cell_expr, hex_disk_expr
from osm_spark.geo.knn import haversine_m
from osm_spark.geo.radius import plan_res, plan_ring
from osm_spark.pipeline.salting import keyed_join

__all__ = ["hausdorff_join", "frechet_join"]


def _plan_cells(pts: DataFrame, d_max_m: float, res, max_abs_lat):
    """Shared ring planning: (res, ring) from the distance bound and the
    latitude bound (one memoized scalar when the caller has no catalog
    stat — same contract as radius_join's ``n_nodes``)."""
    if max_abs_lat is None:
        from osm_spark.pipeline.stats import memoized_first

        row = memoized_first(pts.agg(F.max(F.abs(F.col("lat")))))
        if row[0] is None:
            raise ValueError("trajectory join: points is empty")
        max_abs_lat = float(row[0])
    if res is None:
        res = plan_res(d_max_m, max_abs_lat)
    return res, plan_ring(d_max_m, res, max_abs_lat)


def _cand_pairs(
    pts: DataFrame, res: int, ring: int, salts: DataFrame | None
) -> DataFrame:
    """(trip_a, trip_b) candidate pairs, trip_a < trip_b — complete for
    any similarity ≥ the closest cross-pair distance (Hausdorff and
    Fréchet both are): per-trip DISTINCT cell sets, B side exploding
    each cell's K-disk, cell equi-join (optionally hot-cell salted)."""
    cell = hex_cell_expr("lat", "lon", res)
    a_cells = pts.select(
        F.col("_tid").alias("trip_a"), cell.alias("cell")
    ).distinct()
    b_cells = pts.select(
        F.col("_tid").alias("trip_b"),
        F.explode(hex_disk_expr(cell, res, ring)).alias("cell"),
    ).distinct()
    cand = keyed_join(
        a_cells, b_cells, "cell", "shuffle" if salts is None else "salted",
        salts=salts, scatter="trip_a",
    )
    return (
        cand.where(F.col("trip_a") < F.col("trip_b"))
        .select("trip_a", "trip_b")
        .distinct()
    )


def hausdorff_join(
    points: DataFrame,
    d_max_m: float,
    *,
    res: int | None = None,
    max_abs_lat: float | None = None,
    id_col: str = "trip_id",
    salts: DataFrame | None = None,
) -> DataFrame:
    """(trip_a, trip_b, h_mm) for every unordered trajectory pair with
    symmetric Hausdorff distance ≤ ``d_max_m`` meters; ``h_mm`` is the
    distance in integer millimeters (round-half-away — the engine's
    quantized-output idiom). ``points``: (trip_id, lat, lon) — one row
    per trajectory point, set semantics.

    ``max_abs_lat`` bounds the coverage ring; when omitted it is one
    memoized map-reduced scalar over ``points`` (pass the catalog stat
    at planet scale, same contract as radius_join's ``n_nodes``).
    ``salts`` opts the candidate cell join into the engine's hot-key
    splitting (pass ``key_salt_plan`` output over the A side's cells)."""
    if d_max_m <= 0:
        raise ValueError(f"d_max_m must be > 0, got {d_max_m}")
    pts = points.select(
        F.col(id_col).alias("_tid"),
        F.col("lat").cast("double").alias("lat"),
        F.col("lon").cast("double").alias("lon"),
    )
    res, ring = _plan_cells(pts, d_max_m, res, max_abs_lat)
    cand = _cand_pairs(pts, res, ring, salts)

    arrs = pts.groupBy("_tid").agg(
        F.collect_list(F.struct("lat", "lon")).alias("pts")
    )
    paired = (
        cand.join(
            arrs.select(
                F.col("_tid").alias("trip_a"), F.col("pts").alias("a_pts")
            ).hint("shuffle_hash"),
            "trip_a",
        )
        .join(
            arrs.select(
                F.col("_tid").alias("trip_b"), F.col("pts").alias("b_pts")
            ).hint("shuffle_hash"),
            "trip_b",
        )
    )
    directed = lambda xs, ys: F.array_max(  # noqa: E731
        F.transform(
            xs,
            lambda p: F.array_min(
                F.transform(
                    ys,
                    lambda q: haversine_m(p["lat"], p["lon"], q["lat"], q["lon"]),
                )
            ),
        )
    )
    h = F.greatest(
        directed(F.col("a_pts"), F.col("b_pts")),
        directed(F.col("b_pts"), F.col("a_pts")),
    )
    return (
        paired.withColumn("_h", h)
        .where(F.col("_h") <= F.lit(float(d_max_m)))
        .select(
            "trip_a",
            "trip_b",
            F.round(F.col("_h") * 1000.0).cast("long").alias("h_mm"),
        )
    )


def frechet_join(
    points: DataFrame,
    d_max_m: float,
    *,
    res: int | None = None,
    max_abs_lat: float | None = None,
    id_col: str = "trip_id",
    ord_col: str = "ord",
    salts: DataFrame | None = None,
) -> DataFrame:
    """(trip_a, trip_b, f_mm) for every unordered trajectory pair with
    DISCRETE FRECHET distance ≤ ``d_max_m`` meters (integer-millimeter
    output) — the ORDER-AWARE similarity: two tracks over the same
    ground in opposite directions are Hausdorff-close but Frechet-far.
    ``points``: (trip_id, ord, lat, lon); ``ord`` must be unique within
    a trip (timestamp / ping sequence) — it pins the curve order.

    The Eiter-Mannila coupling DP runs entirely inside codegen as
    nested ``aggregate`` folds over the ordered point arrays (zero
    Python, zero extra shuffle; per-pair cost O(|A|x|B|)). Exactness
    across engines comes free from the DP's ALGEBRA, not its evaluation
    order: every cell is a min/max SELECTION over the shared haversine
    leaves, so the sequential fold here and the DuckDB oracle's
    closed-form recursion (min over k <= j of max(window-max d, prev
    entry)) pick bit-identical doubles.

    Candidates reuse the Hausdorff cell-disk rule — complete because
    Hausdorff <= Frechet always."""
    if d_max_m <= 0:
        raise ValueError(f"d_max_m must be > 0, got {d_max_m}")
    pts = points.select(
        F.col(id_col).alias("_tid"),
        F.col(ord_col).alias("_ord"),
        F.col("lat").cast("double").alias("lat"),
        F.col("lon").cast("double").alias("lon"),
    )
    res, ring = _plan_cells(pts, d_max_m, res, max_abs_lat)
    cand = _cand_pairs(pts.drop("_ord"), res, ring, salts)

    arrs = (
        pts.groupBy("_tid")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_ord", "lat", "lon"))),
                lambda s: F.struct(s["lat"].alias("lat"), s["lon"].alias("lon")),
            ).alias("pts")
        )
    )
    paired = (
        cand.join(
            arrs.select(
                F.col("_tid").alias("trip_a"), F.col("pts").alias("a_pts")
            ).hint("shuffle_hash"),
            "trip_a",
        )
        .join(
            arrs.select(
                F.col("_tid").alias("trip_b"), F.col("pts").alias("b_pts")
            ).hint("shuffle_hash"),
            "trip_b",
        )
    )
    dist = lambda p, q: haversine_m(  # noqa: E731
        p["lat"], p["lon"], q["lat"], q["lon"]
    )
    b = F.col("b_pts")
    a1 = F.element_at(F.col("a_pts"), 1)
    empty = F.array().cast("array<double>")
    # row 1: running max of d(a1, b_j)
    row1 = F.aggregate(
        b,
        empty,
        lambda acc, q: F.concat(
            acc,
            F.array(
                F.when(F.size(acc) == 0, dist(a1, q)).otherwise(
                    F.greatest(dist(a1, q), F.element_at(acc, -1))
                )
            ),
        ),
    )
    # rows 2..n: new[j] = max(d(ai,bj), min(prev[j], prev[j-1], new[j-1]))
    # (j = 1 uses prev[1] alone) — one inner index fold per outer point
    inner = lambda prev, a: F.aggregate(  # noqa: E731
        F.sequence(F.lit(1), F.size(b)),
        empty,
        lambda acc, j: F.concat(
            acc,
            F.array(
                F.greatest(
                    dist(a, F.element_at(b, j.cast("int"))),
                    F.when(
                        j == 1, F.element_at(prev, 1)
                    ).otherwise(
                        F.least(
                            F.element_at(prev, j.cast("int")),
                            F.element_at(prev, (j - 1).cast("int")),
                            F.element_at(acc, -1),
                        )
                    ),
                )
            ),
        ),
    )
    final_row = F.aggregate(
        F.slice(F.col("a_pts"), F.lit(2), F.size("a_pts") - 1),
        row1,
        inner,
    )
    return (
        paired.withColumn("_f", F.element_at(final_row, -1))
        .where(F.col("_f") <= F.lit(float(d_max_m)))
        .select(
            "trip_a",
            "trip_b",
            F.round(F.col("_f") * 1000.0).cast("long").alias("f_mm"),
        )
    )
