"""Radius (DWithin) join: all (page point, OSM node) pairs within R meters
— "every page geotagged within 500 m of a station" — the third classic
spatial-join shape next to PIP (containment) and kNN (cardinality).

Reference analog: the element model whose node coordinates this queries
(`lib/osm/node.rb` lat/long attributes; SURVEY.md §1.4 maps them to the
nodes dim table); the radius predicate itself is graft-mandated
(SURVEY.md §2.10 — no reference counterpart, Spark-first design).

Plan shape (filter-and-refine, same family as ``knn_join``):

1. **Candidate generation** — each node explodes to the hex cells of its
   K-disk (``hex_disk_expr`` — compile-time literal offsets, pure
   codegen), where K is the smallest ring whose disk provably covers
   every point within R meters (``plan_ring``). Candidate volume is
   |nodes| × (3K(K+1)+1) — independent of the point count.
2. **Refine** — points equi-join the exploded candidates on their own
   cell id and keep exact ``haversine_m ≤ R``. The 10^12-row side is
   touched by ONE hash join on the cell id: broadcast while the
   candidate table fits (points never shuffle), shuffle-hash on the cell
   id past the ceiling — ``salting.keyed_join``, the form every
   cell-keyed join outside PIP takes.

Coverage guarantee (why the K-disk is sufficient): a point within R
meters of a node is within ``deg = R / (DEG_M · cos(|lat|+margin)) ·
1.05`` degrees of it (longitude degrees are the shorter ones — dividing
by the *lower* bound on meters-per-degree over-estimates the degree
displacement, the safe direction; 5% slack absorbs the haversine-vs-
planar difference, as ``circum_m`` does). Hex cells at grid distance g
have centers ≥ 1.5·g·edge apart in the same degree plane, and any point
is within one circumradius (= edge) of its cell center, so cells outside
the K-disk hold only points beyond ``(1.5K − 2)·edge`` degrees.
``plan_ring`` picks the smallest K with ``1.5K·edge ≥ deg + 2.1·edge``.

``plan_res`` then picks the finest resolution that keeps K ≤ 4 (disk
≤ 61 cells): finer cells prune more per-pair work but fan each node out
wider — the product is minimized near K ∈ [2, 4] for any radius.

Determinism: output is the exact pair set (no floats need ride into a
value hash); ``dist_m`` is pure Column haversine, identical IEEE op
order to the DuckDB oracle's formula.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.geo.hexgrid import edge_deg, hex_cell_expr, hex_disk_expr
from osm_spark.geo.knn import DEG_M, haversine_m
from osm_spark.pipeline.salting import keyed_join

_CAND_ROW_BYTES = 32  # cell id + node id + 2 doubles


def plan_ring(radius_m: float, res: int, max_abs_lat_deg: float) -> int:
    """Smallest hex ring K whose node-centered K-disk covers every point
    within ``radius_m`` (derivation in the module docstring).

    The latitude margin scales with the radius: a matching point can sit
    up to ``radius_m`` poleward of the northernmost node, where
    meters-per-degree-longitude is smaller than at the node itself — a
    fixed +1° margin only covers ~111 km, so beyond that the K-disk
    coverage guarantee (recall) would silently break at high latitude.
    110574 m/° is the MINIMUM meridian degree length, so dividing by it
    over-estimates the poleward degree displacement — the safe side."""
    lat_bound = min(abs(max_abs_lat_deg) + radius_m / 110574.0 + 1.0, 89.0)
    min_m_per_deg = DEG_M * math.cos(math.radians(lat_bound))
    deg_needed = radius_m / min_m_per_deg * 1.05
    e = edge_deg(res)
    return max(1, math.ceil((deg_needed + 2.1 * e) / (1.5 * e)))


def plan_res(radius_m: float, max_abs_lat_deg: float, max_ring: int = 4) -> int:
    """Finest resolution whose ring stays ≤ ``max_ring`` (disk ≤ 61
    cells) — bounds per-node fanout while keeping cells radius-tight."""
    for res in range(12, 0, -1):
        if plan_ring(radius_m, res, max_abs_lat_deg) <= max_ring:
            return res
    return 0


def radius_join(
    points: DataFrame,
    nodes: DataFrame,
    radius_m: float,
    res: int | None = None,
    strategy: str = "auto",
    n_nodes: int | None = None,
    max_abs_lat: float | None = None,
    salts: DataFrame | None = None,
) -> DataFrame:
    """(url, node_id, dist_m) — every pair within ``radius_m`` meters.

    ``points``: url, lat, lon (the big side — touched by one hash join,
    never a window or sort). ``nodes``: id, lat, lon (the same external
    convention as ``knn_join``).

    ``max_abs_lat`` bounds the coverage ring; when omitted it is one
    scalar aggregate over the *node* table (the small dim — the same
    single-scalar precedent as ``pip_join``'s strategy estimate; any
    matching point is within the ring margin of some node, so the node
    bound covers the pair). ``strategy`` is 'broadcast', 'shuffle',
    'salted' or 'auto' (``salting.keyed_join``). ``n_nodes`` feeds the
    auto strategy (candidate table ≈ ``n_nodes`` × disk(ring) × 32 B);
    without it the join is PINNED shuffle-hash — unhinted, the static
    planner falls back to SortMergeJoin (the Generate output has no
    usable stats) and the worst case sorts the 10^12-row points side.

    ``strategy='salted'`` adds explicit hot-cell splitting to the
    shuffle plan (pipeline/salting.py, the PIP scatter/replicate shape
    on pcell): hot-cell points scatter over ``pmod(xxhash64(url), k)``
    and that cell's node-candidate rows replicate k ways, so a dense
    urban cell's pair mass spreads over k tasks instead of relying on
    AQE's block-level split. ``salts`` supplies the per-cell plan; when
    omitted it is computed from the points' own cell histogram.
    """
    if radius_m <= 0:
        raise ValueError(f"radius_m must be > 0, got {radius_m}")
    n = nodes.select(
        F.col("id").alias("node_id"),
        F.col("lat").alias("nlat"),
        F.col("lon").alias("nlon"),
    )
    if max_abs_lat is None:
        from osm_spark.pipeline.stats import memoized_first

        # memoized scalar probe (pipeline/stats.py) — a catalog min/max
        # stat in production; one job per session, not per call
        bound = memoized_first(n.agg(F.max(F.abs(F.col("nlat")))))[0]
        if bound is None:
            raise ValueError(
                "radius_join: nodes is empty — no pairs can exist; pass "
                "max_abs_lat explicitly to skip this check"
            )
        max_abs_lat = float(bound)
    if res is None:
        res = plan_res(radius_m, max_abs_lat)
    ring = plan_ring(radius_m, res, max_abs_lat)

    # Generate barrier: bind ncell ONCE before the disk expansion.
    # Inlining hex_cell_expr into all 3K(K+1)+1 disk entries (what
    # CollapseProject does to a plain withColumn) overflows janino's
    # method-size limit — codegen fails and the whole stage silently
    # drops to interpreted mode (observed: 13 s warm for a 400-node
    # candidate build; 0.3 s with the barrier).
    staged = n.select(
        "node_id",
        "nlat",
        "nlon",
        F.explode(F.array(hex_cell_expr("nlat", "nlon", res))).alias("ncell"),
    )
    cand = staged.select(
        "node_id",
        "nlat",
        "nlon",
        F.explode(hex_disk_expr("ncell", res, ring)).alias("pcell"),
    )
    pts = points.withColumn("pcell", hex_cell_expr("lat", "lon", res))

    disk = 3 * ring * (ring + 1) + 1
    est = None if n_nodes is None else n_nodes * disk * _CAND_ROW_BYTES
    joined = keyed_join(
        pts, cand, "pcell", strategy, est_bytes=est, salts=salts,
        scatter="url", label="radius_join",
    )

    dist = haversine_m(F.col("lat"), F.col("lon"), F.col("nlat"), F.col("nlon"))
    return (
        joined.withColumn("dist_m", dist)
        .filter(F.col("dist_m") <= F.lit(float(radius_m)))
        .select("url", "node_id", "dist_m")
    )
