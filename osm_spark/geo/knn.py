"""Grid-partitioned kNN join: nearest OSM amenity nodes per page.

Two-phase plan (filter-and-refine, cell-level prune):

1. **Cell pre-pass** — over the *occupied cells* (distinct point cells —
   orders of magnitude fewer rows than points): rank nodes by distance
   from each cell center, take the kth distance, and keep exactly the
   nodes within ``kth_center + 2·circumradius``. Triangle inequality
   (haversine is a metric): for any point p in cell c,
   ``kth(p) ≤ kth(center) + circum``, so every node that can be in p's
   top-k lies within ``kth(center) + 2·circum`` of the center — the kept
   set is a *provably sufficient* candidate set for every point in the
   cell. Typical size ≈ k+ε instead of "all nodes in a fixed ring".
2. **Point refine** — points equi-join the per-cell candidate sets on
   cell id, exact haversine, array top-k per url. The join input is
   ≈ (k+ε)·|points| rows, data-driven rather than ring-guess-driven.

This replaces a fixed-ring escalation loop: the search radius adapts to
local node density per cell (dense city cells get tight radii, sparse
rural cells wide ones) with zero stragglers and no fallback scan. At
planet scale phase 1 is itself a distributed job over (cells × nearby
nodes); phase 2 — the only stage that touches the 10^12-row side — is a
single hash join on cell id whose physical strategy is chosen by size
(``phase2``): the per-cell candidate table broadcasts while it fits, but
at the 10^12-page design point the occupied-cell count approaches the
global res-8 land-cell count (~10⁷-10⁸) and ×(k+ε) struct entries that
table is multi-GB — past Spark's broadcast ceiling — so the fallback
hash-joins points to candidate sets with ONE shuffle of the points on
cell id (still no window and no sort over the big side: the top-k stays
the narrow transform → array_sort → slice chain after the join).

Distance is haversine, computed as pure Column math (codegen); ties break
on node id so output is deterministic (SURVEY.md §7 "ordering ties").
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from osm_spark.geo.hexgrid import edge_deg, hex_cell_expr, hex_center_expr, hex_disk_expr
from osm_spark.pipeline import salting

EARTH_RADIUS_M = 6371000.0
DEG_M = 111320.0  # meters per degree of latitude

# a phase-2 candidate row is a cell id + (k+ε) structs of
# (node_id, nlat, nlon) ≈ 24 bytes each
_CAND_STRUCT_BYTES = 24
_CAND_SLACK = 4  # ε: candidates beyond k that the prune typically keeps


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in meters (pure Column math)."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2.0
    dlon = F.radians(lon2 - lon1) / 2.0
    a = F.sin(dlat) ** 2 + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon) ** 2
    return 2.0 * EARTH_RADIUS_M * F.asin(F.sqrt(a))


def haversine_m_py(lat1, lon1, lat2, lon2):
    """numpy oracle using the same formula/operation order."""
    import numpy as np

    rlat1, rlat2 = np.radians(lat1), np.radians(lat2)
    dlat = np.radians(lat2 - lat1) / 2.0
    dlon = np.radians(lon2 - lon1) / 2.0
    a = np.sin(dlat) ** 2 + np.cos(rlat1) * np.cos(rlat2) * np.sin(dlon) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))


def circum_m(res: int) -> float:
    """Upper bound (meters) on the distance from any point in a cell to
    its center: circumradius = edge (degree space); a degree-space
    displacement of d° is ≤ d·111320 m in any direction (longitude
    degrees are shorter by cos(lat)). 5% slack absorbs the
    haversine-vs-planar difference at cell scale."""
    return edge_deg(res) * DEG_M * 1.05


def cell_candidates(
    pts: DataFrame, n: DataFrame, k: int, res: int
) -> DataFrame:
    """Phase 1: sufficient candidate node set per occupied cell.

    (pcell, node_id, nlat, nlon) where node is within
    ``kth_center + 2·circum`` of the cell center — provably a superset of
    every in-cell point's true top-k (see module docstring). Cost is
    |occupied cells| × |nearby nodes|, independent of the point count.
    """
    cells = pts.select("pcell").distinct().withColumn(
        "ctr", hex_center_expr("pcell", res)
    )
    # Small-dim node table → broadcast cross; at planet scale substitute a
    # ring-join here (cells × nodes-in-disk) — phase 2 is unchanged.
    cand = cells.crossJoin(F.broadcast(n)).select(
        "pcell",
        "node_id",
        "nlat",
        "nlon",
        haversine_m(
            F.col("ctr.lat"), F.col("ctr.lon"), F.col("nlat"), F.col("nlon")
        ).alias("dist_c"),
    )
    w_cell = Window.partitionBy("pcell").orderBy(
        F.col("dist_c").asc(), F.col("node_id").asc()
    )
    ranked = cand.withColumn("rn", F.row_number().over(w_cell)).withColumn(
        # kth center distance (or the farthest node when < k exist)
        "kth_c",
        F.max(F.when(F.col("rn") <= k, F.col("dist_c"))).over(
            Window.partitionBy("pcell")
        ),
    )
    return ranked.filter(
        F.col("dist_c") <= F.col("kth_c") + F.lit(2.0 * circum_m(res))
    ).select("pcell", "node_id", "nlat", "nlon")


def _min_m_per_deg(center_lat: Column, margin_deg: float) -> Column:
    """Lower bound on meters per degree of displacement anywhere within
    ``margin_deg`` of a cell center: latitude degrees are a full
    ``DEG_M``; longitude degrees shrink by cos(lat), so
    ``DEG_M * cos(|lat| + margin)`` (clamped below 89°) under-estimates
    the metric distance of ANY degree-space displacement — the safe
    direction for a coverage guarantee."""
    lat_bound = F.least(F.abs(center_lat) + F.lit(margin_deg), F.lit(89.0))
    return F.lit(DEG_M) * F.cos(F.radians(lat_bound))


def cell_candidates_ring(
    pts: DataFrame,
    n: DataFrame,
    k: int,
    res: int,
    rings: tuple[int, ...] = (2, 4, 8),
    materialize: bool = True,
) -> DataFrame:
    """Planet-scale phase 1: cell-disk equi-join instead of cells × nodes.

    Each node explodes to the cells of its K-disk (``hex_disk_expr`` —
    codegen'd literal offsets, |nodes| × 3K(K+1)+1 rows) and equi-joins
    the occupied point cells on cell id, so the pre-pass is
    |cells| × O(ring occupancy) rather than |cells| × |nodes|. A cell is
    *resolved* at ring K when (a) it sees ≥ k candidate nodes and (b) the
    kth candidate's center distance + 2·circumradius fits inside the
    ring's guaranteed-coverage radius — any node outside the K-disk lies
    beyond ``(1.5K − 0.5)·edge`` in degree space (hex-ring inradius minus
    one cell circumradius on each side), converted to meters with the
    latitude-aware lower bound. Within that guarantee the ring's kth ==
    the global kth, so the kept set is exactly the broadcast pre-pass's
    (tests assert set equality). Unresolved cells (sparse regions whose
    kth neighbor is far) escalate through doubling rings and finally fall
    back to the broadcast pre-pass.

    ``materialize`` (default, the real path): each ring's kept rows and
    the occupied-cell table are pinned with ``localCheckpoint`` — these
    are *cells-scale* tables (occupied cells × (k+ε)), kilobytes per
    million points, and without the pin every later ring's ``remaining``
    left-anti RE-EXECUTES all previous rings' disk joins AND the
    upstream point extraction (ring i recomputed rings 1..i−1: ~O(R²)
    duplicate phase-1 work, and the 10^12-row extract ran once per ring
    — measured 14 s → 4 s warm at sf0.01). No driver-side data moves;
    the pins are scheduling barriers only. Inherited-stats caveat
    (BENCH.md finding #12) does not bite here: every consumer of the
    pinned frames is an explicitly hinted/broadcast join or a union.
    ``materialize=False`` keeps the single lazy plan (used by the
    plan-shape test; output is identical — tested).
    """
    _pin = (lambda df: df.localCheckpoint()) if materialize else (lambda df: df)
    cells = _pin(
        pts.select("pcell").distinct().withColumn(
            "ctr", hex_center_expr("pcell", res)
        )
    )
    # Generate barrier: bind ncell ONCE. CollapseProject would inline the
    # full hex_cell_expr into every one of the 3K(K+1)+1 disk entries
    # (217 at ring 8), overflowing janino's method-size limit — codegen
    # fails and the stage silently drops to interpreted mode (observed
    # 16 s warm vs 2 s; same counter-move as geo/radius.py).
    node_cells = n.select(
        "node_id",
        "nlat",
        "nlon",
        F.explode(F.array(hex_cell_expr("nlat", "nlon", res))).alias("ncell"),
    )
    resolved_parts: list[DataFrame] = []
    remaining = cells
    for ring_k in rings:
        disk = node_cells.select(
            "node_id",
            "nlat",
            "nlon",
            F.explode(hex_disk_expr("ncell", res, ring_k)).alias("pcell"),
        )
        cand = remaining.join(disk, "pcell").select(
            "pcell",
            "ctr",
            "node_id",
            "nlat",
            "nlon",
            haversine_m(
                F.col("ctr.lat"), F.col("ctr.lon"), F.col("nlat"), F.col("nlon")
            ).alias("dist_c"),
        )
        w_cell = Window.partitionBy("pcell").orderBy(
            F.col("dist_c").asc(), F.col("node_id").asc()
        )
        ranked = cand.withColumn("rn", F.row_number().over(w_cell)).withColumn(
            "kth_c",
            F.max(F.when(F.col("rn") <= k, F.col("dist_c"))).over(
                Window.partitionBy("pcell")
            ),
        ).withColumn(
            "n_cand", F.count("*").over(Window.partitionBy("pcell"))
        )
        margin = (1.5 * ring_k + 1.0) * edge_deg(res)
        guarantee_m = (
            F.lit((1.5 * ring_k - 0.5) * edge_deg(res))
            * _min_m_per_deg(F.col("ctr.lat"), margin)
        )
        ok = (F.col("n_cand") >= k) & (
            F.col("kth_c") + F.lit(2.0 * circum_m(res)) <= guarantee_m
        )
        kept = _pin(
            ranked.filter(ok)
            .filter(F.col("dist_c") <= F.col("kth_c") + F.lit(2.0 * circum_m(res)))
            .select("pcell", "node_id", "nlat", "nlon")
        )
        resolved_parts.append(kept)
        # derive the resolved cells from the PINNED kept rows so the
        # left-anti chain never re-executes the ring join above
        remaining = remaining.join(
            kept.select("pcell").distinct(), "pcell", "left_anti"
        )
    # Sparse-region fallback: broadcast pre-pass for whatever is left
    # (lazy — an empty remainder costs one empty join).
    resolved_parts.append(cell_candidates(remaining.select("pcell"), n, k, res))
    out = resolved_parts[0]
    for p in resolved_parts[1:]:
        out = out.unionByName(p)
    return out


_NODE_ROW_BYTES = 24  # node id + 2 doubles


def knn_join(
    points: DataFrame,
    nodes: DataFrame,
    k: int = 3,
    res: int = 8,
    phase1: str = "auto",
    phase2: str = "auto",
    n_cells: int | None = None,
    n_nodes: int | None = None,
    salts: DataFrame | None = None,
) -> DataFrame:
    """(url, node_id, dist_m, rank) — k nearest nodes per page point.

    ``points``: url, lat, lon. ``nodes``: id, lat, lon (small dim,
    broadcast). ``res`` is the prune-grid resolution; correctness does
    not depend on it, only candidate fanout (finer res → tighter prune
    radius → fewer candidates, more cells in phase 1).

    ``phase1`` picks the candidate builder, not a join form:
    'broadcast' (cells × broadcast nodes — right while the node table
    broadcasts), 'ring' (cell-disk equi-join escalation,
    ``cell_candidates_ring`` — the planet-scale form where the node side
    no longer fits a broadcast: 10^8 OSM amenity nodes ≈ 2.4 GB), or
    'auto' (default): 'broadcast' while ``n_nodes`` × 24 B fits
    ``salting.BROADCAST_MAX_BYTES``. ``n_nodes`` is a catalog stat; when
    omitted ONE memoized count runs over the node dim — the same
    single-scalar-over-the-small-dim precedent as ``radius_join``'s
    ``max_abs_lat`` (the node dim is exactly the input a caller is least
    likely to know the size of, so the planet path must not require
    being asked for by name). Both builders produce identical candidate
    sets (tested), so phase 2 and results are unchanged.

    ``phase2`` picks the physical join of points × candidate sets
    (``salting.keyed_join``) — results are identical on every path
    (tested); only the plan differs:

    - ``'broadcast'``: candidate sets broadcast; points never shuffle.
      Right whenever the occupied-cell count × (k+ε) fits a broadcast.
    - ``'shuffle'``: shuffle hash join on the cell id — points shuffle
      exactly once, candidate sets build the per-partition hash table.
      The planet-scale form: at 10^12 pages the candidate table is
      multi-GB (bounded below by the global occupied-cell count), past
      any sane broadcast. Still no window/sort over the big side.
    - ``'auto'`` (default): with ``n_cells`` (a catalog stat — the
      distinct-cell count of the points table), broadcast while the
      ``n_cells × (k+ε) × 24 B`` estimate fits, without running
      anything. Without any stat the join is PINNED shuffle-hash (the
      ``keyed_join`` trade-off: the worst case never sorts the points
      side). Callers who want the broadcast plan supply the stat
      (``n_cells``) or pass ``phase2='broadcast'``.
    - ``'salted'``: the shuffle plan with explicit hot-cell splitting
      (pipeline/salting.py — the PIP family's scatter/replicate shape
      on the pcell key): points in a hot cell scatter over
      ``pmod(xxhash64(url), k)``, that cell's candidate ARRAY
      replicates into all k buckets, and the join key becomes
      (pcell, _salt) so no single task owns a dense urban cell's whole
      point mass. ``salts`` supplies the per-cell plan (a
      ``key_salt_plan`` result / lineage-metric stat); when omitted it
      is computed from the points' own cell histogram (one aggregate
      job — callers on a timed path should precompute).

    In every phase-2 variant the per-cell candidate set arrives as an
    ARRAY and the top-k is transform → array_sort → slice → posexplode —
    narrow Column ops in one codegen stage, never a row_number window
    over |points|×(k+ε) rows. Struct sort order (dist_m, node_id) is
    exactly the deterministic tie-break.
    """
    n = nodes.select(
        F.col("id").alias("node_id"),
        F.col("lat").alias("nlat"),
        F.col("lon").alias("nlon"),
    )
    # pts is read twice (phase 1 cells, phase 2 probe) — recomputing the
    # upstream extraction stage is cheaper than a DataFrame cache at high
    # local thread counts (block-store write contention, measured 10×).
    pts = points.select("url", "lat", "lon").withColumn(
        "pcell", hex_cell_expr("lat", "lon", res)
    )

    if phase1 == "auto":
        # the count job is memoized per (session, plan) — the planner's
        # stat probe must not ride inside a caller's timed hot path
        # (BENCH r4 knn regression; pipeline/stats.py)
        from osm_spark.pipeline.stats import memoized_count

        if n_nodes is None:
            n_nodes = memoized_count(n)
        fits = n_nodes * _NODE_ROW_BYTES <= salting.BROADCAST_MAX_BYTES
        phase1 = "broadcast" if fits else "ring"
    if phase1 not in ("broadcast", "ring"):
        raise ValueError(f"unknown knn_join phase1 strategy: {phase1!r}")
    phase1_fn = cell_candidates_ring if phase1 == "ring" else cell_candidates
    # No persist: cand_sets feeds straight into one exchange (broadcast or
    # shuffle), which materializes it exactly once anyway — a persist in
    # front of either is pure overhead (and measured badly at high local
    # thread counts; BENCH.md finding #1).
    cand_sets = (
        phase1_fn(pts, n, k, res)
        .groupBy("pcell")
        .agg(
            F.collect_list(F.struct("node_id", "nlat", "nlon")).alias("cands")
        )
    )
    est = None if n_cells is None else n_cells * (k + _CAND_SLACK) * _CAND_STRUCT_BYTES
    joined = salting.keyed_join(
        pts, cand_sets, "pcell", phase2, est_bytes=est, salts=salts,
        scatter="url", label="knn_join phase2",
    )
    scored = joined.withColumn(
        "topk",
        F.slice(
            F.array_sort(
                F.transform(
                    F.col("cands"),
                    lambda c: F.struct(
                        haversine_m(
                            F.col("lat"), F.col("lon"), c["nlat"], c["nlon"]
                        ).alias("dist_m"),
                        c["node_id"].alias("node_id"),
                    ),
                )
            ),
            1,
            k,
        ),
    )
    return scored.select(
        "url", F.posexplode(F.col("topk")).alias("pos", "c")
    ).select(
        "url",
        F.col("c.node_id").alias("node_id"),
        F.col("c.dist_m").alias("dist_m"),
        (F.col("pos") + 1).alias("rank"),
    )
