"""Distributed grid DBSCAN: density clusters of page points.

The spatial-clustering step of a web-corpus pipeline — "group geotagged
pages into venues/neighborhoods" — composing the engine's three existing
primitives instead of inventing a fourth: the hex K-disk candidate
generator (geo/radius.py's coverage planning), exact haversine refine
(geo/knn.py), and min-label connected components (graph/components.py).
No reference counterpart (the reference is an API client); graft-mandated
family SURVEY.md §2.10 (grid-partitioned spatial operators).

Semantics (classic DBSCAN, deterministic variant):

- neighborhood(p) = points within ``eps_m`` meters, INCLUDING p itself;
- core: |neighborhood| ≥ ``min_pts``;
- clusters: connected components of the core-core eps-graph, labeled by
  the MINIMUM core id in the component (so the labeling is unique — the
  one DBSCAN degree of freedom, border-point assignment order, is fixed
  by taking the min cluster label over a border point's core neighbors);
- border: non-core with ≥1 core neighbor; noise: everything else.

Plan shape (both sides are the 10^12-row points table — unlike
radius_join there is no small dim, so the candidate join is cell-keyed
shuffle-hash, never broadcast):

1. ``plan_res``/``plan_ring`` pick (res, K) from eps exactly as the
   radius join does — the K-disk coverage proof carries over verbatim
   with "node" = the right copy of the points table.
2. Right copy explodes to its K-disk cells (pure-codegen literal-offset
   transform); left copy keeps its single cell. ONE shuffle each, keyed
   by cell id; per-cell pair work is cell_occupancy² — physically
   bounded by point density × eps², the irreducible DBSCAN cost. Hot
   urban cells are the standard skew shape: the join is shuffle-hash
   hinted and AQE skew-split handles the probe side (same stance as
   graph/components.py's star joins).
3. ``a_id < b_id`` keeps each unordered pair exactly once WITHOUT a
   distinct: for a fixed pair, the left row's single cell meets the
   right row's disk at most once, and coverage guarantees at least once
   — so the filter, not a dedup shuffle, enforces uniqueness.
4. Degrees, core flags, and component labels are all integer aggregates
   over the pair set — nothing float rides past the eps predicate, so
   the result is value-hash exact against a brute-force + recursive-CTE
   DuckDB oracle.

Pair volume (and everything downstream) is |true eps-pairs|, not
|points|²; the explode fanout is 3K(K+1)+1 ≤ 19 at the default ring
bound — constant per point, independent of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.geo.hexgrid import hex_cell_expr, hex_disk_expr
from osm_spark.geo.knn import haversine_m
from osm_spark.geo.radius import plan_res, plan_ring
from osm_spark.graph.components import connected_components
from osm_spark.pipeline.salting import keyed_join


def eps_pairs(
    points: DataFrame,
    eps_m: float,
    res: int | None = None,
    max_abs_lat: float | None = None,
    salts: DataFrame | None = None,
) -> DataFrame:
    """(a_id, b_id) with a_id < b_id — every unordered point pair within
    ``eps_m`` meters. ``points``: (id, lat, lon), ids unique.

    ``max_abs_lat`` bounds the coverage ring; when omitted it is ONE
    map-reduced scalar over the points table (a full scan — at planet
    scale pass the catalog stat instead, same contract as radius_join's
    ``n_nodes``).

    ``salts`` opts the cell join into explicit hot-cell splitting
    (pipeline/salting.py — pass ``key_salt_plan`` output over the
    single-cell side, or any ``(cell, _k)`` stat): the left side's
    hot-cell rows scatter over ``pmod(xxhash64(a_id), k)`` and the disk
    side's rows for that cell replicate k ways, splitting a dense
    urban cell's build+probe across k tasks. Per-cell PAIR volume is
    still occupancy² — the irreducible DBSCAN cost — but no single
    task owns it."""
    if eps_m <= 0:
        raise ValueError(f"eps_m must be > 0, got {eps_m}")
    if max_abs_lat is None:
        from osm_spark.pipeline.stats import memoized_first

        # memoized (pipeline/stats.py): this probe scans the BIG side —
        # the costliest of the engine's auto-plan stats to repeat
        row = memoized_first(points.agg(F.max(F.abs(F.col("lat")))))
        if row[0] is None:
            raise ValueError("eps_pairs: points is empty — no pairs can exist")
        max_abs_lat = float(row[0])
    if res is None:
        res = plan_res(eps_m, max_abs_lat)
    ring = plan_ring(eps_m, res, max_abs_lat)

    left = points.select(
        F.col("id").alias("a_id"),
        F.col("lat").alias("a_lat"),
        F.col("lon").alias("a_lon"),
        hex_cell_expr("lat", "lon", res).alias("cell"),
    )
    right = points.select(
        F.col("id").alias("b_id"),
        F.col("lat").alias("b_lat"),
        F.col("lon").alias("b_lon"),
        F.explode(
            hex_disk_expr(hex_cell_expr("lat", "lon", res), res, ring)
        ).alias("cell"),
    )
    joined = keyed_join(
        left, right, "cell", "shuffle" if salts is None else "salted",
        salts=salts, scatter="a_id",
    )
    return (
        joined
        .where(F.col("a_id") < F.col("b_id"))
        .where(
            haversine_m(
                F.col("a_lat"), F.col("a_lon"), F.col("b_lat"), F.col("b_lon")
            )
            <= F.lit(float(eps_m))
        )
        .select("a_id", "b_id")
    )


def dbscan(
    points: DataFrame,
    eps_m: float,
    min_pts: int,
    res: int | None = None,
    max_abs_lat: float | None = None,
    max_iter: int = 50,
    salts: DataFrame | None = None,
) -> DataFrame:
    """(id, cluster, role) — DBSCAN labels for every input point.

    ``cluster`` is the minimum core id of the point's cluster (NULL for
    noise); ``role`` ∈ {'core', 'border', 'noise'}. ``min_pts`` counts
    the point itself (the textbook convention: min_pts=1 makes every
    point a singleton core)."""
    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1, got {min_pts}")
    pairs = eps_pairs(
        points, eps_m, res=res, max_abs_lat=max_abs_lat, salts=salts
    )
    return labels_from_pairs(points, pairs, min_pts, max_iter=max_iter)


def labels_from_pairs(
    points: DataFrame,
    pairs: DataFrame,
    min_pts: int,
    max_iter: int = 50,
) -> DataFrame:
    """DBSCAN labeling given the (a_id, b_id) eps-pair set — the
    neighborhood-metric-agnostic half of ``dbscan`` (ST-DBSCAN swaps in
    a spatiotemporal pair generator and reuses this verbatim)."""
    # Degree = |neighborhood| - 1 (self excluded); one combiner-reduced
    # shuffle over 16-byte endpoint rows, never the coordinates.
    deg = (
        pairs.select(F.col("a_id").alias("id"))
        .unionByName(pairs.select(F.col("b_id").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ids = points.select("id")
    core = (
        ids.join(deg.hint("shuffle_hash"), "id", "left")
        .where(F.coalesce(F.col("deg"), F.lit(0)) + 1 >= F.lit(int(min_pts)))
        .select("id")
    )

    # Core-core edges → components; isolated cores (no core neighbor)
    # become their own singleton cluster via the left join below.
    ca = core.select(F.col("id").alias("a_id"))
    cb = core.select(F.col("id").alias("b_id"))
    core_edges = pairs.join(ca.hint("shuffle_hash"), "a_id").join(
        cb.hint("shuffle_hash"), "b_id"
    )
    comp = connected_components(core_edges, a="a_id", b="b_id", max_iter=max_iter)
    core_labeled = (
        core.join(comp.hint("shuffle_hash"), core["id"] == comp["id"], "left")
        .select(
            core["id"],
            F.coalesce(F.col("component"), core["id"]).alias("cluster"),
            F.lit("core").alias("role"),
        )
    )

    # Border: non-core endpoint of a pair whose other endpoint is core —
    # assigned the MIN cluster label over its core neighbors (the
    # deterministic tie-break; plain DBSCAN leaves this order-defined).
    core_cl = core_labeled.select(F.col("id").alias("cid"), F.col("cluster"))
    touch = (
        pairs.join(core_cl.hint("shuffle_hash"), pairs["a_id"] == F.col("cid"))
        .select(F.col("b_id").alias("id"), "cluster")
        .unionByName(
            pairs.join(core_cl.hint("shuffle_hash"), pairs["b_id"] == F.col("cid"))
            .select(F.col("a_id").alias("id"), "cluster")
        )
    )
    border = (
        touch.join(core.withColumnRenamed("id", "xid").hint("shuffle_hash"),
                   touch["id"] == F.col("xid"), "left_anti")
        .groupBy("id")
        .agg(F.min("cluster").alias("cluster"))
        .select("id", "cluster", F.lit("border").alias("role"))
    )

    labeled = core_labeled.unionByName(border)
    noise = (
        ids.join(labeled.select("id").hint("shuffle_hash"), "id", "left_anti")
        .select(
            "id",
            F.lit(None).cast("long").alias("cluster"),
            F.lit("noise").alias("role"),
        )
    )
    return labeled.unionByName(noise)


def st_eps_pairs(
    points: DataFrame,
    eps_m: float,
    eps_t_s: int,
    res: int | None = None,
    max_abs_lat: float | None = None,
) -> DataFrame:
    """(a_id, b_id) with a_id < b_id — unordered pairs within ``eps_m``
    meters AND ``eps_t_s`` seconds. ``points``: (id, lat, lon, ts) with
    integer epoch-second ts.

    Spatiotemporal blocking (Birant & Kut 2007, ST-DBSCAN): the join key
    is (cell, time-bucket) with bucket width = eps_t_s, so a temporal
    burst in a hot cell splits across buckets BEFORE any distance math —
    the time axis is a free extra partition key, not a post-filter over
    the spatial candidate set.  |Δt| ≤ eps_t ⟹ bucket indices differ by
    ≤ 1, so the right side explodes over {tb−1, tb, tb+1} (×3 on top of
    the K-disk's ≤19 — still a constant fanout) and each true pair
    meets exactly once: the left row's single (cell, bucket) matches at
    most one of the right row's replicas, and coverage guarantees one.
    """
    if eps_m <= 0:
        raise ValueError(f"eps_m must be > 0, got {eps_m}")
    if eps_t_s <= 0:
        raise ValueError(f"eps_t_s must be > 0, got {eps_t_s}")
    if max_abs_lat is None:
        from osm_spark.pipeline.stats import memoized_first

        row = memoized_first(points.agg(F.max(F.abs(F.col("lat")))))
        if row[0] is None:
            raise ValueError("st_eps_pairs: points is empty — no pairs can exist")
        max_abs_lat = float(row[0])
    if res is None:
        res = plan_res(eps_m, max_abs_lat)
    ring = plan_ring(eps_m, res, max_abs_lat)

    tb = F.floor(F.col("ts") / F.lit(int(eps_t_s))).cast("long")
    left = points.select(
        F.col("id").alias("a_id"),
        F.col("lat").alias("a_lat"),
        F.col("lon").alias("a_lon"),
        F.col("ts").alias("a_ts"),
        hex_cell_expr("lat", "lon", res).alias("cell"),
        tb.alias("tb"),
    )
    right = points.select(
        F.col("id").alias("b_id"),
        F.col("lat").alias("b_lat"),
        F.col("lon").alias("b_lon"),
        F.col("ts").alias("b_ts"),
        F.explode(
            hex_disk_expr(hex_cell_expr("lat", "lon", res), res, ring)
        ).alias("cell"),
        tb.alias("tb0"),
    ).select(
        "b_id", "b_lat", "b_lon", "b_ts", "cell",
        F.explode(F.array(F.col("tb0") - 1, F.col("tb0"), F.col("tb0") + 1)).alias("tb"),
    )
    return (
        left.join(right.hint("shuffle_hash"), ["cell", "tb"])
        .where(F.col("a_id") < F.col("b_id"))
        .where(F.abs(F.col("a_ts") - F.col("b_ts")) <= F.lit(int(eps_t_s)))
        .where(
            haversine_m(
                F.col("a_lat"), F.col("a_lon"), F.col("b_lat"), F.col("b_lon")
            )
            <= F.lit(float(eps_m))
        )
        .select("a_id", "b_id")
    )


def st_dbscan(
    points: DataFrame,
    eps_m: float,
    eps_t_s: int,
    min_pts: int,
    res: int | None = None,
    max_abs_lat: float | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """(id, cluster, role) — ST-DBSCAN labels over (id, lat, lon, ts).

    Identical core/border/noise semantics to ``dbscan`` with the
    neighborhood predicate tightened to the spatiotemporal ball
    (within ``eps_m`` meters AND ``eps_t_s`` seconds) — the event-burst
    clusterer ("same place, same time") of the trajectory family.
    Labeling reuses ``labels_from_pairs`` verbatim.
    """
    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1, got {min_pts}")
    pairs = st_eps_pairs(
        points, eps_m, eps_t_s, res=res, max_abs_lat=max_abs_lat
    )
    return labels_from_pairs(points, pairs, min_pts, max_iter=max_iter)
