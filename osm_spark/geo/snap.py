"""Nearest-segment snap (map matching): each point to its closest OSM
way segment within a search radius.

The map-matching primitive of a geotagged-pages pipeline — "which road /
boundary edge is this page's coordinate on" — completing the spatial
join family with SEGMENT geometry: PIP matches containment, kNN matches
node cardinality, radius matches node distance; snap matches the
polyline edges that ways actually are (reference data model:
``lib/osm/way.rb`` node lists — SURVEY.md §1.4's way table; the snap
operator itself is graft-mandated family SURVEY.md §2.10).

Distance semantics: local equirectangular projection AT THE POINT —
``dx = (lon_p − lon_q)·cos(lat_p)``, ``dy = lat_p − lat_q``, both in
degrees, point-to-segment distance in that plane scaled by ``DEG_M``
meters/degree. Exact closed-form arithmetic (no iteration), identical
IEEE op order in the Spark Column form and the DuckDB oracle, so the
min distance and the argmin segment are value-hash exact. The planar
metric diverges from great-circle by < 0.5 % inside any plausible snap
radius (≤ tens of km); the coverage ring pads for it.

Plan shape (filter-and-refine, the engine's standard candidate pattern):

1. **Segment explode** — ways (way_id, vlat, vlon) → one row per
   consecutive vertex pair. Pure codegen (``posexplode`` over
   ``arrays_zip``), row count = Σ(vertices−1).
2. **Sample covering** — each segment emits hex cells of points sampled
   along it at ≤ 1 cell-edge spacing (``F.sequence`` + ``transform`` —
   one lambda in codegen regardless of segment length), then the K-disk
   union of those cells. K comes from ``plan_ring`` with the radius
   padded by half the sample gap (the sample quantization) — the same
   coverage proof as radius_join with "node" = nearest sample.
3. **Refine** — points equi-join candidates on their own cell (ONE hash
   join touching the 10^12-row side, ``salting.keyed_join``; broadcast
   under the ceiling, else shuffle-hash on the cell id), keep pairs
   with dist ≤ radius, then ``min(struct(dist, way_id, seg_idx))`` per
   point — an aggregate, not a window, so the big side never sorts. Ties (equidistant segments)
   break deterministically on (way_id, seg_idx).

Candidate volume is |segments| × samples × disk — independent of the
point count; per-point refine work is the local segment density.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_spark.geo.hexgrid import edge_deg, hex_cell_expr, hex_disk_expr
from osm_spark.geo.knn import DEG_M
from osm_spark.geo.radius import plan_ring
from osm_spark.pipeline.salting import keyed_join

_CAND_ROW_BYTES = 56  # cell + way_id + seg_idx + 4 doubles


def seg_dist_m(
    plat: Column, plon: Column, ay: Column, ax: Column, by: Column, bx: Column
) -> Column:
    """Point-to-segment distance in meters under the local
    equirectangular plane at the point's latitude. Zero-length segments
    (repeated vertices) fall back to point distance via the d=0 guard —
    the same guard shape as the PIP boundary test."""
    ck = F.cos(F.radians(plat))
    abx, aby = (bx - ax) * ck, by - ay
    apx, apy = (plon - ax) * ck, plat - ay
    d = abx * abx + aby * aby
    t0 = F.when(d > 0, (apx * abx + apy * aby) / d).otherwise(F.lit(0.0))
    t = F.least(F.greatest(t0, F.lit(0.0)), F.lit(1.0))
    dx, dy = apx - t * abx, apy - t * aby
    return F.sqrt(dx * dx + dy * dy) * F.lit(DEG_M)


def way_segments(ways: DataFrame, closed: bool = False) -> DataFrame:
    """(way_id, seg_idx, ay, ax, by, bx) — consecutive vertex pairs;
    ``closed`` appends the wrap-around edge (rings)."""
    n = F.size("vlat")
    idx = F.sequence(F.lit(0), n - (1 if closed else 2))
    seg = ways.select(
        "way_id",
        "vlat",
        "vlon",
        F.explode(idx).alias("seg_idx"),
        n.alias("nv"),
    )
    nxt = F.when(F.col("seg_idx") + 1 < F.col("nv"), F.col("seg_idx") + 1).otherwise(0)
    return seg.select(
        "way_id",
        "seg_idx",
        F.element_at("vlat", F.col("seg_idx") + 1).alias("ay"),
        F.element_at("vlon", F.col("seg_idx") + 1).alias("ax"),
        F.element_at("vlat", nxt + 1).alias("by"),
        F.element_at("vlon", nxt + 1).alias("bx"),
    )


def plan_snap(radius_m: float, max_abs_lat: float, max_ring: int = 4) -> tuple[int, int]:
    """(res, ring) for the sample covering: the ring pads the radius by
    half the worst-case sample gap (one cell edge in raw degrees ≤
    ``edge·DEG_M`` meters) so 'within radius of the SEGMENT' implies
    'within padded radius of some SAMPLE'."""
    for res in range(12, 0, -1):
        pad = 0.5 * edge_deg(res) * DEG_M
        ring = plan_ring(radius_m + pad, res, max_abs_lat)
        if ring <= max_ring:
            return res, ring
    return 1, plan_ring(radius_m + 0.5 * edge_deg(1) * DEG_M, 1, max_abs_lat)


def snap_candidates(
    points: DataFrame,
    ways: DataFrame,
    radius_m: float,
    closed: bool = False,
    strategy: str = "auto",
    n_segments: int | None = None,
    max_abs_lat: float | None = None,
    sample_budget: int = 128,
    point_cols: tuple[str, ...] = ("url",),
    with_projection: bool = False,
    keep_unmatched: bool = False,
    salts: DataFrame | None = None,
) -> DataFrame:
    """All (point, segment) pairs within ``radius_m`` meters —
    ``snap_join``'s filter stage without the argmin, so multi-candidate
    consumers (HMM map matching's emission set, geo/mapmatch.py) share
    the exact covering + refine machinery the single-best snap is gated
    on.

    Returns ``point_cols`` + (way_id, seg_idx, dist_m); duplicates are
    possible (a segment can reach a point through several sampled
    cells) — per-point aggregates must be duplicate-insensitive (the
    argmin is; top-k consumers dedup first). ``with_projection`` adds
    (proj_lat, proj_lon): the clamped projection of the point onto the
    segment in the SAME local plane ``seg_dist_m`` measures in —
    map matching's transition distances are taken between these.

    ``keep_unmatched``: emit points with NO in-radius segment as one
    row with null candidate columns (the radius predicate moves into a
    LEFT join's condition — the cell equi-key still drives the hash
    join; matched rows are identical to the inner form). Streaming map
    matching needs this so a trip-final marker ping survives the
    candidate attach even when it snaps to nothing.

    ``strategy`` is 'broadcast', 'shuffle', 'salted' or 'auto'
    (``salting.keyed_join``). The auto estimate is candidates ≈
    segments × samples × disk × 56 B; samples per segment are unknown
    without scanning, so they are bounded by the radius-to-edge ratio +
    2 (short urban segments dominate real data; the bound errs toward
    shuffle — the safe direction at scale). ``n_segments`` is a catalog
    stat; when omitted one memoized count runs over the segments.

    ``strategy='salted'`` adds explicit hot-cell splitting to the
    shuffle path (``pipeline/salting.py`` — the knn/radius/dbscan
    machinery, here closing the fourth cell-keyed join of the family):
    points in a hot cell scatter over pmod(xxhash64(point identity), k)
    and the hot cells' candidate rows replicate k ways; ``salts``
    overrides the data-driven ``key_salt_plan`` histogram. Incompatible
    with ``keep_unmatched`` (the unmatched re-attach would need an anti
    join the streaming consumer cannot run).

    ``sample_budget`` bounds the covering work PER ROW: a long segment
    (a motorway stretch spans thousands of cell edges at the planned
    res) would otherwise build one in-memory array of samples × disk
    cells — the same single-row blow-up ``build_way_cells`` hit on large
    polygons (round-4 verdict ask #7). Segments needing more than
    ``sample_budget`` samples split into ⌈samples/budget⌉ chunk ROWS
    before the cell arrays materialize, so per-row memory is ≤ budget ×
    disk cells and one long segment's covering parallelizes across
    tasks instead of pinning one. The union of samples over the chunks
    is exactly the unchunked sample set, so coverage — and therefore
    the result — is unchanged."""
    if radius_m <= 0:
        raise ValueError(f"radius_m must be > 0, got {radius_m}")
    if sample_budget < 2:
        raise ValueError(f"sample_budget must be >= 2, got {sample_budget}")
    from osm_spark.pipeline.stats import memoized_count, memoized_first

    segs = way_segments(ways, closed=closed)
    if max_abs_lat is None:
        # memoized (pipeline/stats.py): the bound is a catalog min/max
        # stat in production — repeated auto-planned calls (bench loops,
        # per-epoch streaming matchers) must not pay the probe job each
        # time (the r4 kNN-headline regression pattern)
        row = memoized_first(
            ways.agg(
                F.max(
                    F.greatest(
                        F.abs(F.array_max("vlat")), F.abs(F.array_min("vlat"))
                    )
                )
            )
        )
        if row[0] is None:
            raise ValueError("snap_join: ways is empty — no segments to snap to")
        max_abs_lat = float(row[0])
    res, ring = plan_snap(radius_m, max_abs_lat)
    e = edge_deg(res)

    # Samples along the segment every ≤ e degrees (euclidean in the raw
    # degree plane — over-covers since lon degrees are shorter meters).
    seg_len = F.sqrt(
        (F.col("by") - F.col("ay")) ** 2 + (F.col("bx") - F.col("ax")) ** 2
    )
    n_samp = F.greatest(F.ceil(seg_len / F.lit(e)).cast("int") + 1, F.lit(2))
    # Chunk the sample index space BEFORE any cell array exists: one row
    # per ⌈n_samp/budget⌉ contiguous index slice. Short segments (the
    # overwhelming majority) get exactly one chunk row — the plan is the
    # flat one plus two cheap scalar columns.
    b = F.lit(int(sample_budget))
    chunked = segs.select(
        "way_id",
        "seg_idx",
        "ay",
        "ax",
        "by",
        "bx",
        n_samp.alias("_ns"),
        F.explode(
            F.sequence(F.lit(0), F.floor((n_samp - 1) / b).cast("int"))
        ).alias("_chk"),
    )
    lo = F.col("_chk") * b
    hi = F.least(lo + b - 1, F.col("_ns") - 1)
    ts = F.transform(
        F.sequence(lo, hi),
        lambda i: i.cast("double") / (F.col("_ns") - 1).cast("double"),
    )
    sample_cells = F.array_distinct(
        F.transform(
            ts,
            lambda t: hex_cell_expr(
                F.col("ay") + t * (F.col("by") - F.col("ay")),
                F.col("ax") + t * (F.col("bx") - F.col("ax")),
                res,
            ),
        )
    )
    disk_cells = F.array_distinct(
        F.flatten(F.transform(sample_cells, lambda c: hex_disk_expr(c, res, ring)))
    )
    cand = chunked.select(
        "way_id", "seg_idx", "ay", "ax", "by", "bx", F.explode(disk_cells).alias("cell")
    )

    est = None
    if strategy == "auto":
        if n_segments is None:
            n_segments = memoized_count(segs)
        samples = max(2.0, radius_m / (e * DEG_M) + 2.0)
        disk = 3 * ring * (ring + 1) + 1
        est = n_segments * samples * disk * _CAND_ROW_BYTES
    if strategy == "salted" and keep_unmatched:
        raise ValueError(
            "snap_candidates: keep_unmatched requires broadcast/shuffle "
            "(the unmatched re-attach cannot ride the salted join)"
        )

    p = points.select(
        *point_cols,
        F.col("lat").alias("plat"),
        F.col("lon").alias("plon"),
        hex_cell_expr("lat", "lon", res).alias("cell"),
    )
    d = seg_dist_m(
        F.col("plat"), F.col("plon"), F.col("ay"), F.col("ax"), F.col("by"), F.col("bx")
    )
    out_cols = [*point_cols, "way_id", "seg_idx", d.alias("dist_m")]
    if with_projection:
        # the clamped projection parameter — the SAME sub-expressions
        # seg_dist_m builds its distance from (codegen CSEs them), so
        # the projected point is exactly the foot of that distance
        ck = F.cos(F.radians(F.col("plat")))
        abx, aby = (F.col("bx") - F.col("ax")) * ck, F.col("by") - F.col("ay")
        apx = (F.col("plon") - F.col("ax")) * ck
        apy = F.col("plat") - F.col("ay")
        dd = abx * abx + aby * aby
        t0 = F.when(dd > 0, (apx * abx + apy * aby) / dd).otherwise(F.lit(0.0))
        t = F.least(F.greatest(t0, F.lit(0.0)), F.lit(1.0))
        out_cols += [
            (F.col("ay") + t * (F.col("by") - F.col("ay"))).alias("proj_lat"),
            (F.col("ax") + t * (F.col("bx") - F.col("ax"))).alias("proj_lon"),
        ]
    if keep_unmatched:
        cond = (p["cell"] == cand["cell"]) & (d <= F.lit(float(radius_m)))
        return keyed_join(
            p, cand, cond, strategy, est_bytes=est, how="left", label="snap_join"
        ).select(*out_cols)
    if strategy == "salted":
        p = p.withColumn(
            "_scatter",
            F.concat_ws(
                "\x1f", *[F.col(c).cast("string") for c in point_cols]
            ),
        )
    return (
        keyed_join(
            p, cand, "cell", strategy, est_bytes=est, salts=salts,
            scatter="_scatter", label="snap_join",
        )
        .select(*out_cols)
        .where(F.col("dist_m") <= F.lit(float(radius_m)))
    )


def snap_join(
    points: DataFrame,
    ways: DataFrame,
    radius_m: float,
    closed: bool = False,
    strategy: str = "auto",
    n_segments: int | None = None,
    max_abs_lat: float | None = None,
    sample_budget: int = 128,
    salts: DataFrame | None = None,
) -> DataFrame:
    """(url, way_id, seg_idx, dist_m) — nearest way segment within
    ``radius_m`` meters of each point; points with none are absent.

    ``points``: url, lat, lon (the big side). ``ways``: way_id, vlat,
    vlon. ``max_abs_lat`` defaults to one scalar aggregate over the WAY
    table (the small dim, same precedent as radius_join); ``n_segments``
    feeds the auto strategy (vertex count − way count from catalog
    stats); without it the candidate side is counted (small dim — one
    action). Candidate generation (covering, chunking, strategy) lives
    in ``snap_candidates``."""
    hits = snap_candidates(
        points,
        ways,
        radius_m,
        closed=closed,
        strategy=strategy,
        n_segments=n_segments,
        max_abs_lat=max_abs_lat,
        sample_budget=sample_budget,
        salts=salts,
    )
    # Argmin via collect_list + array_min, NOT min(struct): a struct-
    # typed Min buffer forces SortAggregate (a per-partition sort of the
    # full candidate table — measured in the plan), while collect_list
    # runs in ObjectHashAggregate; per-key memory is the local candidate
    # count, the same bound knn_join's top-k accepts (geo/knn.py). A
    # segment reaching one point through several sampled cells only adds
    # duplicate candidates — the min is unaffected.
    best = hits.groupBy("url").agg(
        F.array_min(
            F.collect_list(F.struct("dist_m", "way_id", "seg_idx"))
        ).alias("b")
    )
    return best.select(
        "url",
        F.col("b.way_id").alias("way_id"),
        F.col("b.seg_idx").alias("seg_idx"),
        F.col("b.dist_m").alias("dist_m"),
    )
