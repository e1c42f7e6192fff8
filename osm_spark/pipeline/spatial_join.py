"""Cell-prejoined point-in-polygon join — the engine's flagship operator.

Plan shape (SURVEY.md §2.10, informed by Raster Intervals SIGMOD'23's
filter-then-refine decomposition):

1. **extract**: pages.text → (lat, lon) via the pinned regex, encode to
   hex cell (res 9) [+ S2 level 13]. Zero Python: Generate barriers pin
   the regex and the parse to one evaluation per row, see
   ``extract_points``.
2. **prejoin**: equi join ``points.h3_9 == way_cells.cell``. The polygon
   covering is the *small* side — broadcast when under threshold, else a
   shuffle hash join with **explicit per-cell salting** for hot cells
   (north_rule requires explicit skew handling: AQE splits oversized
   shuffle blocks, but only salting spreads a single hot *key*).
3. **attach**: the polygon vertex dim joins the candidates the way the
   prejoin went (broadcast, or two-side-salted on way_id).
4. **refine**: exact ray-cast PIP as a codegen Column expression over
   the candidate pairs (``pip_cover_expr``).

One strategy ladder serves every PIP entry point: ``_pip_candidates``
alone compares the covering estimate with ``BROADCAST_MAX_CELLS``,
picks flat broadcast / adaptive mixed-resolution broadcast / salted,
runs the prejoin and returns the per-way salts. ``pip_join``, its three
fixed-strategy forms, ``pip_join_multipolygon``,
``geo.geocode.reverse_geocode`` and ``flagship.flagship_query`` each add
only their own polygon dims on top, attached with those salts.

At the 10^12-row design point the pages side never shuffles in the
broadcast path — the only wide exchange is the final aggregation, and
filter/projection pushdown reaches the parquet/Iceberg scan because steps
1-2 are plain Column expressions over one scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.geo.extract import COORD_REGEX
from osm_spark.geo.hexgrid import DEFAULT_RES, hex_cell_expr
from osm_spark.geo.s2 import s2_cell_cols

# Above this many covering cells we stop broadcasting and use the salted
# shuffle path (each cell row is ~16 bytes + way vertices joined later).
BROADCAST_MAX_CELLS = 2_000_000

# A cell is "hot" when it holds more than this many points; its key is
# split into ceil(n/target) salt buckets.
HOT_CELL_TARGET = 50_000

def extract_points(
    pages: DataFrame,
    res: int = DEFAULT_RES,
    s2_level: int = 13,
    with_s2: bool = False,
) -> DataFrame:
    """pages → page_points(url, lat, lon, h3_9[, s2_13]); rows without a
    coordinate are dropped (they can never join).

    Zero-Python: two stacked ``explode(array(...))`` Generate barriers,
    each pinning one expensive subtree to exactly one evaluation per row:

    1. the raw regex match (group 0) — one full-text regex scan;
    2. the parsed (lat, lon) struct — substring parse of the <=64-char
       match, referenced dozens of times by the PIP refine lambdas.

    GenerateExec materializes its generator output once per row, so
    CollapseProject cannot clone these subtrees into their downstream
    references (the measured 3× regression of the array-form kNN
    experiment, BENCH.md finding #8). The exploded arrays are 1-element
    and the attributes scalars, so the barriers themselves cost nothing.

    ``h3_9`` is a plain projection over the pinned lat/lon, not a third
    barrier: Spark cannot prune a Generate, so a pinned cell id would be
    encoded for every consumer, including those that never read it
    (``knn_join``, ``tile_density``, ``density_raster`` and the adaptive
    PIP, which encodes its own cells). As a projection it is pruned from
    their plans.

    Semantics are those of ``extract_coords_py``: first COORD_REGEX
    match, |lat| <= 90 and |lon| <= 180, strtod parse (tested bit-exact
    in tests/test_pipeline.py).

    ``with_s2`` adds the S2 cell column; off by default so join paths
    that key on h3 alone never pay for it.
    """
    m_rows = pages.select(
        "url",
        F.explode(F.array(F.regexp_extract(F.col("text"), COORD_REGEX, 0))).alias(
            "m"
        ),
    ).where(F.col("m") != "")
    body = F.substring(F.col("m"), 5, 64)  # strip the 'geo:' prefix
    parsed = m_rows.select(
        "url",
        F.explode(
            F.array(
                F.struct(
                    F.substring_index(body, ",", 1).cast("double").alias("lat"),
                    F.substring_index(body, ",", -1).cast("double").alias("lon"),
                )
            )
        ).alias("c"),
    ).where((F.abs(F.col("c.lat")) <= 90.0) & (F.abs(F.col("c.lon")) <= 180.0))
    out = parsed.select(
        "url", F.col("c.lat").alias("lat"), F.col("c.lon").alias("lon")
    ).withColumn("h3_9", hex_cell_expr("lat", "lon", res))
    if with_s2:
        out = s2_cell_cols(out, level=s2_level, out="s2_13")
    return out


def pip_cover_expr(
    lat: Column, lon: Column, vlat: Column, vlon: Column, eps: float = 1e-12
) -> Column:
    """Exact PIP 'covers' test as a pure Column expression.

    Same algorithm and IEEE op order as ``points_in_polygon_np`` (even-odd
    ray cast + boundary inclusion via point-segment distance), so results
    are bit-identical to the numpy refine — but codegen'd: the refine
    stage needs no Python at all. Per row cost is O(vertices) element_at
    arithmetic on broadcast-joined vertex arrays.
    """
    n = F.size(vlat)
    idx = F.sequence(F.lit(0), n - 1)

    def ay(i):
        return F.element_at(vlat, i + 1)

    def ax(i):
        return F.element_at(vlon, i + 1)

    def by(i):
        return F.element_at(vlat, F.pmod(i + 1, n) + 1)

    def bx(i):
        return F.element_at(vlon, F.pmod(i + 1, n) + 1)

    def crosses(i):
        denom = F.when(by(i) - ay(i) == 0.0, F.lit(1.0)).otherwise(by(i) - ay(i))
        xcross = (bx(i) - ax(i)) * (lat - ay(i)) / denom + ax(i)
        return ((ay(i) > lat) != (by(i) > lat)) & (lon < xcross)

    def seg_d2(i):
        abx = bx(i) - ax(i)
        aby = by(i) - ay(i)
        apx = lon - ax(i)
        apy = lat - ay(i)
        d = abx * abx + aby * aby
        t0 = F.when(d > 0.0, (apx * abx + apy * aby) / F.when(d == 0.0, F.lit(1.0)).otherwise(d)).otherwise(F.lit(0.0))
        t = F.least(F.greatest(t0, F.lit(0.0)), F.lit(1.0))
        dx = apx - t * abx
        dy = apy - t * aby
        return dx * dx + dy * dy

    inside = F.pmod(F.size(F.filter(idx, crosses)), F.lit(2)) == 1
    on_edge = F.exists(idx, lambda i: seg_d2(i) <= F.lit(eps * eps))
    return inside | on_edge


def _refine_pip_expr(candidates: DataFrame) -> DataFrame:
    """Column-expression refine over (url, lat, lon, way_id, vlat, vlon)."""
    keep = pip_cover_expr(F.col("lat"), F.col("lon"), F.col("vlat"), F.col("vlon"))
    return candidates.filter(keep).select("url", "way_id")


def pip_join_broadcast(
    points: DataFrame, polygons: DataFrame, way_cells: DataFrame
) -> DataFrame:
    """Broadcast prejoin path: points never shuffle. Join covering cells
    (broadcast), attach polygon vertices (broadcast), exact refine.

    No persist on points: the extraction's Generate barriers already pin
    the regex and the parse to one evaluation per row, and DataFrame
    cache materialization measured 10× slower than the recompute at
    local[32] (block-store write contention). On a cluster the durable
    form of this barrier is the checkpointed page_points stage
    (lineage.py)."""
    return _pip_pairs(points, polygons, way_cells, "broadcast")[0]


def salt_plan(points: DataFrame, target: int = HOT_CELL_TARGET) -> DataFrame:
    """Per-cell salt factors from the data's own histogram.

    north_rule: skew handling must be explicit and data-driven ("salt
    factor must come from data, not constants" — SURVEY.md §7). Returns
    (cell, k) for hot cells only; everything else implicitly k=1.
    """
    return (
        points.groupBy("h3_9")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > target)
        .select(
            F.col("h3_9").alias("cell"),
            F.ceil(F.col("n") / target).cast("int").alias("k"),
        )
    )


def _prejoin_salted(
    points: DataFrame, way_cells: DataFrame, salts: DataFrame
) -> DataFrame:
    """Shuffle prejoin with explicit hot-cell salting → candidate
    (url, lat, lon, way_id) pairs.

    Points in a hot cell scatter across k salt buckets; the covering rows
    for that cell replicate into all k buckets (small side pays the
    replication). Join key becomes (cell, salt)."""
    pts = points.join(F.broadcast(salts), points["h3_9"] == salts["cell"], "left")
    pts = pts.select(
        "url",
        "lat",
        "lon",
        "h3_9",
        F.when(
            F.col("k").isNotNull(), F.pmod(F.xxhash64("url"), F.col("k"))
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("salt"),
    )
    wc = way_cells.join(F.broadcast(salts), "cell", "left")
    wc = wc.select(
        "way_id",
        "cell",
        F.explode(
            F.sequence(F.lit(0), F.coalesce(F.col("k") - 1, F.lit(0)))
        ).alias("salt"),
    )
    return pts.join(
        wc, (pts["h3_9"] == wc["cell"]) & (pts["salt"] == wc["salt"]), "inner"
    ).select("url", "lat", "lon", "way_id")


def way_salt_plan(way_cells: DataFrame, salts: DataFrame) -> DataFrame:
    """Per-WAY salt factors induced by the hot-CELL salt plan: a way
    whose covering includes a hot cell will receive that cell's point
    mass as candidate pairs, so it inherits the cell's split factor
    (max over its covering when several cells are hot). Derived entirely
    from tables already in hand — no extra pass over the points."""
    return (
        way_cells.join(F.broadcast(salts), "cell")
        .groupBy("way_id")
        .agg(F.max("k").alias("k"))
    )


def attach_polygon_dim(
    cand: DataFrame,
    dim: DataFrame,
    key: str,
    strategy: str,
    way_salts: DataFrame | None = None,
    scatter_col: str = "url",
) -> DataFrame:
    """Attach a polygon-keyed dim table (vertex arrays, areas, ring
    metadata) to a candidate pair list, following the join strategy the
    prejoin already chose.

    The salted shuffle path exists because the polygon side outgrew a
    broadcast — and covering-cell count correlates with vertex-dim bytes
    (continent rings have both the largest coverings and the longest
    vertex arrays), so that same path must NOT turn around and broadcast
    the vertex dim (round-3 verdict's named scale-killer). ``broadcast``
    keeps the small-dim plan; anything else hash-joins on the polygon id
    with an explicit shuffle_hash hint — the candidate list is skinny
    (ids + one point) and the hint prevents the statless-aggregate →
    SortMergeJoin fallback that would sort it (the same trade-off as
    ``salting.keyed_join``'s stat-less auto).

    **The way_id key is its own skew axis** (measured: a dense cell
    under a 40-polygon admin stack re-concentrated the freshly-salted
    hot pairs onto 40 way_id keys — 67-73 s vs 24-33 s for the
    broadcast attach on the skew fixture; BENCH.md finding #15). With
    ``way_salts`` (``way_salt_plan`` — per-way split factors inherited
    from the hot-cell plan, zero extra jobs) the attach two-side-salts:
    candidate rows scatter over ``pmod(xxhash64(scatter_col), k)`` and
    the dim rows for hot ways replicate into all k buckets, so the join
    key becomes (way_id, salt) and no single task owns a hot polygon's
    whole candidate mass. Cold ways pay one broadcast-join lookup and a
    1-element explode."""
    if strategy == "broadcast":
        return cand.join(F.broadcast(dim), key)
    if way_salts is not None:
        c = cand.join(F.broadcast(way_salts), key, "left").withColumn(
            "_vsalt",
            F.when(
                F.col("k").isNotNull(), F.pmod(F.xxhash64(scatter_col), F.col("k"))
            )
            .otherwise(F.lit(0))
            .cast("int"),
        ).drop("k")
        d = dim.join(F.broadcast(way_salts), key, "left").select(
            *dim.columns,
            F.explode(
                F.sequence(F.lit(0), F.coalesce(F.col("k") - 1, F.lit(0)))
            ).alias("_vsalt"),
        )
        return c.join(d.hint("shuffle_hash"), [key, "_vsalt"]).drop("_vsalt")
    return cand.join(dim.hint("shuffle_hash"), key)


def pip_join_salted(
    points: DataFrame, polygons: DataFrame, way_cells: DataFrame, salts: DataFrame
) -> DataFrame:
    """Shuffle prejoin with the hot-cell plan ``salts`` (``salt_plan``),
    then the vertex attach on (way_id, salt) — two-side-salted by the
    way-level factors the hot-cell plan induces, because plain-keying it
    would re-concentrate the freshly-salted hot pairs onto the polygon
    ids (measured 2-3×, BENCH.md finding #15) — then the refine."""
    return _pip_pairs(points, polygons, way_cells, "salted", salts=salts)[0]


def pip_join_multipolygon(
    points: DataFrame,
    rings: DataFrame,
    ring_cells: DataFrame | None = None,
    strategy: str = "auto",
    levels: list[int] | None = None,
) -> DataFrame:
    """Multipolygon PIP: (url, relation_id) pairs where the point lies
    inside at least one ``outer`` ring and inside no ``inner`` ring
    (holes) — OSM multipolygon semantics over the normalized ring table
    from ``relation_rings`` (relation_id, role, way_id, vlat, vlon).
    Reference analog: the relation-member model (lib/osm/event.rb:63-65
    nested structs; SURVEY.md §1.4).

    The prejoin is ``pip_join``'s (``_pip_candidates`` over the ring
    covering, same strategies and ladder). Relation multipolygons are
    exactly where broadcast breaks first — continent/admin boundary
    rings have the largest coverings of any geometry — so the salted
    and adaptive rungs matter *more* here than for single polygons. The
    ring dim then attaches as the prejoin went (on the salted path it
    hash-joins on (way_id, salt): ring vertex bytes grow with the
    covering), a codegen ray-cast refine runs per candidate (point,
    ring), and one aggregation per (point, relation) combines roles. A
    point inside a hole still matches the outer's covering cells, so
    the inner test runs on exactly the candidates that need it.

    ``levels``: pass the resolution set of a MIXED-resolution
    ``ring_cells`` (``build_way_cells_adaptive``)."""
    ring_geo = rings.select("way_id", "vlat", "vlon")
    cand, ring_salts = _pip_candidates(
        points, ring_geo, ring_cells, strategy, levels=levels
    )
    cand = _attach_way_dim(
        cand, rings.select("relation_id", "role", "way_id", "vlat", "vlon"), ring_salts
    )
    hit = cand.withColumn(
        "inside", pip_cover_expr(F.col("lat"), F.col("lon"), F.col("vlat"), F.col("vlon"))
    )
    return (
        hit.groupBy("url", "relation_id")
        .agg(
            F.max(F.when(F.col("role") == "outer", F.col("inside"))).alias("in_outer"),
            F.max(F.when(F.col("role") == "inner", F.col("inside"))).alias("in_inner"),
        )
        .filter(
            F.coalesce(F.col("in_outer"), F.lit(False))
            & ~F.coalesce(F.col("in_inner"), F.lit(False))
        )
        .select("url", "relation_id")
    )


def estimate_covering_cells(
    polygons: DataFrame, res: int = DEFAULT_RES, cap: int | None = None
) -> int:
    """Upper-bound covering-cell estimate from polygon bboxes — pure
    Column arithmetic over the (small) polygon dim, mirroring
    ``hex_polyfill``'s candidate grid: (Δq+5)·(Δr+5) per polygon.

    This is the strategy-choice statistic: unlike ``way_cells.count()``
    it never executes the Python polyfill (at planet scale that count is
    a full covering job over millions of polygons; this is one codegen
    aggregate over vertex arrays).

    ``cap``: per-polygon ceiling — the estimate for a MIXED-resolution
    covering (``build_way_cells_adaptive`` bounds each polygon at its
    budget, so the adaptive index is ≤ Σ min(flat_est, budget))."""
    from osm_spark.geo.hexgrid import edge_deg

    size = edge_deg(res)
    qf = F.transform(
        F.arrays_zip(F.col("vlat").alias("la"), F.col("vlon").alias("lo")),
        lambda v: (0.5773502691896258 * v["lo"] - v["la"] / 3.0) / size,
    )
    rf = F.transform(F.col("vlat"), lambda la: (2.0 / 3.0 * la) / size)
    per_poly = (
        (F.array_max(qf) - F.array_min(qf) + 5.0)
        * (F.array_max(rf) - F.array_min(rf) + 5.0)
    )
    if cap is not None:
        per_poly = F.least(per_poly, F.lit(float(cap)))
    [row] = (
        polygons.select(per_poly.alias("est"))
        .agg(F.sum("est").alias("total"))
        .collect()
    )
    return int(row.total or 0)


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    way_cells: DataFrame | None = None,
    strategy: str = "auto",
    budget: int = 4096,
) -> DataFrame:
    """PIP join. Returns (url, way_id) exact-match pairs.

    ``strategy``: 'broadcast' | 'salted' | 'auto' — the ladder of
    ``_pip_candidates``. Auto costs one cheap aggregate over the polygon
    dim (no covering materialization, no Python); callers that know
    their catalog stats pass the strategy explicitly and pay no job."""
    return _pip_pairs(points, polygons, way_cells, strategy, budget=budget)[0]


def covering_levels(way_cells: DataFrame) -> list[int]:
    """Distinct resolutions present in a (possibly mixed-res) covering
    index — the cell id packs its res in the top bits, so this is one
    tiny distinct over a derived column. Bounded by the res range
    (≤ ~15 values); at planet scale this is a catalog statistic the
    caller passes explicitly to skip the job."""
    rows = (
        way_cells.select(F.shiftright("cell", 58).alias("res")).distinct().collect()
    )
    return sorted(int(r.res) for r in rows)


def point_cells_expr(lat, lon, levels: list[int]):
    """Array of the point's cell id at each covering level — pure
    codegen (one fused projection; no Python, no shuffle)."""
    return F.array(*[hex_cell_expr(lat, lon, r) for r in levels])


def pip_join_adaptive(
    points: DataFrame,
    polygons: DataFrame,
    way_cells: DataFrame,
    strategy: str = "broadcast",
    levels: list[int] | None = None,
) -> DataFrame:
    """PIP join over a MIXED-resolution covering index
    (``build_way_cells_adaptive``) — the planet-scale covering shape
    where large polygons sit at coarser cells so the index stays
    ``O(polygons × budget)`` rows instead of ``O(total area)``. Each
    point expands to its cell at every level (see ``_pip_candidates``).

    ``levels``: pass the catalog's known level set to skip the
    ``covering_levels`` job."""
    if levels is None:
        levels = covering_levels(way_cells)
    return _pip_pairs(points, polygons, way_cells, strategy, levels=levels)[0]


def _pip_candidates(
    points: DataFrame,
    way_geo: DataFrame,
    way_cells: DataFrame | None = None,
    strategy: str = "auto",
    budget: int = 4096,
    levels: list[int] | None = None,
    salts: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """The one PIP strategy ladder and prejoin: candidate
    (url, lat, lon, way_id) pairs of ``points`` × the covering of
    ``way_geo`` (way_id, vlat, vlon), plus the per-way salt plan the
    polygon-dim attaches must follow (None on the broadcast path).

    ``strategy`` 'auto' decides from the bbox covering estimate:

    - no ``way_cells``: the flat res-9 covering fits the broadcast
      ceiling → flat broadcast, points never shuffle. Otherwise the
      MIXED-resolution covering (``build_way_cells_adaptive``, each
      polygon capped at ``budget`` cells) → broadcast when the capped
      estimate Σ min(flat_est, budget) fits, else salted. Adaptive
      broadcast measured 3.5× faster than the salted fallback it
      replaces, building its index 62× faster (BENCH.md
      adaptive-covering table);
    - ``way_cells`` supplied: the caller owns the covering's shape, so
      only broadcast vs salted, from the flat estimate.

    Explicit 'broadcast'/'salted' with no ``way_cells`` builds the flat
    covering and pays no estimate job.

    ``levels`` (a mixed-res covering's resolution set): each point
    expands to its cell at every level, one codegen ``explode`` — on the
    broadcast path the expanded rows exist only inside the
    WholeStageCodegen pipeline feeding the hash probe; on the salted
    path the one prejoin shuffle carries ``levels×`` skinny rows. Cell
    ids collide only within a level (res rides the top bits), so ONE
    equi-join against the whole mixed index is exact: a way's covering
    lives at exactly one res and a point has exactly one cell there.
    The hot-cell histogram over the exploded frame prices every level's
    cells in one aggregate (a hot fine cell makes its coarse ancestors
    at least as hot, so they earn their own factors).

    ``salts`` replaces the salted path's ``salt_plan(points)``.
    """
    from osm_spark.pipeline.geometry import (
        build_way_cells,
        build_way_cells_adaptive,
    )

    if strategy == "auto":
        est = estimate_covering_cells(way_geo)
        if way_cells is None and est > BROADCAST_MAX_CELLS:
            way_cells = build_way_cells_adaptive(way_geo, budget=budget)
            est = estimate_covering_cells(way_geo, cap=budget)
            levels = covering_levels(way_cells)
        strategy = "broadcast" if est <= BROADCAST_MAX_CELLS else "salted"
    if way_cells is None:
        way_cells = build_way_cells(way_geo)
    if levels is not None:
        points = points.withColumn(
            "h3_9", F.explode(point_cells_expr("lat", "lon", levels))
        )
    if strategy == "broadcast":
        cand = points.join(
            F.broadcast(way_cells), points["h3_9"] == way_cells["cell"], "inner"
        ).select("url", "lat", "lon", "way_id")
        return cand, None
    if strategy != "salted":
        raise ValueError(f"unknown PIP strategy: {strategy!r}")
    if salts is None:
        salts = salt_plan(points)
    return _prejoin_salted(points, way_cells, salts), way_salt_plan(way_cells, salts)


def _attach_way_dim(
    cand: DataFrame, dim: DataFrame, way_salts: DataFrame | None
) -> DataFrame:
    """Attach a way_id-keyed dim the way the prejoin went: broadcast
    beside a broadcast prejoin, else the shuffle attach two-side-salted
    by ``way_salts`` (``attach_polygon_dim``)."""
    strategy = "broadcast" if way_salts is None else "shuffle"
    return attach_polygon_dim(cand, dim, "way_id", strategy, way_salts=way_salts)


def _pip_pairs(
    points: DataFrame,
    polygons: DataFrame,
    way_cells: DataFrame | None,
    strategy: str,
    budget: int = 4096,
    levels: list[int] | None = None,
    salts: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """Exact (url, way_id) pairs and the per-way salts their prejoin
    used: ``_pip_candidates``, the vertex attach, the codegen refine."""
    cand, way_salts = _pip_candidates(
        points, polygons, way_cells, strategy, budget, levels, salts
    )
    cand = _attach_way_dim(cand, polygons.select("way_id", "vlat", "vlon"), way_salts)
    return _refine_pip_expr(cand), way_salts
