"""Polygon × polygon intersects (overlay) join — the fourth classic
spatial-join shape, completing the family next to PIP (point
containment), kNN (cardinality) and radius (distance): "which landuse
areas overlap which admin zones".

Reference analog: the way/relation polygon model this queries
(`lib/osm/way.rb` node lists assembled to rings; SURVEY.md §1.4 maps
them to ``way_polygons``); the overlay predicate itself is
graft-mandated Spark-first design (SURVEY.md §2.10 family).

Plan shape (filter-and-refine, same family as ``pip_join``):

1. **Candidate generation** — both polygon sets carry a hex-cell
   covering (``build_way_cells`` — a superset covering: every cell that
   contains a point of the polygon is in it). Intersecting polygons
   share at least one point p, and p's cell is in BOTH coverings, so the
   cell equi-join ``a_cells ⋈ b_cells ON cell`` is recall-complete.
   Pairs sharing many cells are deduped BEFORE vertex arrays attach
   (the skinny (a_id, b_id) list is the only wide exchange).
2. **Refine** — exact pure-Column predicate, zero Python:
   polygons A, B intersect  iff  (some edge of A properly crosses some
   edge of B)  OR  (any vertex of A is covered by B)  OR  (any vertex
   of B is covered by A).  For simple polygons the three arms cover
   proper boundary crossing, A ⊆ B, B ⊆ A, and vertex-on-boundary
   adjacency (shared OSM borders reuse exactly-equal node coordinates,
   so touch-at-a-vertex is common, not measure-zero); the containment
   arms reuse ``pip_cover_expr`` (even-odd ray cast + boundary-eps),
   so a vertex lying ON the other boundary counts as touching.
   *Not* detected: configurations whose only contact is an exact
   boundary touch with no vertex involved (edge-through-edge tangency
   interior to both edges) — measure-zero on float data and explicitly
   out of semantics (DE-9IM "interiors intersect or a vertex touches").

Exactness: every float op in the refine has an identical-IEEE-order
DuckDB replay (the gated ``overlay_pairs`` oracle brute-forces all
pairs with the same arithmetic), so the result is value-hash exact.

Scale: both sides may be large (10^8 OSM ways). The covering join is a
plain equi-join on the cell id — broadcast the smaller covering while
it fits (estimate-driven, same policy as ``pip_join``), else
shuffle-hash on the cell with AQE skew handling; vertices attach to the
deduped pair list via two hash joins on the polygon ids. Per-pair
refine cost is O(|Va|·|Vb|) codegen arithmetic — the higher-order
``exists`` emits a loop, so generated-code size is independent of
vertex count (BENCH.md finding #13's lesson).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_spark.geo.hexgrid import (
    DEFAULT_RES,
    hex_cell_expr,
    hex_center_expr,
    hex_disk_expr,
)
from osm_spark.pipeline.spatial_join import (
    HOT_CELL_TARGET,
    attach_polygon_dim,
    pip_cover_expr,
    way_salt_plan,
)


def edges_cross_expr(
    avlat: Column, avlon: Column, bvlat: Column, bvlon: Column
) -> Column:
    """True iff some edge of ring A properly crosses some edge of ring B.

    Proper crossing via the standard orientation test: edges P1P2 / Q1Q2
    cross iff Q1,Q2 lie strictly on opposite sides of line P1P2 AND
    P1,P2 strictly on opposite sides of line Q1Q2. Strict (< 0) on both
    products — touch-only contact is handled by the containment arms'
    boundary-eps instead. Rings are closed with the first vertex NOT
    repeated (the ``way_polygons`` convention); the wrap edge is
    included via pmod.
    """
    na = F.size(avlat)
    nb = F.size(bvlat)

    def cross(i: Column, j: Column) -> Column:
        p1x = F.element_at(avlon, i + 1)
        p1y = F.element_at(avlat, i + 1)
        p2x = F.element_at(avlon, F.pmod(i + 1, na) + 1)
        p2y = F.element_at(avlat, F.pmod(i + 1, na) + 1)
        q1x = F.element_at(bvlon, j + 1)
        q1y = F.element_at(bvlat, j + 1)
        q2x = F.element_at(bvlon, F.pmod(j + 1, nb) + 1)
        q2y = F.element_at(bvlat, F.pmod(j + 1, nb) + 1)
        d1 = (p2x - p1x) * (q1y - p1y) - (p2y - p1y) * (q1x - p1x)
        d2 = (p2x - p1x) * (q2y - p1y) - (p2y - p1y) * (q2x - p1x)
        d3 = (q2x - q1x) * (p1y - q1y) - (q2y - q1y) * (p1x - q1x)
        d4 = (q2x - q1x) * (p2y - q1y) - (q2y - q1y) * (p2x - q1x)
        return (d1 * d2 < 0) & (d3 * d4 < 0)

    ia = F.sequence(F.lit(0), na - 1)
    ib = F.sequence(F.lit(0), nb - 1)
    return F.exists(ia, lambda i: F.exists(ib, lambda j: cross(i, j)))


def _any_vertex_in_expr(
    pvlat: Column, pvlon: Column, rvlat: Column, rvlon: Column
) -> Column:
    """True iff ANY vertex of ring P is covered by ring R (ray cast +
    boundary eps, via ``pip_cover_expr``). Nested higher-order
    ``exists`` — codegen emits loops, so generated-code size stays
    independent of vertex count; per-pair cost is O(|Vp|·|Vr|), the same
    order as the edge-cross arm it complements."""
    idx = F.sequence(F.lit(0), F.size(pvlat) - 1)
    return F.exists(
        idx,
        lambda i: pip_cover_expr(
            F.element_at(pvlat, i + 1), F.element_at(pvlon, i + 1), rvlat, rvlon
        ),
    )


def polygons_intersect_expr(
    avlat: Column, avlon: Column, bvlat: Column, bvlon: Column
) -> Column:
    """Exact intersects test for two simple rings (module docstring
    semantics): proper edge crossing OR any vertex of either ring
    covered by the other (covers containment both ways; the all-vertex
    form also catches shared-border adjacency where a NON-first vertex
    of A lies exactly on B's boundary with no proper edge crossing —
    exactly-equal node coordinates on shared OSM borders are common,
    not measure-zero; ``pip_cover_expr`` includes the boundary via its
    eps arm)."""
    a_in_b = _any_vertex_in_expr(avlat, avlon, bvlat, bvlon)
    b_in_a = _any_vertex_in_expr(bvlat, bvlon, avlat, avlon)
    return edges_cross_expr(avlat, avlon, bvlat, bvlon) | a_in_b | b_in_a


def expand_covering(
    cells: DataFrame, own_levels: list[int], other_levels: list[int]
) -> DataFrame:
    """Join keys aligning a MIXED-resolution covering
    (``build_way_cells_adaptive``) with the other side's level set:
    (way_id, cell) → (way_id, jcell).

    Cell ids only equi-match within one resolution, so a cross-res
    overlay prejoin needs the FINER side re-expressed at the coarser
    side's level. Emission rule (each side runs this against the other
    side's levels): always the own cell (covers the equal-level pairs),
    plus the **disk-1 of the own cell's center encoded at every
    STRICTLY COARSER other-side level**. Disk-1 is provably recall-
    complete: adjacent cell centers sit √3·e apart, so two cells at
    grid distance ≥ 2 have centers ≥ 3e apart and their points are
    ≥ e apart — while every point of a finer cell is within its
    circumradius e_f ≤ e_c/√7 < e_c of the center. Hence the coarse
    cell of ANY point of the fine cell is the center's coarse cell or
    one of its 6 neighbors. (Two intersecting polygons share a point p;
    p's cell at each side's own res is in that side's covering; the
    finer side's expansion at the coarser level contains p's coarse
    cell, which IS the coarser side's emitted key — recall-complete.)

    Cost: ≤ 1 + 7·|coarser levels| keys per covering row, all codegen
    (one center decode + one literal-delta transform per level);
    precision loss (≤ 7× candidate fan-in per level gap) is paid in the
    refine and bounded by the pair dedup."""
    parts = [cells.select("way_id", F.col("cell").alias("jcell"))]
    res_col = F.shiftright("cell", 58)
    for lo in sorted(set(own_levels)):
        coarser = sorted({lt for lt in other_levels if lt < lo})
        if not coarser:
            continue
        sl = cells.filter(res_col == lo)
        for lt in coarser:
            ctr = hex_center_expr("cell", lo)
            coarse = hex_cell_expr(ctr["lat"], ctr["lon"], lt)
            parts.append(
                sl.select(
                    "way_id", F.explode(hex_disk_expr(coarse, lt, 1)).alias("jcell")
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def overlay_salt_plan(
    cells_a: DataFrame, cells_b: DataFrame, target: int = HOT_CELL_TARGET
) -> DataFrame:
    """Data-driven hot-cell plan for the big × big overlay path:
    (cell, k) for cells whose candidate-pair mass |A rows| × |B rows|
    exceeds ``target`` — the overlay analog of ``salt_plan``, whose
    per-cell mass is a point count. Derived from the covering tables
    (polygons × covering budget rows), never from a point table, so the
    stat job is bounded by the dims. Feeds ``way_salt_plan`` per side:
    a polygon covering a hot cell receives that cell's pair mass as
    candidate rows keyed by ITS OWN id, so it inherits the cell's split
    factor for the vertex attach (north_rule: salt factors come from
    data, not constants)."""
    na = cells_a.groupBy("cell").agg(F.count("*").alias("_na"))
    nb = cells_b.groupBy("cell").agg(F.count("*").alias("_nb"))
    return (
        na.join(nb, "cell")
        .filter(F.col("_na") * F.col("_nb") > target)
        .select(
            "cell",
            F.ceil(F.col("_na") * F.col("_nb") / target).cast("int").alias("k"),
        )
    )


def overlay_join(
    polys_a: DataFrame,
    polys_b: DataFrame,
    cells_a: DataFrame,
    cells_b: DataFrame,
    strategy: str = "broadcast",
    self_join: bool = False,
    levels_a: list[int] | None = None,
    levels_b: list[int] | None = None,
    salts: DataFrame | None = None,
) -> DataFrame:
    """All (a_id, b_id) pairs whose polygons intersect.

    ``polys_a/b``: (way_id, vlat, vlon); ``cells_a/b``: (way_id, cell)
    superset coverings (``build_way_cells``). ``strategy``:

    - ``broadcast``: B's covering and vertex dims broadcast — the
      candidate join never shuffles A's covering (the path when one
      side is small, e.g. admin zones against all landuse ways). A's
      OWN vertex dim still hash-joins onto the deduped pair list (A may
      be the 10^8-way side; broadcasting its vertex arrays would blow
      the broadcast ceiling — only B is asserted small here);
    - ``shuffle``: both coverings shuffle-hash on the cell id and the
      vertex dims hash-join on the polygon ids — the big × big path;
      the only exchanges are on cell and on the two polygon ids, with
      AQE skew join as the hot-cell backstop on the cell prejoin.

    ``salts`` (shuffle path only): an (cell, k) hot-cell plan from
    ``overlay_salt_plan``. The polygon-id keys of the vertex attaches
    are their own skew axis — a continent ring intersecting millions of
    small polygons concentrates its whole pair mass on one hash-join
    task — so with a plan supplied both attaches go through
    ``attach_polygon_dim``'s two-side salt (candidate rows scatter over
    pmod(xxhash64(other id), k); hot polygons' vertex rows replicate k
    ways; join key (id, salt)) with per-way factors inherited from the
    covering via ``way_salt_plan`` — the identical machinery the PIP
    family's vertex attach uses (round-4 verdict ask #8). Without a
    plan the attaches stay plain shuffle-hash joins with AQE as the
    backstop. The salt changes the schedule, never the pairs.

    ``self_join=True`` keeps each unordered pair once (a_id < b_id) and
    drops the identity pair — the "overlapping polygons within one
    layer" dedup shape.

    ``levels_a``/``levels_b`` (pass BOTH): the resolution sets of
    MIXED-resolution coverings (``build_way_cells_adaptive`` /
    ``covering_levels``) — big polygons covered coarse so the covering
    tables stay O(polygons × budget). The prejoin then runs over
    ``expand_covering`` keys (finer side re-expressed at the coarser
    side's levels via the recall-complete disk-1 expansion); everything
    downstream — dedup, vertex attach, refine — is unchanged, so the
    result is exactly the flat join's.
    """
    if strategy not in ("broadcast", "shuffle"):
        raise ValueError(f"strategy must be 'broadcast' or 'shuffle', got {strategy!r}")
    if salts is not None and strategy != "shuffle":
        raise ValueError("salts applies to the shuffle path only")
    if (levels_a is None) != (levels_b is None):
        raise ValueError("pass levels_a and levels_b together (or neither)")
    if levels_a is not None:
        ca = expand_covering(cells_a, levels_a, levels_b).select(
            F.col("way_id").alias("a_id"), F.col("jcell").alias("cell")
        )
        cb = expand_covering(cells_b, levels_b, levels_a).select(
            F.col("way_id").alias("b_id"), F.col("jcell").alias("cell")
        )
    else:
        ca = cells_a.select(F.col("way_id").alias("a_id"), "cell")
        cb = cells_b.select(F.col("way_id").alias("b_id"), "cell")
    if strategy == "broadcast":
        cb = F.broadcast(cb)
    else:
        cb = cb.hint("shuffle_hash")
    pairs = ca.join(cb, "cell").select("a_id", "b_id")
    if self_join:
        pairs = pairs.filter(F.col("a_id") < F.col("b_id"))
    # Dedup the skinny pair list BEFORE vertex arrays attach — a pair
    # sharing k covering cells must refine once, not k times. The
    # explicit fixed-width repartition on the pair key doubles as the
    # dedup exchange (distinct reuses the partitioning) AND pins the
    # refine's parallelism: pair rows are ~16 bytes but carry
    # O(|Va|·|Vb|) refine arithmetic each, so AQE's byte-based
    # coalescing would otherwise collapse the refine to 1-2 tasks
    # (BENCH.md finding #3; measured 2× on a 2000×1000-polygon probe).
    parallelism = pairs.sparkSession.sparkContext.defaultParallelism
    pairs = pairs.repartition(parallelism, "a_id", "b_id").distinct()

    va = polys_a.select(
        F.col("way_id").alias("a_id"),
        F.col("vlat").alias("avlat"),
        F.col("vlon").alias("avlon"),
    )
    vb = polys_b.select(
        F.col("way_id").alias("b_id"),
        F.col("vlat").alias("bvlat"),
        F.col("vlon").alias("bvlon"),
    )
    if strategy == "broadcast":
        # Only the B-side dims broadcast on this path ("B is the small
        # layer"); A is the potentially-huge side (10^8 landuse ways
        # with vertex arrays), so its vertex dim hash-joins on a_id —
        # the pair list is skinny and already repartitioned on the pair
        # key, so this is one bounded exchange of the A vertex dim, not
        # a driver-memory-blowing broadcast of it.
        cand = pairs.join(va.hint("shuffle_hash"), "a_id").join(
            F.broadcast(vb), "b_id"
        )
    else:
        ws_a = ws_b = None
        if salts is not None:
            ws_a = way_salt_plan(cells_a, salts).withColumnRenamed("way_id", "a_id")
            ws_b = way_salt_plan(cells_b, salts).withColumnRenamed("way_id", "b_id")
        cand = attach_polygon_dim(
            pairs, va, "a_id", "shuffle", way_salts=ws_a, scatter_col="b_id"
        )
        cand = attach_polygon_dim(
            cand, vb, "b_id", "shuffle", way_salts=ws_b, scatter_col="a_id"
        )
    keep = polygons_intersect_expr(
        F.col("avlat"), F.col("avlon"), F.col("bvlat"), F.col("bvlon")
    )
    return cand.filter(keep).select("a_id", "b_id")


def dissolve(
    polygons: DataFrame,
    cells: DataFrame,
    strategy: str = "broadcast",
    levels: list[int] | None = None,
    salts: DataFrame | None = None,
) -> DataFrame:
    """Dissolve: cluster transitively-overlapping polygons of ONE layer
    (A overlaps B, B overlaps C ⇒ {A,B,C} merge) — the standard GIS
    "merge touching landuse areas" operation, composed from the overlay
    self-join and ``connected_components`` (min-label propagation +
    pointer jumping, O(log diameter) lineage-truncated rounds).

    One row per polygon: (way_id, cluster_id, is_keeper, cluster_size);
    non-overlapping polygons are their own singleton cluster, keeper =
    min way_id (deterministic)."""
    from osm_spark.graph.components import dedup_clusters

    pairs = overlay_join(
        polygons, polygons, cells, cells, strategy=strategy, self_join=True,
        levels_a=levels, levels_b=levels, salts=salts,
    )
    out = dedup_clusters(polygons, pairs, id_col="way_id", a="a_id", b="b_id")
    return out.withColumnRenamed("doc_id", "way_id")
