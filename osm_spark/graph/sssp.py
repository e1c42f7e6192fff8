"""Bounded-hop single-source shortest paths (distributed Bellman-Ford)
over the OSM way graph.

"How far is every way vertex from the nearest city center along the
road network" — the routing-adjacent primitive a geospatial corpus
engine needs for isochrone-style features (reachability bands feed
crawl prioritization and tile styling). Reference data model analog:
way node lists (`lib/osm/way.rb`) define the edges; the traversal is
graft-mandated family SURVEY.md §2.10 / graph layer (pagerank,
connected_components are the siblings).

Semantics: ``shortest_paths(edges, sources, max_hops)`` returns, for
every vertex reachable within ``max_hops`` edges, the MINIMUM total
weight over all walks of ≤ ``max_hops`` edges from any source. With
non-negative integer weights this equals the true shortest-path
distance whenever the algorithm converges before the bound (it stops
early at the fixpoint); the bound makes the semantics replayable by a
hop-bounded recursive-CTE oracle EXACTLY, converged or not — after R
rounds Bellman-Ford holds min-over-walks-of-≤R-edges, which is the same
set the recursion enumerates.

Weights are INTEGER (millimeters by convention): min-plus over longs is
exact and associative, so the result is value-hash gateable and
independent of join/partition order. Negative weights are rejected
(min-plus Bellman-Ford would need the full |V|−1 bound and cycle
detection — not this operator's contract).

Plan per round (``iterate.fixpoint``, the pagerank/CC loop): one
shuffle-hash edge join keyed by src + one map-side-combined min
aggregate keyed by dst + one min merge with the previous frontier —
shuffles carry (id, dist) pairs (16 bytes/vertex), never the edge
payload twice. Early exit on an exact integer fixpoint: the round's
write counts its improved rows.

Frontier optimization: the relaxation joins only rows IMPROVED in the
previous round (the classic delta-stepping-lite trick) — on high-
diameter graphs late rounds touch a shrinking frontier instead of the
whole vertex set, so total work is O(Σ frontier sizes), not
O(rounds × |V|).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.graph.iterate import drop_truncated, fixpoint, truncate_lineage


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """(id, dist) — min walk weight over ≤ ``max_hops`` edges from any
    source vertex; unreachable vertices are absent.

    ``edges``: directed (src, dst, w) with w a non-negative LONG —
    symmetrize first for undirected graphs. ``sources``: (id) — all
    start at distance 0; duplicate ids are tolerated.
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")

    e = edges.select(
        F.col(src).alias("e_src"),
        F.col(dst).alias("e_dst"),
        # a negative weight lands as -1, so the write's count sees it
        # even where the cast would truncate it to 0 (-0.5)
        F.when(F.col(weight) < 0, F.lit(-1))
        .otherwise(F.col(weight).cast("long"))
        .alias("e_w"),
    )
    e = truncate_lineage(e, neg=F.count_if(F.col("e_w") < 0))
    if e._observed["neg"]:
        drop_truncated(e)
        raise ValueError("shortest_paths requires non-negative weights")

    def relax(state: DataFrame) -> DataFrame:
        # the frontier: rows improved last round — all sources initially
        frontier = state.where("improved")
        relaxed = (
            e.join(frontier.hint("shuffle_hash"), e["e_src"] == frontier["id"])
            .groupBy(F.col("e_dst").alias("id"))
            .agg(F.min(F.col("dist") + F.col("e_w")).alias("cand"))
        )
        return (
            state.select("id", "dist")
            .join(relaxed.hint("shuffle_hash"), "id", "full")
            .select(
                "id",
                # least() skips NULLs (full join: exactly one side can be)
                F.least(F.col("dist"), F.col("cand")).alias("dist"),
                # improved = new vertex, or a strictly smaller distance
                (
                    F.col("dist").isNull()
                    | (F.col("cand") < F.col("dist"))
                ).alias("improved"),
            )
        )

    dist, _ = fixpoint(
        relax,
        sources.select(F.col("id").cast("long").alias("id"))
        .distinct()
        .select("id", F.lit(0).cast("long").alias("dist"), F.lit(True).alias("improved")),
        max_hops,
        done=lambda obs, _: obs["improved"] == 0,
        improved=F.count_if("improved"),
    )
    drop_truncated(e)
    return dist.select("id", "dist")


def reachability_zones(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    band_mm: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Isochrone-style reachability bands: (band, n_vertices, min_mm,
    max_mm) where band = dist div band_mm — "how much of the network
    lies 0-1 km, 1-2 km, ... from the seed set", the aggregate feeding
    crawl prioritization, tile styling and coverage dashboards.

    A pure composition: shortest_paths (all its exactness and
    per-round plan guarantees inherited) followed by ONE integer band
    projection + ONE map-side-combined aggregate over the |V|-sized
    distance table. Everything stays exact longs, so the composed
    operator keeps the value-hash gate."""
    if band_mm < 1:
        raise ValueError(f"band_mm must be >= 1, got {band_mm}")
    sp = shortest_paths(
        edges, sources, max_hops, src=src, dst=dst, weight=weight
    )
    band = F.expr(f"dist div {band_mm}L")
    return (
        sp.groupBy(band.alias("band"))
        .agg(
            F.count(F.lit(1)).alias("n_vertices"),
            F.min("dist").alias("min_mm"),
            F.max("dist").alias("max_mm"),
        )
    )
