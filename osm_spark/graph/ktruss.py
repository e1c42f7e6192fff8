"""k-truss subgraph extraction by iterative edge-support peeling.

The EDGE-grained cousin of the k-core (graph/kcore.py): the k-truss is
the maximal subgraph in which every edge participates in ≥ k−2
triangles (Cohen, "Trusses: cohesive subgraphs for social network
analysis", NSA tech report 2008). A k-core keeps hub-and-spoke spam
rings whose vertices are individually well-connected; a k-truss
requires every EDGE to be triangle-reinforced, so bipartite-ish link
farms fall out — the sharper cohesion cut before community analysis.

Algorithm — synchronous support peeling, the kcore.py discipline at
edge granularity:

    repeat: support(u,v) = # triangles on the surviving edge set
            (degree-ordered wedge generation, triangles.py — each
            triangle found ONCE, scattered to its three edges);
            drop edges with support < k−2
    until no edge is dropped.

Each round is the triangle machinery's bounded wedge exchange (the
Suri-Vassilvitskii orientation keeps hub fan-out off single reducers)
plus one map-side-combined support count and a semi join. Rounds run
through ``iterate.fixpoint`` with the edge count observed on each
round's write; ``max_iter`` RAISES on non-convergence (the
components/kcore contract — never a non-fixpoint).

Exactness: the k-truss is a closure — peeling order never changes the
fixpoint — so a bounded unrolled SQL replay with R ≥ engine rounds is
exact, and the engine asserts convergence. Integer-only output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.graph.iterate import drop_truncated, fixpoint, truncate_lineage
from osm_spark.graph.triangles import canonical_edges, triangles

__all__ = ["ktruss"]


def _edge_support(e: DataFrame) -> DataFrame:
    """(u, v, support) over the canonical edge set — each triangle
    (x, y, z) contributes to its three edges; corners arrive
    rank-ordered from triangles(), so edge endpoints re-canonicalize
    with least/greatest before the count."""
    tri = triangles(e, "u", "v")
    sides = (
        tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
        .unionAll(tri.select(F.col("x").alias("a"), F.col("z").alias("b")))
        .unionAll(tri.select(F.col("y").alias("a"), F.col("z").alias("b")))
    )
    per_edge = sides.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).groupBy("u", "v").agg(F.count(F.lit(1)).alias("support"))
    return e.join(per_edge.hint("shuffle_hash"), ["u", "v"], "left").select(
        "u",
        "v",
        F.coalesce(F.col("support"), F.lit(0).cast("long")).alias("support"),
    )


def ktruss(
    edges: DataFrame,
    k: int,
    a: str = "src",
    b: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """(u, v, support) for every edge of the k-truss (u < v); support
    is the triangle count WITHIN the truss (≥ k−2 by construction).
    Empty when no truss exists. Input may be directed / duplicated /
    self-looped — canonicalized first. Raises if the peel has not
    converged within ``max_iter`` rounds."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    need = k - 2
    n = F.count(F.lit(1))
    e = truncate_lineage(canonical_edges(edges, a, b), n=n)
    if e._observed["n"] == 0:
        return _edge_support(e)
    # edges only shrink, so an unchanged count IS the fixpoint
    truss, converged = fixpoint(
        lambda e: _edge_support(e).where(F.col("support") >= need).select("u", "v"),
        e,
        max_iter,
        done=lambda new, old: new["n"] in (old["n"], 0),
        n=n,
    )
    drop_truncated(e)
    if not converged:
        drop_truncated(truss)
        raise RuntimeError(
            f"ktruss(k={k}) did not converge within max_iter={max_iter} rounds"
        )
    return _edge_support(truss)
