"""k-core subgraph extraction by iterative peeling.

The density filter of link-graph analysis: the k-core is the maximal
subgraph in which every vertex keeps degree ≥ k. Spam/link-farm
detection prunes the host graph to its dense core before running
PageRank (graph/pagerank.py) or triangle counts (graph/triangles.py);
the 2-core alone removes every tree-shaped crawl tendril. Same
iterative family as components.py (SURVEY §2-addendum graph layer).

Algorithm — synchronous peeling (Matula & Beck 1983, the textbook
algorithm, run level-synchronously):

    repeat: deg(v) over surviving edges; drop v with deg(v) < k;
            drop edges touching a dropped vertex
    until no vertex is dropped.

Each round is one map-side-combined degree exchange plus two skinny
semi-joins on the surviving vertex set — the edge payload is (u, v)
longs only. Rounds run through ``iterate.fixpoint``: the round plan
references the previous edge set three times, the k^rounds
logical-plan blow-up documented there, and the round's write observes
its edge count, so convergence costs no job. Convergence needs at most
|V(peeled)| rounds but in web graphs is near-instant (tendrils are
shallow); ``max_iter`` bounds pathology and RAISES on non-convergence
rather than returning a non-fixpoint (the components.py contract).

Exactness: the fixpoint is unique (the k-core is a closure — peeling
order never changes the result), so the iterative algorithm is
replayable by a bounded unrolled SQL peel: R unrolled rounds equal the
fixpoint whenever the engine converged within R, which the engine
asserts. Integer-only output — hash-gateable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.graph.iterate import drop_truncated, fixpoint, truncate_lineage
from osm_spark.graph.triangles import canonical_edges, vertex_degrees


def kcore(
    edges: DataFrame,
    k: int,
    a: str = "src",
    b: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """(id, deg) for every vertex of the k-core; ``deg`` is the degree
    WITHIN the core (≥ k by construction). Empty when no core exists.

    Input may be directed / duplicated / self-looped — canonicalized
    first. Raises if the peel has not reached its fixpoint within
    ``max_iter`` rounds (never returns a non-core)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    n = F.count(F.lit(1))
    e = truncate_lineage(canonical_edges(edges, a, b), n=n)

    def peel(e: DataFrame) -> DataFrame:
        survivors = vertex_degrees(e).where(F.col("deg") >= k).select("id")
        return e.join(
            survivors.hint("shuffle_hash").withColumnRenamed("id", "u"), "u",
            "left_semi",
        ).join(
            survivors.hint("shuffle_hash").withColumnRenamed("id", "v"), "v",
            "left_semi",
        )

    # edges only shrink, so an unchanged count IS the fixpoint
    core, converged = fixpoint(
        peel, e, max_iter, done=lambda new, old: new["n"] in (old["n"], 0), n=n
    )
    drop_truncated(e)
    if not converged:
        drop_truncated(core)
        raise RuntimeError(
            f"kcore(k={k}) did not converge within max_iter={max_iter} rounds"
        )
    return vertex_degrees(core)
