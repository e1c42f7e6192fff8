"""Label propagation communities (Raghavan et al. 2007), synchronous
deterministic variant.

The community-structure layer between connected components (too coarse
— one bridge edge merges everything) and modularity methods (too
sequential for a shuffle engine): each vertex adopts the label the
PLURALITY of its neighbors holds. Detects link cliques/farms and topic
clusters in the host graph at near-CC cost.

Determinism contract (the gateability design): classic LPA breaks ties
randomly and updates asynchronously — unreproducible by construction.
This variant is synchronous with the PINNED tie-break (highest neighbor
count, then smallest label), run for a FIXED round count, so the result
is a pure function of the graph and replays in an unrolled SQL oracle
exactly (the pagerank precedent for iterative gates). Synchronous LPA
can oscillate on bipartite-ish structures instead of converging — the
bounded round count is therefore part of the SEMANTICS, not a budget
(documented; the classic mitigation of per-round dampening would break
the plurality semantics).

Plan per round (the pagerank/CC iteration pattern): one shuffle-hash
join of the label table to the edge list keyed by src (label table
shuffles — |V| rows; bucket the edges by src to keep the |E| side
exchange-free), one map-side-combined (dst, label) count, one struct-min
argmax per dst — min(struct(-cnt, label)) picks plurality-then-smallest
in a single ObjectHashAggregate (the snap argmin precedent: a plain
struct min stays in hash aggregation, no sort). Isolated vertices keep
their label via the left merge. Rounds run through ``iterate.fixpoint``
for exactly ``n_iter`` rounds.

Edges must be SYMMETRIC (undirected), the connected_components input
convention; pass both directions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.graph.iterate import drop_truncated, fixpoint, truncate_lineage
from osm_spark.graph.pagerank import vertex_ids


def label_propagation(
    edges: DataFrame,
    n_iter: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(id, label) after ``n_iter`` synchronous plurality rounds;
    labels start as vertex ids, so a label names the community by one
    of its members."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    verts = truncate_lineage(vertex_ids(edges, src, dst))
    e = truncate_lineage(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    )

    def vote(labels: DataFrame) -> DataFrame:
        votes = (
            e.join(
                labels.select(F.col("id").alias("s"), "label").hint(
                    "shuffle_hash"
                ),
                "s",
            )
            .groupBy(F.col("d").alias("id"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        winner = votes.groupBy("id").agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("neg"), F.col("label").alias("l")
                )
            ).alias("w")
        )
        return (
            verts.join(winner.hint("shuffle_hash"), "id", "left")
            .join(
                labels.select("id", F.col("label").alias("_old")).hint(
                    "shuffle_hash"
                ),
                "id",
            )
            .select(
                "id",
                F.coalesce(F.col("w.l"), F.col("_old")).alias("label"),
            )
        )

    labels, _ = fixpoint(
        vote, verts.select("id", F.col("id").alias("label")), n_iter
    )
    drop_truncated(e)
    drop_truncated(verts)
    return labels
