"""Multi-source landmark distances — the ALT-preprocessing primitive.

Goldberg–Harrelson's ALT routing (A* + landmarks + triangle inequality,
SODA 2005 — public method) preprocesses a road network by storing every
vertex's exact distance to k landmark vertices; queries then use
``|d(v,L) − d(w,L)|`` as an admissible A* heuristic. The preprocessing
is the expensive part at scale, and running k independent SSSP jobs
scans the edge table k times and pays k× the iteration fixed costs.

This operator computes the whole k-wide distance table in ONE
Bellman-Ford-style fixpoint: the per-round state is a k-vector of
distances carried as k long columns, relaxed elementwise (min-plus is
independent per landmark, so one edge join + ONE map-side-combined
aggregate with k ``min`` columns advances every landmark at once).
Per-round shuffle volume is (id, k×8 bytes) — the same number of
exchanges as a single SSSP, not k of them.

Exactness: identical contract to graph/sssp.py ``shortest_paths`` per
landmark — after R rounds each element holds the exact minimum weight
over walks of ≤ R edges from its landmark (extra propagations caused by
ANOTHER element's improvement re-offer already-propagated values, which
min-plus ignores; every improvement re-enters the frontier, so no walk
is missed). Integer weights, long sums — value-hash gateable against a
hop-bounded recursive-CTE oracle seeded with all k landmarks.

Scale notes: k is routing config (dozens), never data-sized — the k
``min`` aggregate columns stay map-side combined and the row width is
bounded; the frontier optimization keeps late-round work proportional
to the improving subset exactly as in ``shortest_paths``, and rounds run
through the same ``iterate.fixpoint`` loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.graph.iterate import drop_truncated, fixpoint, truncate_lineage

__all__ = ["landmark_distances"]


def landmark_distances(
    edges: DataFrame,
    landmarks: list[int],
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """(id, landmark, dist_mm) — minimum walk weight over ≤ ``max_hops``
    edges from each landmark vertex to every vertex it reaches
    (unreached (vertex, landmark) pairs are absent).

    ``edges``: directed (src, dst, w) with non-negative LONG weights —
    symmetrize first for undirected graphs. ``landmarks``: distinct
    vertex ids (config, not data — dozens at most; each adds one long
    column to the iteration state and one ``min`` to the aggregate).
    """
    if not landmarks:
        raise ValueError("landmarks must be non-empty")
    if len(set(landmarks)) != len(landmarks):
        raise ValueError(f"landmarks must be distinct, got {landmarks}")
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")

    k = len(landmarks)
    cols = [f"_d{i}" for i in range(k)]
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
        raise ValueError("landmark_distances requires non-negative weights")

    spark = edges.sparkSession
    seed_rows = [
        tuple([int(lm)] + [0 if j == i else None for j in range(k)])
        for i, lm in enumerate(landmarks)
    ]
    schema = "id long, " + ", ".join(f"{c} long" for c in cols)
    seeds = spark.createDataFrame(seed_rows, schema).withColumn("improved", F.lit(True))

    def relax(state: DataFrame) -> DataFrame:
        # the frontier: rows improved last round — the seeds initially
        frontier = state.where("improved")
        relaxed = (
            e.join(frontier.hint("shuffle_hash"), e["e_src"] == frontier["id"])
            .groupBy(F.col("e_dst").alias("id"))
            .agg(
                *[
                    F.min(F.col(c) + F.col("e_w")).alias(f"_c{i}")
                    for i, c in enumerate(cols)
                ]
            )
        )
        sel = [F.col("id")]
        improved = F.lit(False)
        for i, c in enumerate(cols):
            old, cand = F.col(c), F.col(f"_c{i}")
            # least() skips NULLs (full join: either side can be absent)
            sel.append(F.least(old, cand).alias(c))
            improved = improved | (
                (old.isNull() & cand.isNotNull()) | (cand < old)
            )
        return state.select("id", *cols).join(
            relaxed.hint("shuffle_hash"), "id", "full"
        ).select(*sel, improved.alias("improved"))

    dist, _ = fixpoint(
        relax,
        seeds,
        max_hops,
        done=lambda obs, _: obs["improved"] == 0,
        improved=F.count_if("improved"),
    )
    drop_truncated(e)
    return dist.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(int(lm)).cast("long").alias("landmark"),
                        F.col(c).alias("dist_mm"),
                    )
                    for lm, c in zip(landmarks, cols)
                ]
            )
        ).alias("_e"),
    ).select(
        "id", F.col("_e.landmark").alias("landmark"),
        F.col("_e.dist_mm").alias("dist_mm"),
    ).where(F.col("dist_mm").isNotNull())
