"""Landmark stress centrality — the integer member of the betweenness
family (Shimbel 1953): ``stress(v) = Σ_{s,t} σ_st(v)``, the number of
shortest s→t paths passing THROUGH v, summed over a landmark pair set.
The routing/web use: which junction vertices (pages) carry the bulk of
shortest-path traffic between the hubs. Betweenness proper divides by
``σ_st`` — a float whose backward dependency accumulation is
order-sensitive across engines; stress keeps every quantity an exact
INTEGER (path counts and their products), which is what makes the
cross-engine value-hash gate possible, and is the standard integer
surrogate when exactness matters.

Construction (k landmarks, hop-bounded like the whole SSSP family):

1. forward distances ``dF_s(v)`` and backward distances ``dB_t(v)``
   (one ``landmark_distances`` k-wide Bellman-Ford each way —
   graph/landmarks.py).
2. shortest-path DAG edges per landmark: edge u→v is a predecessor
   edge for s iff ``dF_s(u) + w = dF_s(v)`` — positive weights make
   this a DAG, so
3. path counts ``σF_s(v)`` iterate ``σ^t(v) = Σ_{pred u} σ^{t-1}(u)``
   from ``σ(s) = 1`` to fixpoint (≤ max_hops rounds — exactly the
   count of min-weight ≤max_hops-edge paths, matching the distance
   semantics); σB likewise on the reversed graph.
4. ``stress(v) = Σ_{s,t, v∉{s,t}} [dF_s(v) + dB_t(v) = D(s,t)] ·
   σF_s(v) · σB_t(v)`` where ``D(s,t)`` is the k×k landmark distance
   matrix — k² bounded scalars (the engine's driver-stat idiom).

Scale: distances and counts ride ONE frame with k columns each (the
landmarks.py layout — k is config, dozens at most); every round is one
edge join + one aggregate (a σ round adds a left join to the previous
round, whose result is the round's change flag); the only driver-side
state is the k×k matrix. Path counts are exact int64 — at web scale σ
can overflow int64 on pathological lattice graphs (2^63 paths); the
operator keeps longs and documents the bound rather than paying decimal
everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.graph.iterate import drop_truncated, fixpoint, truncate_lineage
from osm_spark.graph.landmarks import landmark_distances

__all__ = ["landmark_stress"]


def _wide(dists: DataFrame, landmarks: list[int], prefix: str) -> DataFrame:
    """(id, {prefix}0..{prefix}k-1) from landmark_distances' long form."""
    return dists.groupBy("id").agg(
        *[
            F.min(
                F.when(F.col("landmark") == F.lit(int(lm)), F.col("dist_mm"))
            ).alias(f"{prefix}{i}")
            for i, lm in enumerate(landmarks)
        ]
    )


def _sigma(
    e: DataFrame,
    dist_wide: DataFrame,
    landmarks: list[int],
    max_hops: int,
) -> DataFrame:
    """(id, _s0.._sk-1) — per-landmark counts of min-weight ≤max_hops-
    edge paths, by fixpoint over the shortest-path DAG."""
    k = len(landmarks)
    dcols = [f"_d{i}" for i in range(k)]
    scols = [f"_s{i}" for i in range(k)]
    du = dist_wide.select(
        F.col("id").alias("e_src"), *[F.col(c).alias(f"_u{i}") for i, c in enumerate(dcols)]
    )
    dv = dist_wide.select(
        F.col("id").alias("e_dst"), *[F.col(c).alias(f"_v{i}") for i, c in enumerate(dcols)]
    )
    dag = truncate_lineage(
        e.join(du.hint("shuffle_hash"), "e_src")
        .join(dv.hint("shuffle_hash"), "e_dst")
        .select(
            "e_src",
            "e_dst",
            *[
                (
                    F.col(f"_u{i}").isNotNull()
                    & F.col(f"_v{i}").isNotNull()
                    & (F.col(f"_u{i}") + F.col("e_w") == F.col(f"_v{i}"))
                ).alias(f"_p{i}")
                for i in range(k)
            ],
        )
        .where(
            F.greatest(*[F.col(f"_p{i}").cast("int") for i in range(k)]) == 1
        )
    )
    spark = e.sparkSession
    seed_rows = [
        tuple([int(lm)] + [1 if j == i else 0 for j in range(k)])
        for i, lm in enumerate(landmarks)
    ]
    seeds = spark.createDataFrame(
        seed_rows, "id long, " + ", ".join(f"{c} long" for c in scols)
    )

    def count_paths(cur: DataFrame) -> DataFrame:
        contrib = (
            dag.join(
                cur.select(
                    F.col("id").alias("e_src"),
                    *[F.col(c).alias(f"_x{i}") for i, c in enumerate(scols)],
                ).hint("shuffle_hash"),
                "e_src",
            )
            .groupBy(F.col("e_dst").alias("id"))
            .agg(
                *[
                    F.sum(
                        F.when(F.col(f"_p{i}"), F.col(f"_x{i}")).otherwise(
                            F.lit(0)
                        )
                    ).alias(f"_c{i}")
                    for i in range(k)
                ]
            )
        )
        # σ is recomputed WHOLE each round from the seeds + incoming
        # sums (never merged with the previous value — path counts are
        # not monotone mins), with the landmark rows pinned at 1
        merged = (
            seeds.join(contrib.hint("shuffle_hash"), "id", "full")
            .select(
                "id",
                *[
                    F.when(
                        F.col(scols[i]).isNotNull() & (F.col(scols[i]) == 1),
                        F.lit(1),
                    )
                    .otherwise(F.coalesce(F.col(f"_c{i}"), F.lit(0)))
                    .cast("long")
                    .alias(scols[i])
                    for i in range(k)
                ],
            )
        )
        # the change flag rides the round's output: the previous round's
        # rows never disappear (every row's sources stay in the next
        # round's join), so a left join meets each of them
        old = cur.select(
            "id", *[F.col(c).alias(f"_o{i}") for i, c in enumerate(scols)]
        )
        chg = F.col("_o0").isNull()
        for i, c in enumerate(scols):
            chg = chg | (F.col(c) != F.col(f"_o{i}"))
        return merged.join(old.hint("shuffle_hash"), "id", "left").select(
            "id", *scols, chg.alias("_chg")
        )

    sigma, _ = fixpoint(
        count_paths,
        seeds,
        max_hops,
        done=lambda obs, _: obs["changed"] == 0,
        changed=F.count_if("_chg"),
    )
    drop_truncated(dag)
    return sigma


def landmark_stress(
    edges: DataFrame,
    landmarks: list[int],
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """(id, stress) — Σ over landmark pairs (s, t), s ≠ t and
    v ∉ {s, t}, of the number of min-weight (≤max_hops-edge each side)
    s→t paths through v. Vertices on no landmark shortest path report
    stress 0; isolated vertices (no edges) don't appear."""
    if len(landmarks) < 2:
        raise ValueError("landmark_stress needs at least 2 landmarks")
    k = len(landmarks)
    e = truncate_lineage(
        edges.select(
            F.col(src).alias("e_src"),
            F.col(dst).alias("e_dst"),
            F.col(weight).cast("long").alias("e_w"),
        )
    )
    rev = e.select(
        F.col("e_dst").alias("e_src"),
        F.col("e_src").alias("e_dst"),
        "e_w",
    )
    dF = _wide(
        landmark_distances(e, landmarks, max_hops, src="e_src", dst="e_dst", weight="e_w"),
        landmarks,
        "_d",
    )
    dB = _wide(
        landmark_distances(rev, landmarks, max_hops, src="e_src", dst="e_dst", weight="e_w"),
        landmarks,
        "_d",
    )
    dFt = truncate_lineage(dF)
    dBt = truncate_lineage(dB)
    sF = _sigma(e, dFt, landmarks, max_hops)
    sB = _sigma(rev, dBt, landmarks, max_hops)

    # k×k landmark matrix — bounded driver stat
    lm_set = {int(x) for x in landmarks}
    dmat = {}
    for row in dFt.where(F.col("id").isin(list(lm_set))).collect():
        for i in range(k):
            v = row[f"_d{i}"]
            if v is not None:
                dmat[(i, int(row["id"]))] = int(v)

    joined = (
        dFt.join(
            dBt.select(
                "id", *[F.col(f"_d{i}").alias(f"_b{i}") for i in range(k)]
            ).hint("shuffle_hash"),
            "id",
        )
        .join(sF.hint("shuffle_hash"), "id")
        .join(
            sB.select(
                "id", *[F.col(f"_s{i}").alias(f"_t{i}") for i in range(k)]
            ).hint("shuffle_hash"),
            "id",
        )
    )
    terms = []
    for i, s_lm in enumerate(landmarks):
        for j, t_lm in enumerate(landmarks):
            key = (i, int(t_lm))
            if i == j or key not in dmat:
                continue
            terms.append(
                F.when(
                    (F.col("id") != F.lit(int(s_lm)))
                    & (F.col("id") != F.lit(int(t_lm)))
                    & F.col(f"_d{i}").isNotNull()
                    & F.col(f"_b{j}").isNotNull()
                    & (F.col(f"_d{i}") + F.col(f"_b{j}") == F.lit(dmat[key])),
                    F.col(f"_s{i}") * F.col(f"_t{j}"),
                ).otherwise(F.lit(0))
            )
    if not terms:
        raise ValueError(
            "landmark_stress: no landmark pair is mutually reachable "
            f"within max_hops={max_hops} — every stress term is empty; "
            "pick landmarks inside one reachable region or raise the bound"
        )
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    verts = (
        e.select(F.col("e_src").alias("id"))
        .unionByName(e.select(F.col("e_dst").alias("id")))
        .distinct()
    )
    out = verts.join(
        joined.select("id", total.cast("long").alias("_st")).hint(
            "shuffle_hash"
        ),
        "id",
        "left",
    ).select("id", F.coalesce("_st", F.lit(0)).cast("long").alias("stress"))
    result = truncate_lineage(out)
    for df in (e, dFt, dBt, sF, sB):
        drop_truncated(df)
    return result
