"""Connected components by min-label propagation with pointer jumping.

The dedup-clustering step of a web-corpus pipeline: near-duplicate
candidate PAIRS (from LSH / SimHash blocking, text/dedup.py) form an
undirected graph; each connected component is one duplicate cluster and
keeps one canonical document. Mirrors the reference's grouped-assembly
idiom (ways grouped from member lists, lib/osm/way.rb — SURVEY §2.3 J3)
at cluster granularity.

Algorithm
---------
Synchronous min-label propagation, accelerated by pointer jumping:

    label(v) ← min(label(v), min_{u∈Γ(v)} label(u))   # neighbor min
    label(v) ← label(label(v))                        # pointer jump

Plain propagation needs O(diameter) rounds; the jump step composes the
label mapping with itself each round, so convergence is O(log diameter)
— a 100-vertex path closes in ~7 rounds, not 99 (tests pin this). Each
round is three hash exchanges over (id, label) pairs — 16 bytes/vertex,
never the edge payload twice — with map-side min combiners. Rounds run
through ``iterate.fixpoint``; each carries a changed flag (``star`` is
the previous label) that its write counts, so a round's only action is
that write (14 jobs at local[4], pinned by a test).

Driver rung
-----------
The first truncation writes the raw (a, b) pairs as (u, v), and the
write observes their row count and null count (no extra job). When there
are at most ``DRIVER_MAX_EDGES`` pairs, the leaf is local (the temp dir
or a ``file:`` checkpoint dir), the ids are integral and none is null,
the whole fixpoint runs on the driver instead: pyarrow reads the leaf,
``np.unique`` maps ids to dense indices, and ``_np_round`` repeats
``_round`` step for step in vectorized numpy (``np.minimum.at`` for the
neighbour-min and star aggregates, ``lab[lab]`` for the jumps). It is
exact, not approximate: ``np.unique`` returns the ids sorted, so the
minimum index of a component is its minimum id, and the same rounds
produce the same labels and the same round count, so ``max_iter``
raises on exactly the graphs the distributed loop raises on. The
result is written back with pyarrow as a parquet leaf in the truncation
dir (``iterate.arrow_leaf``), with the id type of the distributed
path's output. On ~24k near-dup pairs this cut the whole near-dup op
(pairs plus clustering) from 62 Spark jobs to 11 (BENCH.md #18).

The ceiling is sized by driver memory: on 4 cores, a synthetic graph
with a giant component took 0.04 s and +27 MB peak RSS at 200k pairs,
0.52 s and +208 MB at 2M, 1.4 s and +407 MB at 4M (≈100 bytes per
pair, read through write, 6–7 rounds). 2M keeps the driver's share
near 200 MB; past it, on shared storage, or with null or non-integral
ids, the distributed loop runs.

Convergence is to the exact minimum vertex id per component, so the
result is independent of round count and replayable by any transitive-
closure oracle (DuckDB ``WITH RECURSIVE``), float-free and hash-exact.

Duplicate-cluster graphs (LSH bands over near-identical docs) are
near-cliques: diameter ≤ 3, so 2-3 rounds in practice. Adversarial
chain-shaped graphs are the pointer-jump case. ``max_iter`` bounds
pathology; hitting it raises rather than returning a wrong answer.
"""

from __future__ import annotations

from typing import NoReturn

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StructField, StructType

from osm_spark.graph.iterate import (
    arrow_leaf,
    drop_truncated,
    fixpoint,
    local_dir,
    truncate_lineage,
)

# Raw (a, b) pairs at or under this count are labelled on the driver
# (module docstring, "Driver rung"); 0 turns the rung off.
DRIVER_MAX_EDGES = 2_000_000


def _symmetrize(pairs: DataFrame, a: str, b: str) -> DataFrame:
    fwd = pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
    return fwd.unionByName(fwd.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()


def _round(edges: DataFrame, labels: DataFrame, jumps: int = 2) -> DataFrame:
    """One star-contraction round (untruncated — the loop wraps it in
    truncate_lineage; tests plan-audit this directly):

    1. neighbor-min:   n(v)   = min label over Γ(v)        (edge join)
    2. candidate:      c(v)   = min(label(v), n(v))
    3. star aggregate: r(s)   = min c(v) over v with label(v)=s
    4. star broadcast: l'(v)  = min(c(v), r(label(v)))
    5. ``jumps`` pointer-jump self-joins through the evolving mapping.

    Steps 3-4 are the part naive label propagation lacks: a smaller id
    discovered at one BORDER vertex reaches every member of its
    component within the same round (members all point at the same
    star root), instead of crawling back edge by edge — measured on a
    chains+shortcuts graph, pure propagate+jump still moved labels at
    round 45 while this form closes in ~7 rounds. Alternating star
    contraction is the classic O(log n)-round MapReduce CC scheme.

    All equi-joins hint shuffle_hash: large-table joins whose output is
    consumed once, so sort-merge would pay a per-round re-sort for
    nothing. Late rounds concentrate the star keys on few components
    (giant-component skew); AQE skew-join splitting handles the probe
    side, and the build side is always the small unique-key table."""
    nbr_min = (
        edges.join(labels.hint("shuffle_hash"), edges["v"] == labels["id"])
        .groupBy(F.col("u").alias("id"))
        .agg(F.min("comp").alias("nbr_comp"))
    )
    cand = (
        labels.join(nbr_min.hint("shuffle_hash"), "id", "left")
        .select("id", F.col("comp").alias("star"),
                F.least("comp", "nbr_comp").alias("comp"))
    )
    star_min = cand.groupBy(F.col("star")).agg(F.min("comp").alias("star_comp"))
    # ``star`` is exactly the PREVIOUS round's label of v — ride it out
    # as ``_prev`` so the caller's convergence check is a comparison on
    # this round's own output instead of a separate join job against
    # the previous round's table (one fewer job + shuffle per round).
    cur = (
        cand.join(star_min.hint("shuffle_hash"), "star")
        .select(
            "id",
            F.col("star").alias("_prev"),
            F.least("comp", "star_comp").alias("comp"),
        )
    )
    for _ in range(jumps):
        # comp ← cur(comp): compress through the evolving mapping
        m = cur.select(F.col("id").alias("comp"), F.col("comp").alias("jc"))
        cur = (
            cur.join(m.hint("shuffle_hash"), "comp", "left")
            .select("id", "_prev", F.least("comp", "jc").alias("comp"))
        )
    return cur


def _np_round(eu, ev, lab, jumps: int = 2):
    """``_round`` on the driver over dense vertex indices, step for step:
    neighbour-min over both edge directions, star aggregate, star
    broadcast, ``jumps`` pointer jumps. Returns (new labels, number of
    vertices whose label changed)."""
    import numpy as np

    n = len(lab)
    nbr = np.full(n, n)  # above every index: "no neighbour"
    np.minimum.at(nbr, eu, lab[ev])
    np.minimum.at(nbr, ev, lab[eu])
    cand = np.minimum(lab, nbr)
    star = np.full(n, n)
    np.minimum.at(star, lab, cand)
    cur = np.minimum(cand, star[lab])
    for _ in range(jumps):
        cur = np.minimum(cur, cur[cur])
    return cur, int(np.count_nonzero(cur != lab))


def _driver_components(
    spark: SparkSession, local: str, id_type: IntegralType, max_iter: int
) -> DataFrame:
    """The driver rung: the raw (u, v) leaf at ``local`` read with
    pyarrow, labelled by ``_np_round`` to the same fixpoint in the same
    number of rounds, written back as an ``arrow_leaf``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type

    t = pq.read_table(local, columns=["u", "v"])
    u, v = (t.column(c).to_numpy() for c in ("u", "v"))
    # Sorted ids: the smallest dense index is also the smallest id, so
    # min-label over indices converges to the min id per component.
    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    eu, ev = inv[: len(u)], inv[len(u):]
    lab = np.arange(len(ids))
    for _ in range(max_iter):
        lab, changed = _np_round(eu, ev, lab)
        if changed == 0:
            schema = StructType(
                [StructField("id", id_type), StructField("component", id_type)]
            )
            arrow_type = to_arrow_type(id_type)
            table = pa.table(
                {
                    "id": pa.array(ids, arrow_type),
                    "component": pa.array(ids[lab], arrow_type),
                }
            )
            return arrow_leaf(spark, table, schema)
    _nonconvergence(max_iter)


def _nonconvergence(max_iter: int) -> NoReturn:
    raise RuntimeError(
        f"connected_components did not converge in max_iter={max_iter} "
        "rounds (diameter > 2^max_iter is not a real graph; check input)"
    )


def connected_components(
    pairs: DataFrame,
    a: str = "a",
    b: str = "b",
    max_iter: int = 50,
) -> DataFrame:
    """(id, component) — component = min vertex id reachable from id.

    ``pairs`` is an undirected edge list (self-loops and duplicates
    tolerated); isolated vertices don't appear (no edges → no row); union
    the full vertex set back in afterwards if needed (dedup_clusters
    does).
    """
    raw = truncate_lineage(
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v")),
        n=F.count(F.lit(1)),
        nulls=F.count_if(F.col("u").isNull() | F.col("v").isNull()),
    )
    sym = _symmetrize(raw, "u", "v")
    id_type = sym.schema["u"].dataType  # both columns, widened as the loop does
    local = local_dir(raw)
    if (
        0 < DRIVER_MAX_EDGES
        and raw._observed["n"] <= DRIVER_MAX_EDGES
        and raw._observed["nulls"] == 0
        and local is not None
        and isinstance(id_type, IntegralType)
    ):
        try:
            return _driver_components(raw.sparkSession, local, id_type, max_iter)
        finally:
            drop_truncated(raw)

    edges = truncate_lineage(sym)
    drop_truncated(raw)
    labels, converged = fixpoint(
        lambda labels: _round(edges, labels)
        .withColumn("_chg", F.col("comp") != F.col("_prev"))
        .drop("_prev"),
        edges.select(F.col("u").alias("id")).distinct().select("id", F.col("id").alias("comp")),
        max_iter,
        done=lambda obs, _: obs["changed"] == 0,
        changed=F.count_if("_chg"),
    )
    drop_truncated(edges)
    if not converged:
        drop_truncated(labels)
        _nonconvergence(max_iter)
    return labels.select("id", F.col("comp").alias("component"))


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a: str = "a",
    b: str = "b",
) -> DataFrame:
    """Cluster near-duplicate pairs and elect one keeper per cluster.

    Returns one row per document in ``docs``: (doc_id, cluster_id,
    is_keeper, cluster_size). Documents in no pair are their own
    singleton cluster. Keeper = min doc_id in the cluster (deterministic;
    swap the election by joining your own score before the window).
    """
    comp = connected_components(pairs, a=a, b=b)
    assigned = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("cluster_id"),
        )
    )
    sizes = assigned.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    return (
        assigned.join(sizes, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
            "cluster_size",
        )
    )
