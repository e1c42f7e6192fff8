"""Distributed PageRank in exact fixed-point integer arithmetic.

Re-expresses the reference's "which elements matter" ranking idiom (the
member/badge leaderboards built from grouped counts, e.g.
lib/osm/badges.rb:23-63) as the canonical web-graph workload over a
Common-Crawl-style link graph: rank = (1-d)/N + d·Σ rank(u)/deg(u).

Why integer fixed-point
-----------------------
Float PageRank sums per-target contributions, and float addition is not
associative — Spark's partial-aggregation order differs run to run and
differs from any oracle, so a hash-exact correctness gate is impossible
with doubles. Instead ranks are scaled longs (``scale`` = 1e12):

    r0(v)      = scale div N
    contrib(e) = (d_num · r(src)) div (d_den · out_deg(src))
    r'(v)      = ((d_den - d_num) · scale) div (d_den · N)
                 + Σ contrib  [+ dangling term]

Every step is integer multiply / integer ``div`` / long sum — exact,
order-independent, and replayable verbatim in any SQL engine (DuckDB's
``//``), so the driver's value-hash gate holds bit-for-bit. Max
intermediate is d_num·scale ≈ 8.5e13 ≪ 2^63. The quantization error is
≤ N·(1/scale) per iteration — 1e-12 relative, far below float noise.

Scale notes (10^12-page design point)
-------------------------------------
Each iteration is the classic two-exchange pattern: ranks hash-join to
edges on ``src`` (shuffle of the rank table — N rows of 16 bytes, never
the edge payload if edges are pre-partitioned by src), then a groupBy
``dst`` with map-side partial sums (the long-sum combiner collapses each
partition's contributions before the exchange). Nothing is collected to
the driver: N and the dangling mass are 1-row aggregates cross-joined
back (broadcast of a scalar). Ranks are lineage-truncated every
iteration (graph/iterate.py) — the recurrence references the previous
rank table twice (contributions + dangling mass), so an untruncated
plan doubles per iteration; vertex/degree tables are materialized once
up front instead of being recomputed from the edge list every round.

**Bucket the edge table by ``src``** (``DataFrameWriter.bucketBy`` +
``saveAsTable``) before calling: a plain parquet edge list has no
partitioning Catalyst can see, so EVERY iteration re-exchanges all |E|
edge rows into the contribution join. A bucketed scan exposes
HashPartitioning(src), the per-iteration ShuffledHashJoin consumes it
with no Exchange above the edge scan (pinned by tests/test_plans.py),
and iteration shuffle volume drops from O(|E|) to O(|V|) — at a
trillion-edge web graph the difference between reshuffling the crawl
every round and reshuffling one rank column. Bucket count must equal
the iteration shuffle width (``spark.sql.shuffle.partitions``): on a
mismatch Catalyst's DisableUnnecessaryBucketedScan re-exchanges
anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.graph.iterate import drop_truncated, fixpoint, truncate_lineage

SCALE = 10**12


def vertex_ids(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Distinct vertex ids appearing at either endpoint (column ``id``)."""
    return (
        edges.select(F.col(src).alias("id"))
        .unionByName(edges.select(F.col(dst).alias("id")))
        .distinct()
    )


def out_degrees(edges: DataFrame, src: str = "src") -> DataFrame:
    """Out-degree per source (columns ``id``, ``out_deg``); multigraph
    edges count with multiplicity, matching the contribution split."""
    return edges.groupBy(F.col(src).alias("id")).agg(
        F.count("*").alias("out_deg")
    )


def _flows(
    edges: DataFrame,
    ranks: DataFrame,
    src: str,
    dst: str,
    damping_num: int,
    damping_den: int,
    weight: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The half of an iteration that reads the rank leaf: the damped
    dangling mass ``dang_sum`` as a 1-row scalar, and the per-target
    contribution sum ``in_sum``. ``ranks`` carries the source's out-degree
    (``out_deg``), or its out-weight (``w_out``) when ``weight`` names the
    edge weight column."""
    deg_col = "w_out" if weight else "out_deg"
    w = f" * {weight}" if weight else ""
    # every join hints shuffle_hash: at web scale these are all
    # large-table equi-joins, and sort-merge would re-sort each side
    # every iteration for no reuse (the output is consumed once)
    #
    # damped mass of dangling vertices, as a 1-row scalar — a scan-agg
    # over the rank leaf, no join
    dang = ranks.agg(
        F.coalesce(
            F.sum(F.when(F.col(deg_col).isNull(), F.col("r"))), F.lit(0)
        ).alias("dang_sum")
    )
    # shuffle_hash: build on the small (vertex) side — an unhinted AQE
    # plan may pick sort-merge and sort the EDGE side every iteration
    # (the kNN phase-2 lesson, geo/knn.py:319)
    contrib = (
        edges.select(
            F.col(src).alias("id"), F.col(dst).alias("_dst"), *([weight] if weight else [])
        )
        .join(
            ranks.where(F.col(deg_col).isNotNull())
            .select("id", "r", deg_col)
            .hint("shuffle_hash"),
            "id",
        )
        .select(
            F.col("_dst").alias("id"),
            F.expr(
                f"({damping_num}L * r{w}) div ({damping_den}L * {deg_col})"
            ).alias("c"),
        )
        .groupBy("id")
        .agg(F.sum("c").alias("in_sum"))
    )
    return dang, contrib


def _step(
    edges: DataFrame,
    verts: DataFrame,
    deg: DataFrame,
    n_v: DataFrame,
    ranks: DataFrame,
    src: str,
    dst: str,
    damping_num: int,
    damping_den: int,
    base_num: int,
    weight: str | None = None,
) -> DataFrame:
    """One synchronous PageRank iteration (untruncated — the loop runs
    it through ``fixpoint``; tests plan-audit this directly). With
    ``weight``, ``deg`` is ``out_weights`` and mass splits by weight.

    ``ranks`` carries ``out_deg`` alongside ``r`` (attached once at
    init, re-attached in the output projection), so the iteration body
    never joins ranks to the degree table: the dangling mass is a pure
    scan-aggregate over the materialized rank leaf, and the plan's only
    |V|-sized joins are contrib and the deg re-attach — measured, the
    old form's ranks⋈deg appeared TWICE per round (the dangling and
    contribution branches each recomputed it; Catalyst does not
    deduplicate shared subtrees) and cost ~20% of the iteration."""
    dang, contrib = _flows(edges, ranks, src, dst, damping_num, damping_den, weight)
    return (
        verts.join(contrib.hint("shuffle_hash"), "id", "left")
        .join(deg.hint("shuffle_hash"), "id", "left")
        .crossJoin(n_v)
        .crossJoin(dang)
        .select(
            "id",
            (
                F.expr(f"{base_num}L div ({damping_den}L * n_v)")
                + F.coalesce(F.col("in_sum"), F.lit(0))
                + F.expr(
                    f"({damping_num}L * dang_sum) div ({damping_den}L * n_v)"
                )
            ).alias("r"),
            "w_out" if weight else "out_deg",
        )
    )


def _scaled(ranks: DataFrame, scale: int, n_iter: int, *tables: DataFrame) -> DataFrame:
    """(id, rank_scaled, rank) from the final rank table. Once a round
    has run, the rank leaf no longer reads the set-up ``tables`` (r0
    does), so they are dropped."""
    if n_iter:
        for df in tables:
            drop_truncated(df)
    return ranks.select(
        "id",
        F.col("r").alias("rank_scaled"),
        F.round(F.col("r") / float(scale), 12).alias("rank"),
    )


def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = SCALE,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-point PageRank after ``n_iter`` synchronous iterations.

    Returns (id, rank_scaled, rank): ``rank_scaled`` is the exact long
    (the correctness-gate column), ``rank`` its float rendering
    (rank_scaled / scale).

    Dangling vertices (no out-edges) redistribute their damped mass
    uniformly: t = (d_num · Σ_dangling r) div (d_den · N), added to every
    vertex — total mass stays ≈ scale instead of leaking.
    """
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0, got {n_iter}")
    verts = truncate_lineage(vertex_ids(edges, src, dst))
    deg = truncate_lineage(out_degrees(edges, src))
    n_v = truncate_lineage(verts.agg(F.count("*").alias("n_v")))  # 1 row

    # r0 = scale div N, with out_deg attached once (see _step: the
    # rank table carries its degree so iterations never re-join it)
    ranks = (
        verts.crossJoin(n_v)
        .join(deg.hint("shuffle_hash"), "id", "left")
        .select("id", F.expr(f"{scale}L div n_v").alias("r"), "out_deg")
    )
    base_num = (damping_den - damping_num) * scale

    ranks, _ = fixpoint(
        lambda ranks: _step(
            edges, verts, deg, n_v, ranks,
            src, dst, damping_num, damping_den, base_num,
        ),
        ranks,
        n_iter,
    )
    return _scaled(ranks, scale, n_iter, verts, deg, n_v)


def _step_ppr(
    edges: DataFrame,
    verts: DataFrame,
    deg: DataFrame,
    n_s: DataFrame,
    ranks: DataFrame,
    src: str,
    dst: str,
    damping_num: int,
    damping_den: int,
    base_num: int,
) -> DataFrame:
    """One personalized-PageRank iteration: identical contribution join
    to _step, but the teleport base AND the dangling redistribution land
    on the SEED set only ((1−d)·e_S teleport vector — Jeh & Widom 2003,
    Page et al. 1998 §2.6 personalization). ``verts`` carries is_seed ∈
    {0, 1}; is_seed multiplies the integer numerators, so non-seeds get
    exactly 0 with no branch."""
    dang, contrib = _flows(edges, ranks, src, dst, damping_num, damping_den)
    return (
        verts.join(contrib.hint("shuffle_hash"), "id", "left")
        .join(deg.hint("shuffle_hash"), "id", "left")
        .crossJoin(n_s)
        .crossJoin(dang)
        .select(
            "id",
            "is_seed",
            (
                F.expr(f"({base_num}L * is_seed) div ({damping_den}L * n_s)")
                + F.coalesce(F.col("in_sum"), F.lit(0))
                + F.expr(
                    f"({damping_num}L * dang_sum * is_seed)"
                    f" div ({damping_den}L * n_s)"
                )
            ).alias("r"),
            "out_deg",
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = SCALE,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Personalized PageRank: teleport restricted to ``seeds`` (one
    column ``id``). The relatedness-to-a-set ranking of web analysis —
    "pages like these trusted domains" (TrustRank's propagation shape),
    topic-sensitive crawl frontiers, seed-expanded dedup cohorts.

    Same exact fixed-point integer recurrence as ``pagerank`` (module
    docstring), with the uniform 1/N teleport replaced by e_S:

        r0(v)  = (scale · 1[v ∈ S]) div |S|
        r'(v)  = ((d_den−d_num)·scale·1[v ∈ S]) div (d_den·|S|)
                 + Σ contrib  +  (d_num·Σ_dangling r·1[v ∈ S]) div (d_den·|S|)

    Dangling mass teleports BACK TO THE SEEDS (the standard PPR
    convention — keeps the stationary mass inside the seed-reachable
    subgraph). Seeds not present in the graph are ignored (|S| counts
    seed VERTICES). Plan shape and lineage truncation are inherited
    unchanged from pagerank; the only addition is a 0/1 column riding
    the rank table.
    """
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0, got {n_iter}")
    seed_ids = seeds.select(F.col(seeds.columns[0]).alias("id")).distinct()
    verts = truncate_lineage(
        vertex_ids(edges, src, dst)
        .join(
            seed_ids.select("id", F.lit(1).alias("is_seed")).hint(
                "shuffle_hash"
            ),
            "id",
            "left",
        )
        .select("id", F.coalesce(F.col("is_seed"), F.lit(0)).alias("is_seed"))
    )
    deg = truncate_lineage(out_degrees(edges, src))
    n_s = truncate_lineage(
        verts.agg(F.sum("is_seed").cast("long").alias("n_s"))
    )

    ranks = (
        verts.crossJoin(n_s)
        .join(deg.hint("shuffle_hash"), "id", "left")
        .select(
            "id",
            "is_seed",
            F.expr(f"({scale}L * is_seed) div n_s").alias("r"),
            "out_deg",
        )
    )
    base_num = (damping_den - damping_num) * scale

    ranks, _ = fixpoint(
        lambda ranks: _step_ppr(
            edges, verts, deg, n_s, ranks,
            src, dst, damping_num, damping_den, base_num,
        ),
        ranks,
        n_iter,
    )
    return _scaled(ranks, scale, n_iter, verts, deg, n_s)


def out_weights(
    edges: DataFrame, src: str = "src", weight: str = "w"
) -> DataFrame:
    """Total out-WEIGHT per source (columns ``id``, ``w_out``) — the
    weighted analog of ``out_degrees``."""
    return edges.groupBy(F.col(src).alias("id")).agg(
        F.sum(F.col(weight).cast("long")).alias("w_out")
    )


def weighted_pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = SCALE,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Edge-weighted fixed-point PageRank: each source distributes its
    damped mass ∝ edge weight — per edge, (d_num·r·w) div (d_den·w_out)
    in exact bigints, so the result hash-gates like the unweighted form
    (same dropped-remainder convention, deterministic).

    The host graph's natural weights are link MULTIPLICITIES (how many
    anchors point a→b) — the unweighted form treats a single nav-bar
    link and 400 in-content links identically; this one doesn't.

    Integer-overflow bound (documented, not checked per row): the
    contribution numerator is d_num·r·w, so weights must satisfy
    w < 2^63 / (d_num · scale) — ~10^5 at the default 10^12 scale.
    Clamp heavier multiplicities upstream (they are navigation
    boilerplate, not endorsement, long before 10^5).

    Same loop discipline as ``pagerank``: per-round lineage truncation,
    every |V|-sized join shuffle_hash-hinted, dangling mass a scan-agg
    over the rank leaf (dangling = zero out-WEIGHT here)."""
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0, got {n_iter}")
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(weight).cast("long").alias("w"),
    ).where(F.col("w") > 0)
    verts = truncate_lineage(vertex_ids(e))
    wout = truncate_lineage(out_weights(e))
    n_v = truncate_lineage(verts.agg(F.count("*").alias("n_v")))

    ranks = (
        verts.crossJoin(n_v)
        .join(wout.hint("shuffle_hash"), "id", "left")
        .select("id", F.expr(f"{scale}L div n_v").alias("r"), "w_out")
    )
    base_num = (damping_den - damping_num) * scale

    ranks, _ = fixpoint(
        lambda ranks: _step(
            e, verts, wout, n_v, ranks,
            "src", "dst", damping_num, damping_den, base_num, weight="w",
        ),
        ranks,
        n_iter,
    )
    return _scaled(ranks, scale, n_iter, verts, wout, n_v)
