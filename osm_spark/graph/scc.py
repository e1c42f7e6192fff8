"""Strongly connected components of a DIRECTED graph — the web-graph
bowtie primitive (Broder et al., "Graph structure in the Web", WWW
2000): the crawl/link analyses this engine ships (pagerank, HITS,
frontier) all sit on a directed page graph whose cycles the undirected
``connected_components`` cannot see. SCCs find link farms, crawl traps
and the bowtie core; condensing them yields the DAG every downstream
propagation wants.

Public algorithm family: the coloring / forward-backward method
(Fleischer-Hendrickson-Pinar 2000; Orzan 2004; Hong et al. 2013),
independently implemented on DataFrames: both floods run through
``iterate.fixpoint``, with shuffle_hash-hinted joins and a changed flag
on each round's output that the round's write counts.

Outer round:

1. **Forward min-coloring to fixpoint**: ``c(v)`` starts at ``v`` and
   floods ALONG edge direction, taking mins — at fixpoint ``c(v)`` =
   the minimum vertex id that can reach v. Each round runs the edge
   relax PLUS a shortcut step ``c(v) ← min(c(v), c(c(v)))`` — always
   valid (min-reachability is transitive: c(c(v)) reaches c(v) reaches
   v). The shortcut compresses chains whenever intermediate colors are
   themselves progressing (it closed a 32-cycle in 6 rounds in the
   forward orientation), but the WORST case remains O(diameter)
   rounds — a single wavefront advancing against the id order gains
   nothing from composition (the reversed cycle does exactly this).
   That is the known cost profile of the coloring method (each
   FW/BW sweep of Hong et al. is likewise diameter-bounded);
   ``max_prop`` guards it loudly.
2. **Roots**: v with ``c(v) = v`` (no smaller id reaches v). r is then
   the MINIMUM id of its color class (colors are reflexive, so
   ``c(u) ≤ u``), and for the minimum id r of any SCC, EVERY member v
   has ``c(v) = c(r)`` (members' reacher sets coincide).
3. **Backward min-coloring within color classes**: the SAME
   accelerated fixpoint runs on the REVERSED same-color edges, giving
   ``b(v)`` = the minimum id v can REACH inside its color class. Since
   every class id ≥ its root r, ``b(v) = r  ⇔  v ⇝ r`` — so
   ``SCC(r) = {v : c(v) = r ∧ b(v) = r}``. Assign ``scc = c(v)``,
   delete those vertices and their incident edges, repeat.

Why phase 3 may restrict to same-color edges: if ``c(v) = r`` and
``v ⇝ r``, every intermediate w on that path satisfies ``r ⇝ w`` (via
v) and ``w ⇝ r``, hence w's min reacher equals r's — the whole path is
color-r. Restricting the join to ``c(src) = c(dst)`` therefore loses
nothing, keeps each round's propagation inside (small) color classes,
and lets BOTH phases share the same shortcut-accelerated fold (same
O(diameter) worst case as phase 1).

Termination: every outer round removes at least one whole SCC per
color class (its root's), so rounds are bounded by the longest
root-to-leaf chain in the condensation — small for real graphs; the
``max_rounds`` guard fails loudly otherwise.

Scale: every step is an edge-keyed equi-join or a per-vertex
aggregate — the same shapes as connected_components, with the same
AQE-backstopped skew story; no transitive closure is ever
materialized (the oracle does that, on the small gate fixture only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.graph.iterate import drop_truncated, fixpoint, truncate_lineage

__all__ = ["strongly_connected_components", "bowtie_classes", "condensation_levels"]


def _fixpoint_min_color(
    edges: DataFrame, colors: DataFrame, max_prop: int
) -> DataFrame:
    """Flood min ids along edge direction to fixpoint (relax + pointer
    double per round). ``colors``: (id, c); returns the fixpoint."""

    def step(cur: DataFrame) -> DataFrame:
        relaxed = (
            edges.join(
                cur.select(F.col("id").alias("src"), F.col("c").alias("sc")).hint(
                    "shuffle_hash"
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("sc").alias("in_c"))
        )
        stepped = (
            cur.join(relaxed.hint("shuffle_hash"), "id", "left")
            .select("id", F.col("c").alias("_prev"), F.least("c", "in_c").alias("c"))
        )
        # pointer double: c(v) ← min(c(v), c(c(v))) — valid by
        # transitivity of min-reachability (module docstring)
        jump = stepped.select(F.col("id").alias("c"), F.col("c").alias("jc"))
        return (
            stepped.join(jump.hint("shuffle_hash"), "c", "left")
            .select("id", "_prev", F.least("c", "jc").alias("c"))
            .withColumn("_chg", F.col("c") != F.col("_prev"))
            .drop("_prev")
        )

    out, converged = fixpoint(
        step, colors, max_prop, done=_settled, changed=F.count_if("_chg")
    )
    if not converged:
        drop_truncated(out)
        raise RuntimeError(
            f"scc: min-coloring did not converge in max_prop={max_prop} rounds"
        )
    return out


def _settled(obs: dict, _: dict) -> bool:
    return obs["changed"] == 0


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 20,
    max_prop: int = 100,
) -> DataFrame:
    """(id, scc) — scc = MIN vertex id in v's strongly connected
    component. ``edges``: directed (src, dst); self-loops and duplicate
    edges are tolerated; isolated vertices don't appear (no edges → no
    row — union them back as singleton SCCs if needed, the
    connected_components convention)."""
    e = truncate_lineage(
        edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst")
        ).distinct()
    )
    verts = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    remaining_v = truncate_lineage(verts)
    remaining_e = e
    assigned = colors = same_color = back = found = None
    try:
        for _ in range(max_rounds):
            colors = _fixpoint_min_color(
                remaining_e,
                remaining_v.select("id", F.col("id").alias("c")),
                max_prop,
            )
            cmap_s = colors.select(F.col("id").alias("src"), F.col("c").alias("c_src"))
            cmap_d = colors.select(F.col("id").alias("dst"), F.col("c").alias("c_dst"))
            same_color = truncate_lineage(
                remaining_e.join(cmap_s.hint("shuffle_hash"), "src")
                .join(cmap_d.hint("shuffle_hash"), "dst")
                .where(F.col("c_src") == F.col("c_dst"))
                .select("src", "dst")
            )
            back = _fixpoint_min_color(
                same_color.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                ),
                remaining_v.select("id", F.col("id").alias("c")),
                max_prop,
            )
            found = truncate_lineage(
                colors.join(
                    back.select("id", F.col("c").alias("b")).hint("shuffle_hash"),
                    "id",
                )
                .where(F.col("c") == F.col("b"))
                .select("id", F.col("c").alias("scc"))
            )
            for df in (same_color, colors, back):
                drop_truncated(df)
            # materialize the shrunken vertex set BEFORE found's files can
            # be released by the assigned-merge below
            new_v = truncate_lineage(
                remaining_v.join(found.hint("shuffle_hash"), "id", "left_anti"),
                n=F.count(F.lit(1)),
            )
            drop_truncated(remaining_v)
            remaining_v = new_v
            if assigned is None:
                assigned = found
            else:
                new_assigned = truncate_lineage(assigned.unionByName(found))
                drop_truncated(assigned)
                drop_truncated(found)
                assigned = new_assigned
            if new_v._observed["n"] == 0:
                for df in (remaining_v, remaining_e):
                    drop_truncated(df)
                return assigned
            keep_s = new_v.select(F.col("id").alias("src"))
            keep_d = new_v.select(F.col("id").alias("dst"))
            new_e = truncate_lineage(
                remaining_e.join(keep_s.hint("shuffle_hash"), "src", "left_semi")
                .join(keep_d.hint("shuffle_hash"), "dst", "left_semi")
            )
            drop_truncated(remaining_e)
            remaining_e = new_e
        raise RuntimeError(
            f"scc did not finish in max_rounds={max_rounds} outer rounds "
            "(condensation chain longer than max_rounds; raise the guard)"
        )
    except BaseException:
        # every leaf this call made; dropping a released one is a no-op
        for df in (remaining_e, remaining_v, assigned, colors, same_color, back, found):
            drop_truncated(df)
        raise


def bowtie_classes(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 20,
    max_prop: int = 100,
) -> DataFrame:
    """(id, scc, cls) — the Broder bowtie decomposition (WWW 2000) of a
    directed graph around its largest SCC: ``core`` (the largest SCC;
    ties break to the smaller scc id), ``in`` (reaches the core, not in
    it), ``out`` (reachable from the core, not in it), ``other``
    (tendrils, tubes and disconnected pieces). ``in`` and ``out`` are
    disjoint by construction — a vertex with both properties would be
    mutually reachable with the core and hence IN it.

    The two reachability floods reuse the min-coloring fold with a
    SENTINEL seed (min vertex id − 1): core members start at the
    sentinel, everyone else at their own id, and after the forward
    (resp. backward) fixpoint a vertex carries the sentinel iff the
    core reaches it (resp. it reaches the core). The sentinel is
    smaller than every id, so it dominates every min and the shortcut
    lookup simply never finds a row for it. Driver-side state: the
    core id and the min id — two bounded scalars (the engine's stat
    idiom)."""
    sccs = strongly_connected_components(
        edges, src=src, dst=dst, max_rounds=max_rounds, max_prop=max_prop
    )
    head = (
        sccs.groupBy("scc")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("scc"))
        .limit(1)
        .collect()
    )
    core = head[0]["scc"]
    min_id = sccs.agg(F.min("id")).collect()[0][0]
    sentinel = int(min_id) - 1

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    seed = sccs.select(
        "id",
        F.when(F.col("scc") == F.lit(core), F.lit(sentinel))
        .otherwise(F.col("id"))
        .alias("c"),
    )
    fwd = _fixpoint_min_color(e, seed, max_prop)
    bwd = _fixpoint_min_color(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        seed,
        max_prop,
    )
    out = (
        sccs.join(
            fwd.select("id", (F.col("c") == F.lit(sentinel)).alias("_fwd")).hint(
                "shuffle_hash"
            ),
            "id",
        )
        .join(
            bwd.select("id", (F.col("c") == F.lit(sentinel)).alias("_bwd")).hint(
                "shuffle_hash"
            ),
            "id",
        )
        .select(
            "id",
            "scc",
            F.when(F.col("scc") == F.lit(core), F.lit("core"))
            .when(F.col("_bwd"), F.lit("in"))
            .when(F.col("_fwd"), F.lit("out"))
            .otherwise(F.lit("other"))
            .alias("cls"),
        )
    )
    result = truncate_lineage(out)
    drop_truncated(sccs)
    drop_truncated(fwd)
    drop_truncated(bwd)
    return result


def condensation_levels(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 20,
    max_prop: int = 100,
) -> DataFrame:
    """(scc, level, n_members) — the condensation DAG's depth strata:
    ``level`` = the longest condensed-edge path ending at the SCC
    (sources sit at 0). The crawl-depth / dependency-layer analysis:
    how many SCC hops separate a page cluster from the frontier's
    entry points. The condensation of ANY directed graph is acyclic,
    so the longest path is well-defined and the max-relax fixpoint
    below terminates in depth-many rounds (``max_prop``-guarded like
    every fold in this module)."""
    sccs = strongly_connected_components(
        edges, src=src, dst=dst, max_rounds=max_rounds, max_prop=max_prop
    )
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    cmap_s = sccs.select(F.col("id").alias("src"), F.col("scc").alias("s"))
    cmap_d = sccs.select(F.col("id").alias("dst"), F.col("scc").alias("t"))
    cedges = truncate_lineage(
        e.join(cmap_s.hint("shuffle_hash"), "src")
        .join(cmap_d.hint("shuffle_hash"), "dst")
        .where(F.col("s") != F.col("t"))
        .select("s", "t")
        .distinct()
    )
    members = sccs.groupBy("scc").agg(F.count(F.lit(1)).alias("n_members"))

    def step(cur: DataFrame) -> DataFrame:
        relaxed = (
            cedges.join(
                cur.select(F.col("scc").alias("s"), F.col("level").alias("sl")).hint(
                    "shuffle_hash"
                ),
                "s",
            )
            .groupBy(F.col("t").alias("scc"))
            .agg((F.max("sl") + 1).alias("in_l"))
        )
        return (
            cur.join(relaxed.hint("shuffle_hash"), "scc", "left")
            .select(
                "scc",
                F.col("level").alias("_prev"),
                F.greatest("level", "in_l").alias("level"),
            )
            .withColumn("_chg", F.col("level") != F.col("_prev"))
            .drop("_prev")
        )

    levels, converged = fixpoint(
        step,
        members.select("scc", F.lit(0).cast("long").alias("level")),
        max_prop,
        done=_settled,
        changed=F.count_if("_chg"),
    )
    if converged:
        out = truncate_lineage(
            levels.join(members.hint("shuffle_hash"), "scc").select(
                "scc", "level", "n_members"
            )
        )
    for df in (levels, cedges, sccs):
        drop_truncated(df)
    if not converged:
        raise RuntimeError(
            f"condensation_levels did not converge in max_prop={max_prop} "
            "rounds — not a DAG? (impossible for a condensation; check input)"
        )
    return out
