"""HITS hubs & authorities (Kleinberg 1999) in exact fixed-point
integer arithmetic.

The query-time companion to PageRank over the host/link graph
(graph/pagerank.py ranks by global endorsement; HITS separates "pages
that POINT at good content" from "pages that ARE good content" — link
directories vs destinations, a standard link-spam discriminator).

Recurrence, L1-normalized each half-step so the iteration is scale-free:

    h_raw(u) = Σ_{(u,v) ∈ E} a(v)        a_raw(v) = Σ_{(u,v) ∈ E} h(u)
    h(u)     = (scale · h_raw(u)) div Σh_raw
    a(v)     = (scale · a_raw(v)) div Σa_raw

Exactness: same design as pagerank — raw sums are exact long sums of
longs; the normalization multiply routes through decimal(38,0) (scale ·
h_raw exceeds int64 exactly when a hub's neighborhood mass does; DuckDB
replays in HUGEINT) and ``div`` truncates identically in both engines.
Per-round quantization error ≤ 1/scale relative — deterministic, and the
value-hash gate holds bit for bit.

Plan per iteration: two edge⋈rank shuffle-hash joins (the rank side
shuffles — |V| rows of 16 bytes; bucket the edge table by src/dst to
keep the |E| side exchange-free, the pagerank bucketing note applies
verbatim) + two map-side-combined groupBys + two 1-row total aggregates
broadcast back. Ranks are lineage-truncated every round
(graph/iterate.py) — the recurrence feeds each table into the next
round twice (raw sum + total), the components.py blow-up class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.graph.iterate import drop_truncated, truncate_lineage
from osm_spark.graph.pagerank import vertex_ids

SCALE = 10**9


def _normalize(raw: DataFrame, col: str, scale: int) -> DataFrame:
    """(id, col) → L1-normalized: (scale · raw) div Σraw, in decimal so
    the multiply cannot overflow int64; 0 everywhere when Σraw = 0."""
    tot = raw.agg(F.sum(col).cast("decimal(38,0)").alias("_tot"))
    return raw.crossJoin(F.broadcast(tot)).select(
        "id",
        F.when(F.col("_tot") > 0, F.expr(
            f"(CAST({scale} AS DECIMAL(38,0)) * {col}) div _tot"
        )).otherwise(F.lit(0)).cast("long").alias(col),
    )


def hits(
    edges: DataFrame,
    n_iter: int = 3,
    scale: int = SCALE,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(id, hub_scaled, auth_scaled) after ``n_iter`` rounds; both
    columns are exact longs in [0, scale] (the gate columns). Vertices
    with no out-edges hold hub 0; no in-edges, auth 0."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    verts = truncate_lineage(vertex_ids(edges, src, dst))
    e = truncate_lineage(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    )

    # a0 = scale for every vertex (any positive constant — the first
    # normalization rescales; scale keeps round 1 integer-significant)
    auth = verts.select("id", F.lit(scale).cast("long").alias("a"))
    hub = None
    for _ in range(n_iter):
        h_raw = (
            e.join(
                auth.select(F.col("id").alias("d"), "a").hint("shuffle_hash"),
                "d",
            )
            .groupBy(F.col("s").alias("id"))
            .agg(F.sum("a").alias("h"))
        )
        h_all = verts.join(h_raw.hint("shuffle_hash"), "id", "left").select(
            "id", F.coalesce(F.col("h"), F.lit(0)).alias("h")
        )
        new_hub = truncate_lineage(_normalize(h_all, "h", scale))
        if hub is not None:
            drop_truncated(hub)
        hub = new_hub

        a_raw = (
            e.join(
                hub.select(F.col("id").alias("s"), "h").hint("shuffle_hash"),
                "s",
            )
            .groupBy(F.col("d").alias("id"))
            .agg(F.sum("h").alias("a"))
        )
        a_all = verts.join(a_raw.hint("shuffle_hash"), "id", "left").select(
            "id", F.coalesce(F.col("a"), F.lit(0)).alias("a")
        )
        new_auth = truncate_lineage(_normalize(a_all, "a", scale))
        drop_truncated(auth)
        auth = new_auth
    # the result reads only the hub/auth leaves
    drop_truncated(verts)
    drop_truncated(e)

    return (
        hub.join(auth, "id")
        .select(
            "id",
            F.col("h").alias("hub_scaled"),
            F.col("a").alias("auth_scaled"),
        )
    )
