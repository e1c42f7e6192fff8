#!/usr/bin/env python
"""Write PLANS.md: live `.explain("formatted")` output for the headline
queries, so the plan shapes the docs claim (broadcast prejoins, pushdown,
pruned schemas, codegen spans, no cartesians) are inspectable without
running anything."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from osm_spark.session import get_spark
    from osm_spark.geo.knn import knn_join
    from osm_spark.pipeline.geometry import (
        build_way_cells,
        build_way_cells_adaptive,
        synth_nodes,
        synth_polygons,
    )
    from osm_spark.pipeline.pages import synth_pages
    from osm_spark.pipeline.spatial_join import (
        extract_points,
        pip_join_adaptive,
        pip_join_broadcast,
        pip_join_salted,
        salt_plan,
    )

    spark = get_spark(app_name="dump_plans", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    from osm_spark.session import ensure_workers_can_import

    ensure_workers_can_import(spark)

    pages = synth_pages(spark, SF)
    points = extract_points(pages)
    polygons = synth_polygons(spark)
    cells = build_way_cells(polygons)

    sections = [
        (
            "PIP join — broadcast prejoin path",
            "The 10^12-row pages side: scan → zero-Python extraction (two "
            "explode(array(...)) Generate barriers pin the regex and the "
            "parse to one eval per row) → codegen cell math → two "
            "BroadcastHashJoins → codegen ray-cast refine. No Python node "
            "and no hashpartitioning exchange anywhere on the points branch.",
            pip_join_broadcast(points, polygons, cells),
        ),
        (
            "PIP join — salted shuffle path",
            "Hot cells split into k salt buckets (k from the data's own "
            "histogram); covering rows replicate into the buckets; join key "
            "(cell, salt). The vertex attach is itself two-side-salted on "
            "(way_id, _vsalt) — BENCH.md finding #15.",
            pip_join_salted(points, polygons, cells, salt_plan(points, target=20)),
        ),
        (
            "PIP join — adaptive mixed-resolution covering (broadcast)",
            "Big polygons covered coarse under a per-polygon cell budget; "
            "each point expands to its cell per level inside ONE codegen "
            "pipeline (Generate explode feeding the broadcast hash probe) — "
            "no exchange anywhere on the points branch.",
            pip_join_adaptive(
                points,
                polygons,
                build_way_cells_adaptive(polygons, budget=64),
                "broadcast",
            ),
        ),
        (
            "kNN join — broadcast phase 2 (catalog-stat / explicit choice)",
            "Phase 1 ranks nodes per occupied cell; phase 2 broadcasts the "
            "per-cell candidate arrays and computes top-k with narrow Column "
            "ops — the pages side never shuffles. This is the plan "
            "phase-2 auto picks while the candidate table fits the "
            "broadcast ceiling; the stat-less default pins shuffle-hash "
            "instead (next section).",
            knn_join(points, synth_nodes(spark), k=3, phase2="broadcast"),
        ),
        (
            "kNN join — shuffle-hash phase 2 (past the broadcast ceiling)",
            "Same candidate-set semantics, but points hash-join the "
            "per-cell candidate arrays on the cell id (SHUFFLE_HASH) — "
            "one exchange of the points side, no window over it; chosen "
            "by phase-2 auto when the occupied-cell table would "
            "exceed the broadcast ceiling.",
            knn_join(points, synth_nodes(spark), k=3, phase2="shuffle"),
        ),
        (
            "near-dup Jaccard — minhash → bands → bucket join → refine",
            "One doc-keyed combiner-reduced shuffle for signatures, equi "
            "self-join on (band, band_hash); the candidate-dedup shuffle "
            "doubles as the width-setting exchange, so the pair list is "
            "exchanged exactly once before the compute-heavy refine "
            "(truncated-digest agreement prune ahead of the token joins).",
            entry.q_near_dup_jaccard(spark, SF),
        ),
        (
            "sequence packing — distributed global prefix sum",
            "Exact global running token count with NO SinglePartition "
            "exchange: literal range buckets from a quantile sketch, "
            "per-bucket parallel windows, broadcast prefix offsets.",
            entry.q_pack_sequences(spark, SF),
        ),
        (
            "pricing summary — pushdown + pruning",
            "PushedFilters carries the shipdate predicate into the scan; "
            "ReadSchema holds only the six touched columns.",
            entry.q_pricing_summary(spark, SF),
        ),
        (
            "polyline simplification — one Arrow pass, zero shuffle",
            "Douglas-Peucker over per-line vertex arrays: the only "
            "exchange is the upstream assembly groupBy (absent when the "
            "geometry arrives assembled); simplification itself is a "
            "single MapInPandas node pipelined over its input.",
            entry.q_simplify_lines(spark, SF),
        ),
        (
            "geohash cells — pure-codegen cell index + one aggregation",
            "The 35-bit interleave is a WholeStageCodegen integer chain "
            "(no UDF, no exchange before the partial aggregate); the only "
            "shuffle is the final count-per-cell hash aggregation.",
            entry.q_geohash_cells(spark, SF),
        ),
        (
            "deterministic shard shuffle — one exchange total",
            "Shard assignment is a pure projection; the position window "
            "hash-partitions on shard once. No driver state, no "
            "SinglePartition node.",
            entry.q_global_shuffle(spark, SF),
        ),
        (
            "radius (DWithin) join — shuffle path",
            "Node K-disk candidates (packed-delta transform behind a "
            "Generate barrier — one codegen loop body, BENCH.md finding "
            "#13) SHUFFLE_HASH-join the points on the cell id: one "
            "exchange per side, codegen haversine refine, no window or "
            "sort over the big side.",
            __import__("osm_spark.geo.radius", fromlist=["radius_join"]).radius_join(
                points.select(F.col("url"), "lat", "lon"),
                synth_nodes(spark),
                1500.0,
                strategy="shuffle",
            ),
        ),
        (
            "vector-tile segment clipping — zero exchange, zero Python",
            "One codegen pipeline: segment explode → Mercator projection "
            "behind a Generate barrier → guarded tile-cover explodes → "
            "slab Liang-Barsky filter + extent quantization. No Exchange "
            "node anywhere — scaling is linear in input splits.",
            __import__(
                "osm_spark.geo.cliptiles", fromlist=["clip_segments_to_tiles"]
            ).clip_segments_to_tiles(
                polygons.select("way_id", "vlat", "vlon"), z=13, closed=True
            ),
        ),
    ]

    from osm_spark.graph.linkpred import link_prediction
    from osm_spark.pipeline.rollup import rollup_ohlc

    events = spark.read.parquet(os.path.join(SF, "events.parquet"))
    link_edges = spark.range(200).select(
        F.col("id").alias("src"), ((F.col("id") * 7 + 1) % 200).alias("dst")
    )
    sections += [
        (
            "Hypertable OHLC rollup",
            "One map-side-combined exchange on (key, bucket): every "
            "aggregate (struct picks, extrema, quantized bigint sum) is "
            "algebraic, so the shuffle carries one partial row per "
            "partition per live bucket — the continuous-aggregate shape.",
            rollup_ohlc(events, width_s=3600),
        ),
        (
            "Link prediction — wedge generation",
            "Every join an explicit shuffle_hash equi join on skinny long "
            "keys (degree attach, wedge self-join, anti join against the "
            "edge set, two degree re-attaches); no sort-merge, no "
            "cartesian. hub_cap bounds the wedge exchange at web scale.",
            link_prediction(link_edges),
        ),
    ]

    out = [
        "# PLANS — live formatted plans of the headline queries",
        "",
        f"Generated by `python tools/dump_plans.py` at sf dir `{SF}`.",
        "Regenerate after any plan-affecting change; tests/test_plans.py",
        "asserts the load-bearing properties mechanically.",
        "",
    ]
    for title, blurb, df in sections:
        out += [f"## {title}", "", blurb, "", "```", formatted(df).rstrip(), "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
