"""Reverse geocoding: assign each point the SMALLEST containing polygon.

A point inside nested admin/landuse polygons (park ⊂ district ⊂ city)
matches them all in a plain PIP join; the reverse-geocode answer users
want is the most specific one — standard smallest-enclosing-area
semantics. Reference analog: the way polygons this ranks are the
assembled `lib/osm/way.rb` rings (SURVEY.md §1.4); the pick itself is
Spark-first composition.

Plan shape: the PIP join's one strategy ladder
(``spatial_join._pip_candidates``: flat broadcast → adaptive mixed-res
broadcast → salted; the 10^12-point side never shuffles on the
broadcast rungs) produces (url, way_id) pairs; ``way_geometry_stats``
computes each polygon's area once over the polygon DIM (zero-shuffle
codegen folds); the areas attach to the pairs the way the prejoin went;
the per-point argmin runs as one partial-aggregated ``min(struct
(area_m2, way_id, ...))`` — a map-side-combined shuffle of one row per
point per partition, never a window over the pair list.

Determinism: area arithmetic is IEEE-identical across engines (the
``way_geometry`` oracle replays the same fold), and ties on equal area
break by way_id via the struct ordering, so the picked polygon is
value-hash exact even though no float rides the output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.geo.measure import way_geometry_stats
from osm_spark.pipeline.spatial_join import _attach_way_dim, _pip_pairs


def reverse_geocode(
    points: DataFrame,
    polygons: DataFrame,
    way_cells: DataFrame | None = None,
    strategy: str = "auto",
    budget: int = 4096,
) -> DataFrame:
    """(url, way_id) — the smallest-area polygon covering each point;
    points covered by no polygon are absent (semantics of a geocoder
    miss). ``strategy``/``budget`` are ``pip_join``'s. The area dim
    attaches with the same per-way salts as the vertex dim: it is one
    row per polygon, so when the polygon side outgrew the broadcast
    ceiling the areas hash-join on way_id instead of broadcasting
    (10^8 ways × 16 B is past any sane broadcast), two-side-salted by
    the same way-level factors (BENCH.md finding #15)."""
    pairs, way_salts = _pip_pairs(points, polygons, way_cells, strategy, budget)
    areas = way_geometry_stats(polygons).select("way_id", "area_m2")
    return _pick_smallest(_attach_way_dim(pairs, areas, way_salts))


def _pick_smallest(scored: DataFrame) -> DataFrame:
    best = scored.groupBy("url").agg(
        F.min(F.struct("area_m2", "way_id")).alias("best")
    )
    return best.select("url", F.col("best.way_id").alias("way_id"))
