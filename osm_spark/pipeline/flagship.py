"""Flagship end-to-end job: pages → points → PIP join → tiles, checkpointed.

This is the query the benchmarks measure and the driver smoke-checks
(SURVEY.md §7 step 4): *"for each page with a coordinate, which OSM
way-polygon contains it?"* plus the density-tile layer, with per-stage
lineage checkpoints for mid-job resume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_spark.pipeline.geometry import build_way_cells, synth_polygons
from osm_spark.pipeline.lineage import LineageLog
from osm_spark.pipeline.pages import synth_pages
from osm_spark.pipeline.spatial_join import (
    _attach_way_dim,
    _pip_pairs,
    extract_points,
    pip_join,
)
from osm_spark.geo.contours import tile_density


def flagship_query(spark: SparkSession, sf_dir: str, multiplier: int = 1) -> DataFrame:
    """Un-checkpointed flagship PIP join (url, way_id, name) — the
    ``__spark_entry__.entry`` surface.

    The name dim attaches with the PIP join's own per-way salts: it is
    one short row per polygon, but at the 10^8-way design point that is
    still GBs — past any broadcast — so on the salted path it rides the
    same two-side-salted shuffle attach as the vertex dim."""
    pages = synth_pages(spark, sf_dir, multiplier)
    points = extract_points(pages)
    polygons = synth_polygons(spark)
    names = polygons.select("way_id", F.col("tags")["name"].alias("name"))
    pairs, way_salts = _pip_pairs(points, polygons, build_way_cells(polygons), "auto")
    out = _attach_way_dim(pairs, names, way_salts)
    return out.select("url", "way_id", "name")


def run_flagship(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    multiplier: int = 1,
    zoom: int = 12,
) -> dict[str, object]:
    """Checkpointed pipeline; resumable by re-invoking with the same out_dir."""
    log = LineageLog(spark, out_dir)

    pages = log.run_stage("pages", lambda: synth_pages(spark, sf_dir, multiplier))
    # checkpointed page_points carries the full schema incl. s2_13
    points = log.run_stage("points", lambda: extract_points(pages.df, with_s2=True))
    polygons = synth_polygons(spark)  # small driver-side dim, not checkpointed
    cells = log.run_stage("way_cells", lambda: build_way_cells(polygons))
    pip = log.run_stage("pip", lambda: pip_join(points.df, polygons, cells.df))
    tiles = log.run_stage("tiles", lambda: tile_density(points.df, zoom))

    return {
        "log": log,
        "pages": pages,
        "points": points,
        "way_cells": cells,
        "pip": pip,
        "tiles": tiles,
    }
