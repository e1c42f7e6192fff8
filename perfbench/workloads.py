"""The benchmark's workloads: set-up, timed ops, output digests and the
layer probes of the traced run.

Each workload is driven by ``run.py`` as one client in a closed loop: the
next op starts only after the previous op's output has been forced through
the noop sink. Every call into the engine goes through its public
functions; ``ctx.span`` records a span around each call in traced runs and
does nothing otherwise.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid
from dataclasses import dataclass, field
from urllib.parse import urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bench import force, warm_python_workers
from tracing import Tracer

# 5,000 documents, the row count of the sf0.1 fixture; × 40 replicas gives
# the 200,000-row pages table the geo ops read and the flagship job
# synthesizes. Each read op has a fixed cost of about 1-3 s on 4 cores
# whatever the pages; at this size the per-page work is more than half of
# pip_join's wall, and a run still fits the benchmark's time budget
# (scaling in NOTES.md).
GEO_DOCS = 5000
PAGES_MULT = 40
# The near-dup workload's wall is fixed cost per Spark stage, not data
# (see NOTES.md); 500 documents keep one op near 6 s on 4 cores.
DEDUP_DOCS = 500


@dataclass
class Ctx:
    spark: object
    cpus: int
    seed: int
    data_dir: str
    work_dir: str
    tracer: Tracer | None = None
    state: dict = field(default_factory=dict)

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)


def digest(df: DataFrame) -> list:
    """Order-independent digest: [row count, Σ xxhash64 over all columns].

    The sum runs in decimal(38,0), which cannot overflow below 10^19 rows;
    it is returned as a string so JSON keeps every digit."""
    h = F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")
    row = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).collect()[0]
    return [int(row["n"]), str(row["s"] if row["s"] is not None else 0)]


def dir_bytes(path: str) -> int:
    """Bytes under a local directory, given as a path or a ``file:`` URI
    (Spark's checkpoint directory, which truncation writes under, is one)."""
    if path.startswith("file:"):
        path = urlparse(path).path
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def timed(ctx: Ctx, name: str, fn) -> float:
    """Wall of ``fn()`` inside a span named ``name`` (traced runs only)."""
    with ctx.span(name) as s:
        fn()
    return s.duration


class Geo:
    """The flagship geo path in two forms over the same 200,000 pages.

    Read ops: pages persisted once at set-up; PIP, kNN, density tiles and
    contours each re-run the Arrow extract, with the arguments ``bench.py``
    passes. Checkpoint ops: ``run_flagship`` into a fresh out_dir (pages,
    points, way_cells, pip and tiles stage tables plus lineage rows), then
    the same call on that out_dir, which skips every stage and resumes; the
    resumed ``pip`` table is forced."""

    name = "geo"
    read_ops = ("pip_join", "knn_join", "tile_density", "contours")
    ops = read_ops + ("flagship_checkpoint", "flagship_resume")
    # A read op's digest is computed on its own freshly built frame just
    # before the timed run; that pass also warms the op, so no separate
    # warm-up pass runs. The flagship ops are checked after the timed run
    # (their digest reads the stage table they wrote) and get no warm-up:
    # the read ops already ran the extract and PIP code the flagship uses.
    precheck_ops = read_ops
    warm_ops = ()
    traced_ops = ()
    # rows_per_s: pages through the extract and the point-in-polygon join
    # per second, the paper's throughput metric
    throughput_ops = ("pip_join",)

    def setup(self, ctx: Ctx) -> None:
        from inputs import write_documents
        from osm_spark.pipeline.geometry import (
            build_way_cells,
            synth_nodes,
            synth_polygons,
        )
        from osm_spark.pipeline.pages import synth_pages

        spark = ctx.spark
        with ctx.span("pages.synth"):
            write_documents(ctx.data_dir, GEO_DOCS, ctx.seed)
            pages = synth_pages(spark, ctx.data_dir, PAGES_MULT).persist()
            n_pages = pages.count()
        polygons = synth_polygons(spark)
        # The covering is a static index, built once (as bench.py does).
        with ctx.span("geometry.covering"):
            cells = build_way_cells(polygons).collect()
            way_cells = spark.createDataFrame(cells, "way_id long, cell long")
        with ctx.span("knn.node_count"):
            n_nodes = synth_nodes(spark).count()
        with ctx.span("session.warm_workers"):
            warm_python_workers(spark, ctx.cpus)
        ctx.state.update(
            pages=pages, n_pages=n_pages, polygons=polygons,
            way_cells=way_cells, covering_cells=len(cells), n_nodes=n_nodes,
        )

    def input_rows(self, ctx: Ctx) -> int:
        return ctx.state["n_pages"]

    def _frame(self, ctx: Ctx, op: str, points: DataFrame | None = None) -> DataFrame:
        from osm_spark.geo.contours import contours, density_raster, tile_density
        from osm_spark.geo.knn import knn_join
        from osm_spark.pipeline.geometry import synth_nodes
        from osm_spark.pipeline.spatial_join import extract_points, pip_join

        st = ctx.state
        if points is None:
            with ctx.span("spatial_join.extract_points"):
                points = extract_points(st["pages"])
        if op == "pip_join":
            with ctx.span("spatial_join.pip_join"):
                return pip_join(points, st["polygons"], st["way_cells"], strategy="broadcast")
        if op == "knn_join":
            with ctx.span("knn.knn_join"):
                return knn_join(
                    points, synth_nodes(ctx.spark), k=3,
                    n_cells=st["n_pages"], n_nodes=st["n_nodes"],
                )
        if op == "tile_density":
            with ctx.span("contours.tile_density"):
                return tile_density(points, 12)
        with ctx.span("contours.density_raster"):
            raster = density_raster(points, 10)
        with ctx.span("contours.contours"):
            return contours(raster, threshold=2.0)

    def run(self, ctx: Ctx, op: str):
        from osm_spark.pipeline.flagship import run_flagship

        if op == "flagship_checkpoint":
            out_dir = os.path.join(ctx.work_dir, f"flagship-{uuid.uuid4().hex[:8]}")
            ctx.state["out_dir"] = out_dir
            with ctx.span("lineage.run_flagship"):
                return run_flagship(ctx.spark, ctx.data_dir, out_dir, PAGES_MULT)
        if op == "flagship_resume":
            with ctx.span("lineage.run_flagship_resume"):
                res = run_flagship(ctx.spark, ctx.data_dir, ctx.state["out_dir"], PAGES_MULT)
            with ctx.span("lineage.resume_read"):
                force(res["pip"].df)
            return res
        df = self._frame(ctx, op)
        with ctx.span(f"{_LAYER[op]}.force"):
            force(df)
        return df

    def precheck(self, ctx: Ctx, op: str) -> list:
        return digest(self._frame(ctx, op))

    def check(self, ctx: Ctx, op: str, result) -> list:
        if op == "flagship_checkpoint":
            ctx.state["bytes_written"] = dir_bytes(ctx.state["out_dir"])
            ctx.state["stage_rows"] = {
                k: result[k].output_rows
                for k in ("pages", "points", "way_cells", "pip", "tiles")
            }
        return digest(result["pip"].df)

    def release(self, ctx: Ctx, op: str, result) -> None:
        if op == "flagship_resume":
            shutil.rmtree(ctx.state["out_dir"], ignore_errors=True)

    def wraps(self, tracer: Tracer) -> None:
        import osm_spark.pipeline.flagship as flagship
        import osm_spark.pipeline.spatial_join as spatial_join
        from osm_spark.pipeline.lineage import LineageLog

        tracer.wrap(
            LineageLog, "run_stage", "lineage.run_stage",
            name_fn=lambda _self, stage, *a, **k: f"lineage.{stage}",
        )
        for fn, layer in (("synth_pages", "pages"), ("extract_points", "spatial_join"),
                          ("build_way_cells", "geometry"), ("pip_join", "spatial_join"),
                          ("tile_density", "contours")):
            tracer.wrap(flagship, fn, f"{layer}.{fn}")
        tracer.wrap(spatial_join, "estimate_covering_cells",
                    "spatial_join.estimate_covering_cells")

    def layers(self, ctx: Ctx) -> dict:
        """Each layer forced on its own, over pre-materialized inputs, plus
        the counts of the checkpointed stages."""
        from osm_spark.geo.contours import contours, density_raster
        from osm_spark.geo.hexgrid import hex_cell_expr
        from osm_spark.geo.knn import cell_candidates
        from osm_spark.pipeline.geometry import synth_nodes
        from osm_spark.pipeline.spatial_join import (
            estimate_covering_cells,
            extract_points,
        )

        st, m = ctx.state, {}
        m["spatial_join.extract_s"] = timed(
            ctx, "spatial_join.extract_only", lambda: force(extract_points(st["pages"]))
        )
        points = extract_points(st["pages"]).persist()
        n_points = points.count()
        m["spatial_join.extract_rows"] = n_points
        m["spatial_join.extract_keep_ratio"] = n_points / st["n_pages"]
        m["spatial_join.strategy_s"] = timed(
            ctx, "spatial_join.estimate_covering_cells",
            lambda: estimate_covering_cells(st["polygons"]),
        )
        pip = self._frame(ctx, "pip_join", points)
        m["spatial_join.pip_post_extract_s"] = timed(
            ctx, "spatial_join.pip_post_extract", lambda: force(pip)
        )
        wc = st["way_cells"]
        m["spatial_join.candidate_pairs"] = points.join(
            F.broadcast(wc), points["h3_9"] == wc["cell"]
        ).count()
        m["spatial_join.pairs_out"] = pip.count()
        m["spatial_join.refine_keep_ratio"] = (
            m["spatial_join.pairs_out"] / m["spatial_join.candidate_pairs"]
        )

        knn = self._frame(ctx, "knn_join", points)
        m["knn.post_extract_s"] = timed(ctx, "knn.post_extract", lambda: force(knn))
        m["knn.rows_out"] = knn.count()
        # phase 1 exactly as knn_join builds it (res 8 prune grid)
        nodes = synth_nodes(ctx.spark).select(
            F.col("id").alias("node_id"), F.col("lat").alias("nlat"),
            F.col("lon").alias("nlon"),
        )
        pts8 = points.select("url", "lat", "lon").withColumn(
            "pcell", hex_cell_expr("lat", "lon", 8)
        )
        cand = cell_candidates(pts8, nodes, 3, 8).groupBy("pcell").agg(
            F.count(F.lit(1)).alias("n_cand")
        )
        m["knn.phase1_s"] = timed(ctx, "knn.phase1", lambda: force(cand))
        total = pts8.join(cand, "pcell").agg(F.sum("n_cand")).collect()[0][0]
        m["knn.candidates_per_point"] = total / n_points

        tiles = self._frame(ctx, "tile_density", points)
        m["contours.tile_density_post_extract_s"] = timed(
            ctx, "contours.tile_density_post_extract", lambda: force(tiles)
        )
        m["contours.tiles_out"] = tiles.count()
        raster = density_raster(points, 10)
        m["contours.raster_s"] = timed(ctx, "contours.raster", lambda: force(raster))
        raster = raster.persist()
        raster.count()
        segs = contours(raster, threshold=2.0)
        m["contours.march_s"] = timed(ctx, "contours.march", lambda: force(segs))
        m["contours.segments_out"] = segs.count()
        raster.unpersist()
        points.unpersist()

        m["pages.rows"] = st["n_pages"]
        m["geometry.covering_cells"] = st["covering_cells"]
        b = st["bytes_written"]
        m["lineage.bytes_written"] = b
        m["lineage.bytes_per_page"] = b / st["stage_rows"]["pages"]
        return m


class CorpusDedup:
    """The near-duplicate stage of the corpus pipeline: the registry's
    ``near_dup_jaccard`` (MinHash → LSH → exact Jaccard) feeding the
    connected-components keeper election (``dedup_clusters``).

    The traced run also makes one call of the whole pipeline, built as the
    registry's ``corpus_pipeline`` query builds it over the same documents,
    so the corpus layer's stages are measured; at several times the near-dup
    op's wall it is too slow for every run."""

    name = "corpus_dedup"
    ops = ("near_dup_clusters",)
    precheck_ops = ()
    warm_ops = ops
    traced_ops = ("corpus_pipeline",)
    throughput_ops = ops

    def setup(self, ctx: Ctx) -> None:
        from inputs import write_documents

        with ctx.span("corpus.documents"):
            write_documents(ctx.data_dir, DEDUP_DOCS, ctx.seed)
            docs = ctx.spark.read.parquet(
                os.path.join(ctx.data_dir, "documents.parquet")
            ).select("doc_id")
            ctx.state["n_docs"] = docs.count()
        with ctx.span("session.warm_workers"):
            warm_python_workers(ctx.spark, ctx.cpus)
        ctx.state["docs"] = docs

    def input_rows(self, ctx: Ctx) -> int:
        return ctx.state["n_docs"]

    def run(self, ctx: Ctx, op: str) -> DataFrame:
        import __spark_entry__ as registry
        from osm_spark.graph.components import dedup_clusters

        if op == "corpus_pipeline":
            with ctx.span("corpus.corpus_pipeline"):
                out = registry.q_corpus_pipeline(ctx.spark, ctx.data_dir)
            with ctx.span("corpus.force"):
                force(out)
            return out
        with ctx.span("dedup.near_dup_jaccard"):
            pairs = registry.q_near_dup_jaccard(ctx.spark, ctx.data_dir)
        with ctx.span("iterate.dedup_clusters"):
            clusters = dedup_clusters(ctx.state["docs"], pairs, a="doc_a", b="doc_b")
        with ctx.span("iterate.force"):
            force(clusters)
        return clusters

    def check(self, ctx: Ctx, op: str, result: DataFrame) -> list:
        got = digest(result)
        if op == "corpus_pipeline":
            ctx.state["corpus_rows"] = got[0]
        return got

    def release(self, ctx: Ctx, op: str, result) -> None:
        from osm_spark.pipeline.corpus import release_stage_caches

        if op == "corpus_pipeline":
            release_stage_caches()

    def wraps(self, tracer: Tracer) -> None:
        import osm_spark.graph.components as components
        import osm_spark.pipeline.corpus as corpus
        import osm_spark.text.dedup as dedup
        from run import CORPUS_STAGES

        # the stage functions as pipeline/corpus.py sees them, so only the
        # corpus_pipeline op's calls land in these spans
        for fn in CORPUS_STAGES:
            tracer.wrap(corpus, fn, f"corpus.{fn}")

        for fn in ("minhash_array", "lsh_bands_from_array", "lsh_tune",
                   "lsh_candidate_pairs", "jaccard_pairs"):
            tracer.wrap(dedup, fn, f"dedup.{fn}", capture=fn in (
                "lsh_candidate_pairs", "jaccard_pairs"))
        tracer.wrap(components, "connected_components", "iterate.connected_components")
        tracer.wrap(
            components, "truncate_lineage", "iterate.truncate_lineage",
            after=lambda df: dir_bytes(df._trunc_path),
        )

    def layers(self, ctx: Ctx) -> dict:
        tr = ctx.tracer
        cand = tr.captured["dedup.lsh_candidate_pairs"].count()
        out = tr.captured["dedup.jaccard_pairs"].count()
        return {
            "corpus.rows_out": ctx.state.get("corpus_rows", 0),
            "dedup.lsh_candidate_pairs": cand,
            "dedup.jaccard_pairs_out": out,
            "dedup.jaccard_keep_ratio": out / cand if cand else 0.0,
        }


_LAYER = {
    "pip_join": "spatial_join",
    "knn_join": "knn",
    "tile_density": "contours",
    "contours": "contours",
}

WORKLOADS = {w.name: w for w in (Geo(), CorpusDedup())}
