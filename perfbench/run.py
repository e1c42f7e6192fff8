#!/usr/bin/env python3
"""Benchmark of the osm_spark engine: end-to-end and per-layer metrics.

    python3 perfbench/run.py --workload geo --seed 1 --seconds 10 --trace 0

Runs one workload (see workloads.py and NOTES.md) at local[<cores>]: sets
up its inputs from ``--seed`` once and reports the set-up time, then runs
its ops in a closed loop for ``--seconds`` (at least once). Every op's
output is checked by digest on an untimed pass; ops that are not warmed by
that pass get an untimed warm-up run first. A traced run then makes each of
the workload's traced-only ops once. The last stdout
line is one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics of a
traced run with ``--trace 1``. The line before it records the host
settings, the walls, the digests and the workload's named metrics.

``--workload all`` runs every workload untraced and traced, prints each
end-to-end and named metric with its unit, and the tracing overhead per
workload.

Everything the run writes stays under ``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SEED = 1
WORKLOAD_NAMES = ("geo", "corpus_dedup")

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "loop_s": "s",
    "peak_rss_mb": "MB",
}

SPARK_OPS = (
    "pip_join", "knn_join", "tile_density", "contours",
    "near_dup_clusters", "corpus_pipeline", "flagship_checkpoint", "flagship_resume",
)
SPARK_STATS = {
    "jobs": "count", "stages": "count", "tasks": "count", "task_run_s": "s",
    "gc_s": "s", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "slot_idle_s": "s",
}
# the public stage functions pipeline/corpus.py calls, in pipeline order
CORPUS_STAGES = (
    "canonical_url", "apply_url_rules", "quality_features", "lm_score",
    "line_dedup", "minhash_array", "lsh_tune", "lsh_bands_from_array",
    "lsh_candidate_pairs", "jaccard_pairs", "dedup_clusters", "quota_sample",
    "pack_sequences",
)
LINEAGE_STAGES = ("pages", "points", "way_cells", "pip", "tiles")

PER_LAYER = {
    "session.start_s": "s",
    "pages.synth_s": "s",
    "pages.rows": "count",
    "geometry.covering_s": "s",
    "geometry.covering_cells": "count",
    "spatial_join.extract_s": "s",
    "spatial_join.extract_rows": "count",
    "spatial_join.extract_keep_ratio": "ratio",
    "spatial_join.pip_post_extract_s": "s",
    "spatial_join.strategy_s": "s",
    "spatial_join.candidate_pairs": "count",
    "spatial_join.pairs_out": "count",
    "spatial_join.refine_keep_ratio": "ratio",
    "knn.post_extract_s": "s",
    "knn.phase1_s": "s",
    "knn.candidates_per_point": "ratio",
    "knn.rows_out": "count",
    "contours.tile_density_post_extract_s": "s",
    "contours.raster_s": "s",
    "contours.march_s": "s",
    "contours.tiles_out": "count",
    "contours.segments_out": "count",
    "corpus.build_s": "s",
    "corpus.action_s": "s",
    "corpus.rows_out": "count",
    **{f"corpus.{st}.call_s": "s" for st in CORPUS_STAGES},
    "dedup.lsh_candidate_pairs": "count",
    "dedup.jaccard_pairs_out": "count",
    "dedup.jaccard_keep_ratio": "ratio",
    "iterate.rounds": "count",
    "iterate.truncate_s": "s",
    "iterate.round_s": "s",
    "iterate.jobs_per_round": "count",
    "iterate.bytes_written": "bytes",
    **{f"lineage.{st}.write_s": "s" for st in LINEAGE_STAGES},
    "lineage.bytes_written": "bytes",
    "lineage.bytes_per_page": "bytes",
    "lineage.resume_s": "s",
    "lineage.resume_read_s": "s",
    **{f"spark.{op}.{k}": u for op in SPARK_OPS for k, u in SPARK_STATS.items()},
    "trace.loop_s": "s",
    "trace.span_coverage_min": "ratio",
    "trace.unattributed_jobs": "count",
}


def host_settings() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    # a quarter of physical RAM, at most 2 GiB: the inputs need well under
    # 1 GiB and the host is shared
    mem_gb = max(1, min(2, total_kb // 2**20 // 4))
    return {"cpus": cpus, "driver_memory": f"{mem_gb}g"}


def configure_env(out: str, host: dict) -> None:
    """Point every writer at the run's own directory and size Spark to the
    host. Must run before the JVM starts."""
    for d in ("tmp", "local", "eventlog", "checkpoint"):
        os.makedirs(os.path.join(out, d), exist_ok=True)
    tmp = os.path.join(out, "tmp")
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(out, "local"),
        SPARK_GRAFT_CPUS=str(host["cpus"]),
        SPARK_DRIVER_MEM=host["driver_memory"],
        SPARK_DRIVER_JAVA_OPTS="-XX:+UseParallelGC",
        # every JVM, the spark-submit launcher's too: temp files in the run's
        # directory, and no perf-counter file under /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )


def start_session(out: str, host: dict, trace: bool):
    from osm_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(out, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(out, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{host['cpus']}]", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(os.path.join(out, "checkpoint"))
    return spark


def shutdown_jvm() -> None:
    """Stop the driver JVM pyspark launched and wait for it and its Python
    workers to end."""
    from procmem import descendants
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = descendants(os.getpid())
    if proc is not None:
        proc.stdin.close()  # the JVM's gateway exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def load_expected() -> dict:
    with open(os.path.join(HERE, "expected_digests.json")) as f:
        return json.load(f)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def measure(workload: str, seed: int, seconds: float, trace: bool, out: str) -> tuple[dict, dict]:
    from procmem import PeakRss
    from tracing import Tracer, event_log_files, fold_event_log, self_times
    from workloads import WORKLOADS, Ctx

    host = host_settings()
    configure_env(out, host)
    wl = WORKLOADS[workload]
    tracer = Tracer() if trace else None
    if tracer is not None:
        wl.wraps(tracer)
    expected = load_expected().get(workload, {}) if seed == DEFAULT_SEED else {}
    seen: dict[str, list] = {}
    attempted = failed = 0

    def span(name):
        return tracer.span(name) if tracer else contextlib.nullcontext()

    def run_op(ctx, op, timed: bool) -> float | None:
        """One op and its digest check; returns the op wall, None on
        failure. Ops in ``precheck_ops`` are checked on their own freshly
        built frame before the run, the others on the run's result."""
        nonlocal attempted, failed
        attempted += 1
        try:
            if op in wl.precheck_ops:
                with span(f"check:{op}"):
                    got = wl.precheck(ctx, op)
            with span(f"{'op' if timed else 'warmup'}:{op}"):
                t0 = time.perf_counter()
                result = wl.run(ctx, op)
                wall = time.perf_counter() - t0
            with span(f"check:{op}"):
                if op not in wl.precheck_ops:
                    got = wl.check(ctx, op, result)
                wl.release(ctx, op, result)
        except Exception:
            traceback.print_exc()
            failed += 1
            return None
        want = expected.get(op, seen.setdefault(op, got))
        if got != want:
            print(f"perfbench: {workload}/{op} digest {got} != {want}", file=sys.stderr)
            failed += 1
            return None
        return wall

    rss = PeakRss()
    rss.start()
    t0 = time.perf_counter()
    with span("setup"):
        with span("session.start"):
            spark = start_session(out, host, trace)
        if tracer is not None:
            tracer.sc = spark.sparkContext
        ctx = Ctx(spark=spark, cpus=host["cpus"], seed=seed,
                  data_dir=os.path.join(out, "data"),
                  work_dir=os.path.join(out, "work"), tracer=tracer)
        wl.setup(ctx)
    setup_s = time.perf_counter() - t0

    for op in wl.warm_ops:
        run_op(ctx, op, timed=False)
    walls: dict[str, list[float]] = {op: [] for op in wl.ops}
    deadline = time.perf_counter() + seconds
    while True:
        for op in wl.ops:
            wall = run_op(ctx, op, timed=True)
            if wall is not None:
                walls[op].append(wall)
        if time.perf_counter() >= deadline:
            break

    # ops too slow for every run: the traced run makes each once, after the
    # loop, so the loop's walls are the same as in an untraced run
    traced_walls = {}
    layer_metrics = {}
    if tracer is not None:
        for op in wl.traced_ops:
            traced_walls[op] = run_op(ctx, op, timed=True)
        with span("layers"):
            layer_metrics = wl.layers(ctx)
    version = spark.version
    spark.stop()
    rss.stop()
    shutdown_jvm()

    med = {op: _median(w) for op, w in walls.items()}
    n_rows = wl.input_rows(ctx)
    detail = {
        "workload": workload, "seed": seed, "trace": int(trace),
        "cpus": host["cpus"], "driver_memory": host["driver_memory"],
        "spark_version": version, "input_rows": n_rows,
        "setup_s": setup_s, "op_walls_s": walls, "traced_walls_s": traced_walls,
        "digests": seen,
        "named": named_metrics(workload, med, traced_walls, n_rows, setup_s,
                               failed / attempted, rss.peak_mb),
    }
    through = sum(med[op] for op in wl.throughput_ops)
    end_to_end = {
        "setup_s": setup_s,
        "rows_per_s": n_rows * len(wl.throughput_ops) / through if through else 0.0,
        "loop_s": sum(med.values()),
        "peak_rss_mb": rss.peak_mb,
    }
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if not trace:
        result["metrics"] = {
            k: {"value": v, "unit": END_TO_END[k]} for k, v in end_to_end.items()
        }
        return result, detail

    tracer.unwrap_all()
    tracer.dump(os.path.join(out, "spans.json"))
    stats, unattributed = fold_event_log(event_log_files(os.path.join(out, "eventlog")))
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(layer_metrics)
    m.update(span_metrics(tracer.spans, stats, wl, host["cpus"]))
    m["trace.loop_s"] = end_to_end["loop_s"]
    m["trace.unattributed_jobs"] = unattributed
    selft = self_times(tracer.spans)
    ops = [s for s in tracer.spans if s.name.startswith("op:")]
    m["trace.span_coverage_min"] = min(
        (1 - selft[s.id] / s.duration for s in ops), default=0.0
    )
    unknown = set(m) - set(PER_LAYER)
    if unknown:
        raise RuntimeError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
    result["metrics"] = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in m.items()}
    return result, detail


def span_metrics(spans, stats, wl, cpus: int) -> dict:
    """Per-layer metrics derived from the spans of the timed ops and the
    Spark stats folded onto them; each is the median over the timed ops."""
    children: dict[int, list] = {}
    for s in spans:
        children.setdefault(s.op, []).append(s)
    ops = [s for s in spans if s.name.startswith("op:")]

    def per_op(op_name: str, fn) -> float:
        return _median([fn(children[s.id]) for s in ops if s.name == f"op:{op_name}"])

    def total(tree, name: str) -> float:
        return sum(s.duration for s in tree if s.name == name)

    def agg(tree, field: str) -> float:
        return sum(getattr(stats[s.id], field) for s in tree if s.id in stats)

    def setup_median(name: str) -> float:
        return _median([s.duration for s in spans if s.name == name])

    m = {
        "session.start_s": setup_median("session.start"),
        "pages.synth_s": setup_median("pages.synth"),
        "geometry.covering_s": setup_median("geometry.covering"),
    }
    for op in wl.ops + wl.traced_ops:
        for k in ("jobs", "stages", "tasks", "task_run_s", "gc_s",
                  "shuffle_write_bytes", "spill_bytes"):
            m[f"spark.{op}.{k}"] = per_op(op, lambda tree, k=k: agg(tree, k))
        m[f"spark.{op}.slot_idle_s"] = per_op(
            op, lambda tree: tree[0].duration * cpus - agg(tree, "task_run_s")
        )

    if wl.name == "corpus_dedup":
        cp = "corpus_pipeline"
        m["corpus.build_s"] = per_op(cp, lambda t: total(t, "corpus.corpus_pipeline"))
        m["corpus.action_s"] = per_op(cp, lambda t: total(t, "corpus.force"))
        for st in CORPUS_STAGES:
            m[f"corpus.{st}.call_s"] = per_op(cp, lambda t, n=f"corpus.{st}": total(t, n))

        op = "near_dup_clusters"
        def rounds(tree) -> tuple[int, float, float]:
            """(rounds, wall per round, jobs per round) of the op's one
            connected_components call. It truncates its edge list and its
            initial labels first (the first truncation also runs everything
            upstream of the pairs), then once per round; the per-round
            figures leave those two out. Its span holds its truncations."""
            cc = [s for s in tree if s.name == "iterate.connected_components"]
            trunc = [s for s in tree if s.name == "iterate.truncate_lineage"]
            set_up, per_round = trunc[:2], trunc[2:]
            n = max(len(per_round), 1)
            wall = sum(s.duration for s in cc) - sum(s.duration for s in set_up)
            return len(per_round), wall / n, (agg(cc, "jobs") + agg(per_round, "jobs")) / n

        m["iterate.rounds"] = per_op(op, lambda t: rounds(t)[0])
        m["iterate.round_s"] = per_op(op, lambda t: rounds(t)[1])
        m["iterate.jobs_per_round"] = per_op(op, lambda t: rounds(t)[2])
        m["iterate.truncate_s"] = per_op(op, lambda t: total(t, "iterate.truncate_lineage"))
        m["iterate.bytes_written"] = per_op(
            op, lambda t: sum(s.value for s in t if s.name == "iterate.truncate_lineage")
        )
    if "flagship_checkpoint" in wl.ops:
        fresh = "flagship_checkpoint"
        for st in LINEAGE_STAGES:
            m[f"lineage.{st}.write_s"] = per_op(fresh, lambda t, n=f"lineage.{st}": total(t, n))
        m["lineage.resume_s"] = per_op(
            "flagship_resume", lambda t: total(t, "lineage.run_flagship_resume"))
        m["lineage.resume_read_s"] = per_op(
            "flagship_resume", lambda t: total(t, "lineage.resume_read"))
    return m


def named_metrics(workload: str, med: dict, traced: dict, n_rows: int,
                  setup_s: float, failed_ratio: float, peak_mb: float) -> dict:
    """The workload's metrics under the names the notes use, with units."""
    def per_s(wall: float) -> float:
        return n_rows / wall if wall else 0.0  # 0 when every run of the op failed

    named = {}
    if workload == "geo":
        named["pip_pages_per_s"] = (per_s(med["pip_join"]), "pages/s")
        named["knn_pages_per_s"] = (per_s(med["knn_join"]), "pages/s")
        named["tile_density_s"] = (med["tile_density"], "s")
        named["contours_s"] = (med["contours"], "s")
        named["flagship_checkpoint_s"] = (med["flagship_checkpoint"], "s")
        named["flagship_resume_s"] = (med["flagship_resume"], "s")
    else:
        named["near_dup_clusters_s"] = (med["near_dup_clusters"], "s")
        if traced.get("corpus_pipeline") is not None:
            named["corpus_pipeline_s"] = (traced["corpus_pipeline"], "s")
    named["setup_s"] = (setup_s, "s")
    named["failed_op_ratio"] = (failed_ratio, "ratio")
    named["peak_rss_mb"] = (peak_mb, "MB")
    return {k: {"value": v, "unit": u} for k, (v, u) in named.items()}


def run_all(args) -> int:
    """Every workload untraced then traced, in fresh processes."""
    ok = True
    for wl in WORKLOAD_NAMES:
        lines = {}
        for trace in (0, 1):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", wl,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(trace)],
                cwd=ROOT, stdout=subprocess.PIPE, text=True,
            )
            out = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(out) < 2:
                print(f"{wl} trace={trace}: failed (exit {proc.returncode})")
                ok = False
                break
            lines[trace] = (json.loads(out[-2]), json.loads(out[-1]))
        if len(lines) < 2:
            continue
        (detail, res), (traced_detail, traced) = lines[0], lines[1]
        print(f"{wl}: correct={res['correct'] and traced['correct']} "
              f"attempted={res['attempted']} failed={res['failed']}")
        # the end-to-end metrics, then the named ones; a name only the
        # traced run has (corpus_pipeline_s) comes from it
        named = {**traced_detail["named"], **detail["named"]}
        for name, v in {**res["metrics"], **named}.items():
            print(f"  {name:24s} {v['value']:14.4f} {v['unit']}")
        loop = res["metrics"]["loop_s"]["value"]
        traced_loop = traced["metrics"]["trace.loop_s"]["value"]
        print(f"  {'tracing_overhead_s':24s} {traced_loop - loop:14.4f} s "
              f"({traced_loop / loop - 1:+.1%} of loop_s)")
        ok = ok and res["correct"] and traced["correct"]
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    missing = [f for f in ("osm_spark/session.py", "bench.py", "__spark_entry__.py")
               if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: {ROOT} is not a checkout of the engine "
              f"(missing {', '.join(missing)})", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    sys.path[:0] = [ROOT, HERE]
    out = os.path.join(ROOT, ".perfbench_out",
                       f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    result, detail = measure(args.workload, args.seed, args.seconds, bool(args.trace), out)
    # a traced run keeps its spans; everything else the run wrote goes
    for d in os.listdir(out):
        if d != "spans.json":
            shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    if not os.listdir(out):
        os.rmdir(out)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
