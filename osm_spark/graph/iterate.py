"""Lineage truncation for iterative DataFrame algorithms.

Two distinct blow-ups hide in a DataFrame loop, and BOTH must be cut
per round (BENCH.md findings #11/#12):

1. **Plan growth** — a loop whose round N+1 plan references round N's
   DataFrame k>1 times grows the LOGICAL plan k^rounds. ``persist()``
   caches data but does not truncate the plan (observed: a 2 GiB plan
   string and minutes of pure analysis time at round 10).
2. **Statistics growth** — ``Dataset.checkpoint`` / ``localCheckpoint``
   DO truncate the plan, but the new ``LogicalRDD`` leaf *inherits the
   origin plan's Catalyst statistics*, and the size-only estimator
   multiplies child ``sizeInBytes`` through every join. The inherited
   estimate therefore compounds: measured on a 3-join round, the leaf's
   sizeInBytes went 7 → 18 → 41 → 87 → … digits, doubling per round —
   by round ~20 the driver spends whole minutes in BigInteger
   multiplication inside stats estimation and finally dies with
   "BigInteger would overflow supported range". Plan truncation alone
   is NOT enough; the leaf's stats must be reset too.

A parquet round-trip does both with public API only: the write is a
distributed materialization (exactly what a reliable checkpoint does),
and the re-read's leaf stats come from real file sizes — bounded AND
honest, so broadcast decisions inside later rounds stay correct.

Loops run through ``fixpoint(step, state, max_iter, *, done=None,
**observe)``. A round is ``new = truncate_lineage(step(state),
**observe)``: the write is its only job, and it computes the ``observe``
aggregates (a changed-flag ``count_if``, a row count) into
``new._observed``. ``fixpoint`` owns the rounds it writes, never the
caller's initial state or the frames ``step`` reads. It drops the
superseded state as soon as the new one is written (a truncated leaf
reads only its own files). It stops after the first round where
``done(new._observed, old._observed)`` holds (``{}`` for an initial state
that observed nothing), or after exactly ``max_iter`` rounds when
``done`` is None, and returns ``(state, converged)``: the caller owns
that state; ``converged`` says whether ``done`` held (True without
``done``). Guard-style callers drop it and raise their own error when
not converged; bound-style callers return it. If a round raises, the
current state is dropped (unless it is the initial one) and a partial
write is removed before the error propagates.

A result computed on the driver becomes a leaf of the same kind through
``arrow_leaf``. Files land under the session's checkpoint dir when one
is set (the cluster configuration), else a per-process temp dir.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from typing import Callable
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql.types import StructType

_FALLBACK_DIR: str | None = None


def _base_dir(spark: SparkSession) -> str:
    ckpt = spark.sparkContext.getCheckpointDir()
    if ckpt is not None:
        return ckpt
    global _FALLBACK_DIR
    if _FALLBACK_DIR is None:
        _FALLBACK_DIR = tempfile.mkdtemp(prefix="osm_spark_trunc_")
    return _FALLBACK_DIR


def _new_path(spark: SparkSession) -> str:
    return f"{_base_dir(spark).rstrip('/')}/t-{uuid.uuid4().hex}"


def _local(path: str) -> str | None:
    """The filesystem path behind a local path or ``file:`` URI, else None."""
    if path.startswith("file:"):
        path = urlparse(path).path
    return path if path.startswith("/") else None


def truncate_lineage(df: DataFrame, **observe: Column) -> DataFrame:
    """Materialize ``df`` to parquet and return a fresh-leaf scan of it.

    The returned DataFrame records its backing path in ``_trunc_path``
    so loops can release superseded rounds via ``drop_truncated``.

    ``observe`` names aggregate expressions over ``df`` (a row count, a
    changed-flag sum). They are computed by ``DataFrame.observe`` during
    the write itself — no extra job — and their values land in the
    returned frame's ``_observed`` dict.
    """
    path = _new_path(df.sparkSession)
    written, obs = df, None
    if observe:
        obs = Observation()
        written = df.observe(obs, *[c.alias(k) for k, c in observe.items()])
    try:
        written.write.parquet(path)
    except BaseException:
        _remove(path)
        raise
    # The schema just written: no footer-inference job on the re-read.
    out = df.sparkSession.read.schema(df.schema).parquet(path)
    out._trunc_path = path  # type: ignore[attr-defined]
    out._observed = obs.get if obs else {}  # type: ignore[attr-defined]
    return out


def local_dir(df: DataFrame) -> str | None:
    """The local directory behind a ``truncate_lineage`` result, or None
    when it is not truncated or lives on shared storage."""
    path = getattr(df, "_trunc_path", None)
    return _local(path) if path else None


def arrow_leaf(spark: SparkSession, table, schema: StructType) -> DataFrame:
    """Write a driver-side pyarrow ``table`` as a truncation leaf.

    For results computed on the driver: the single part file is written
    with pyarrow into a new local truncation dir (the caller checks
    ``local_dir`` first) and re-read with ``schema``, so downstream joins
    see file-size statistics exactly as after ``truncate_lineage``, and
    ``drop_truncated`` releases it the same way.
    """
    import pyarrow.parquet as pq

    path = _new_path(spark)
    local = _local(path)
    if local is None:
        raise ValueError(f"arrow_leaf needs a local truncation dir, got {path}")
    os.makedirs(local)
    pq.write_table(table, os.path.join(local, "part-00000.parquet"))
    out = spark.read.schema(schema).parquet(path)
    out._trunc_path = path  # type: ignore[attr-defined]
    return out


def drop_truncated(df: DataFrame) -> None:
    """Delete the parquet files behind a ``truncate_lineage`` result.

    Only local paths are removed, given as a path or a ``file:`` URI
    (``getCheckpointDir`` returns one); a cluster checkpoint dir on shared
    storage follows the cluster's own retention policy, like Spark's
    reliable checkpoints. No-op for non-truncated frames.
    """
    _remove(getattr(df, "_trunc_path", ""))


def _remove(path: str) -> None:
    local = _local(path)
    if local and os.path.isdir(local):
        shutil.rmtree(local, ignore_errors=True)


def fixpoint(
    step: Callable[[DataFrame], DataFrame],
    state: DataFrame,
    max_iter: int,
    *,
    done: Callable[[dict, dict], bool] | None = None,
    **observe: Column,
) -> tuple[DataFrame, bool]:
    """Iterate ``truncate_lineage(step(state), **observe)``; the contract
    is in the module docstring."""
    cur = state
    try:
        for _ in range(max_iter):
            new = truncate_lineage(step(cur), **observe)
            old, cur = cur, new
            if old is not state:
                drop_truncated(old)
            if done is not None and done(new._observed, getattr(old, "_observed", {})):
                return cur, True
    except BaseException:
        if cur is not state:
            drop_truncated(cur)
        raise
    return cur, done is None
