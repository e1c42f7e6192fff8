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

Files land under the session's checkpoint dir when one is set (the
cluster configuration), else a per-process temp dir. Superseded rounds
should be released with ``drop_truncated`` — iterative callers do this
two rounds behind, mirroring Spark's own checkpoint-retention story.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from urllib.parse import urlparse

from pyspark.sql import DataFrame

_FALLBACK_DIR: str | None = None


def _base_dir(df: DataFrame) -> str:
    ckpt = df.sparkSession.sparkContext.getCheckpointDir()
    if ckpt is not None:
        return ckpt
    global _FALLBACK_DIR
    if _FALLBACK_DIR is None:
        _FALLBACK_DIR = tempfile.mkdtemp(prefix="osm_spark_trunc_")
    return _FALLBACK_DIR


def truncate_lineage(df: DataFrame) -> DataFrame:
    """Materialize ``df`` to parquet and return a fresh-leaf scan of it.

    The returned DataFrame records its backing path in ``_trunc_path``
    so loops can release superseded rounds via ``drop_truncated``.
    """
    path = f"{_base_dir(df).rstrip('/')}/t-{uuid.uuid4().hex}"
    df.write.parquet(path)
    # The schema just written: no footer-inference job on the re-read.
    out = df.sparkSession.read.schema(df.schema).parquet(path)
    out._trunc_path = path  # type: ignore[attr-defined]
    return out


def drop_truncated(df: DataFrame) -> None:
    """Delete the parquet files behind a ``truncate_lineage`` result.

    Only local paths are removed, given as a path or a ``file:`` URI
    (``getCheckpointDir`` returns one); a cluster checkpoint dir on shared
    storage follows the cluster's own retention policy, like Spark's
    reliable checkpoints. No-op for non-truncated frames.
    """
    path = getattr(df, "_trunc_path", None)
    if path and path.startswith("file:"):
        path = urlparse(path).path
    if path and path.startswith("/") and os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
