"""Per-stage checkpointing with per-partition lineage + row-count metrics.

north_rule: "every stage checkpoints per-partition lineage and row-count
metrics ... so any run is resumable mid-job". Implementation:

- Each stage writes its output to ``{base}/stages/{name}`` with Spark's
  parquet writer (``table_prefix`` mode: a catalog table
  ``{prefix}_{name}`` via ``saveAsTable``; with an Iceberg catalog the same
  call lands in Iceberg). A fresh stage is re-read with the schema it was
  just written with, so the re-read launches no footer-inference job.
- After a successful write, per-FILE row counts are read from the parquet
  footers (metadata only, no data scan — the analog of Iceberg's manifest
  row counts) and appended to the lineage log together with stage name,
  run id and wall time.
- The lineage log is a handful of driver-local rows per stage. In
  ``base_dir`` mode, which is already driver-local (``stage_done`` checks
  ``_SUCCESS`` with ``os.path``, footers are read with pyarrow), the rows
  go to ``{base}/lineage`` as one pyarrow-written
  ``part-<uuid>.parquet`` per append: a Spark append would cost a 4-task
  job per stage on fresh AND resumed runs. The file is written under a
  ``_``-prefixed name and renamed into place, so a Spark reader never
  sees a partial file. ``table_prefix`` mode appends with ``saveAsTable``
  so the catalog owns the table. ``lineage()`` reads both with Spark.
- Resume: a stage whose output already exists (``_SUCCESS`` marker) is
  skipped and its DataFrame re-read from the checkpoint, so a killed job
  restarts mid-pipeline paying only for unfinished stages.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

_LINEAGE_COLUMNS = (
    ("run_id", "string"),
    ("stage", "string"),
    ("partition_file", "string"),
    ("output_rows", "long"),
    ("wall_ms", "long"),
    ("skipped", "boolean"),
)


@dataclass
class StageResult:
    name: str
    df: DataFrame
    skipped: bool
    wall_ms: int
    output_rows: int


@dataclass
class LineageLog:
    """``base_dir`` mode checkpoints to parquet paths (the sandbox form).
    ``table_prefix`` mode is the catalog seam: stages become catalog
    tables ``{prefix}_{stage}`` and metrics append to a
    ``{prefix}_lineage`` table — with an Iceberg catalog configured the
    identical calls land in Iceberg tables whose manifests carry the
    per-file row counts natively; against the built-in session catalog
    the same code path is exercised over the warehouse dir (tested)."""

    spark: SparkSession
    base_dir: str | None = None
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    table_prefix: str | None = None

    def __post_init__(self) -> None:
        if (self.base_dir is None) == (self.table_prefix is None):
            raise ValueError(
                "LineageLog needs exactly one of base_dir (parquet mode) "
                "or table_prefix (catalog-table mode); got "
                f"base_dir={self.base_dir!r}, table_prefix={self.table_prefix!r}"
            )

    def _stage_table(self, name: str) -> str:
        return f"{self.table_prefix}_{name}"

    def _stage_path(self, name: str) -> str:
        return os.path.join(self.base_dir, "stages", name)

    def _lineage_path(self) -> str:
        return os.path.join(self.base_dir, "lineage")

    def _file_metrics(self, path: str) -> list[tuple[str, int]]:
        """(file, rows) per output file from parquet footers only."""
        import pyarrow.parquet as pq

        out = []
        for root, _dirs, files in os.walk(path):
            for fn in sorted(files):
                if fn.endswith(".parquet"):
                    full = os.path.join(root, fn)
                    out.append((fn, pq.ParquetFile(full).metadata.num_rows))
        return out

    def stage_done(self, name: str) -> bool:
        if self.table_prefix is not None:
            return self.spark.catalog.tableExists(self._stage_table(name))
        return os.path.exists(os.path.join(self._stage_path(name), "_SUCCESS"))

    def _read_stage(self, name: str, schema=None) -> DataFrame:
        if self.table_prefix is not None:
            return self.spark.table(self._stage_table(name))
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self._stage_path(name))

    def run_stage(
        self, name: str, build: Callable[[], DataFrame], repartition: int | None = None
    ) -> StageResult:
        """Execute (or resume) one checkpointed stage."""
        t0 = time.monotonic()
        if self.stage_done(name):
            df = self._read_stage(name)
            self._append_lineage(name, skipped=True, wall_ms=0)
            return StageResult(name, df, True, 0, -1)

        df = build()
        if repartition:
            df = df.repartition(repartition)
        if self.table_prefix is not None:
            df.write.mode("overwrite").saveAsTable(self._stage_table(name))
        else:
            df.write.mode("overwrite").parquet(self._stage_path(name))
        wall_ms = int((time.monotonic() - t0) * 1000)
        rows = self._append_lineage(name, skipped=False, wall_ms=wall_ms)
        return StageResult(name, self._read_stage(name, df.schema), False, wall_ms, rows)

    def _append_lineage(self, name: str, skipped: bool, wall_ms: int) -> int:
        if skipped:
            metrics = []
        elif self.table_prefix is not None:
            # inputFiles() of the fresh table → footer row counts (the
            # stand-in for Iceberg manifest counts)
            metrics = self._table_file_metrics(self._stage_table(name))
        else:
            metrics = self._file_metrics(self._stage_path(name))
        total = sum(r for _f, r in metrics)
        rows = [
            (self.run_id, name, f, int(r), int(wall_ms), bool(skipped))
            for f, r in metrics
        ] or [(self.run_id, name, None, 0, int(wall_ms), bool(skipped))]
        if self.table_prefix is not None:
            schema = ", ".join(f"{c} {t}" for c, t in _LINEAGE_COLUMNS)
            log = self.spark.createDataFrame(rows, schema)
            log.write.mode("append").saveAsTable(f"{self.table_prefix}_lineage")
        else:
            self._append_lineage_file(rows)
        return total

    def _append_lineage_file(self, rows: list[tuple]) -> None:
        """One pyarrow part file per append, renamed into place."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        arrow_type = {"string": pa.string(), "long": pa.int64(), "boolean": pa.bool_()}
        schema = pa.schema([(c, arrow_type[t]) for c, t in _LINEAGE_COLUMNS])
        table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema)
        path = self._lineage_path()
        os.makedirs(path, exist_ok=True)
        part = uuid.uuid4().hex
        tmp = os.path.join(path, f"_tmp-{part}.parquet")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(path, f"part-{part}.parquet"))

    def _table_file_metrics(self, table: str) -> list[tuple[str, int]]:
        import pyarrow.parquet as pq

        out = []
        for uri in sorted(self.spark.table(table).inputFiles()):
            path = uri.removeprefix("file:")
            if path.endswith(".parquet"):
                out.append(
                    (os.path.basename(path), pq.ParquetFile(path).metadata.num_rows)
                )
        return out

    def lineage(self) -> DataFrame:
        if self.table_prefix is not None:
            return self.spark.table(f"{self.table_prefix}_lineage")
        return self.spark.read.parquet(self._lineage_path())
