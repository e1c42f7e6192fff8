"""Temporal joins Spark lacks natively: as-of join (latest right row at or
before each left timestamp, per key).

SURVEY.md §2.3 notes the reference never needs one (single-process, no
time-series joins) — but any event-log × snapshot workload at scale does
(trades×quotes, page×crawl-state). Implemented with the union + sorted
carry-forward plan, NOT a per-key range explosion:

1. union the two sides with a side tag,
2. one shuffle+sort per key on (ts, side-order),
3. ``last(right_cols, ignoreNulls)`` over the running window carries the
   most recent right row forward onto each left row.

Cost is a single exchange of |L|+|R| rows keyed by the join key — the
same shape as a sort-merge join, with skew handled by AQE. Ties
(right.ts == left.ts) match, mirroring DuckDB/pandas ASOF `>=` semantics;
among duplicate (key, ts) right rows the greatest right-column struct
wins (deterministic tertiary sort key — no dedupe precondition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str] | None = None,
) -> DataFrame:
    """Left as-of join: every left row + the latest right row with
    ``right_ts <= left_ts`` for the same key (right columns NULL when no
    prior right row exists)."""
    rcols = right_cols or [c for c in right.columns if c not in (key, right_ts)]

    l_tag = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_l"),
        F.lit(None).cast(
            right.select(F.struct(*[F.col(c) for c in rcols], F.col(right_ts).alias("_rts")).alias("s")).schema["s"].dataType
        ).alias("_r"),
    )
    r_tag = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(
            left.select(F.struct(*[F.col(c) for c in left.columns]).alias("s")).schema["s"].dataType
        ).alias("_l"),
        F.struct(*[F.col(c) for c in rcols], F.col(right_ts).alias("_rts")).alias("_r"),
    )
    # right rows sort BEFORE left rows at equal ts → `<=` match semantics.
    # "_r" is the tertiary key: among duplicate (key, ts) right rows the
    # greatest right struct (field order: rcols…, _rts) sorts last and
    # wins the carry-forward — deterministic without requiring callers to
    # dedupe the right side. Left rows carry _r = NULL (sorts first, and
    # their relative order cannot affect last(_r) anyway).
    w = Window.partitionBy("_k").orderBy("_ts", "_side", "_r").rowsBetween(
        Window.unboundedPreceding, 0
    )
    merged = l_tag.unionByName(r_tag).withColumn(
        "_rlast", F.last("_r", ignorenulls=True).over(w)
    )
    out = merged.filter(F.col("_side") == 1).select(
        *[F.col("_l")[c].alias(c) for c in left.columns],
        *[F.col("_rlast")[c].alias(c) for c in rcols],
        F.col("_rlast")["_rts"].alias("asof_ts"),
    )
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: float | None = None,
) -> DataFrame:
    """Interval-containment join (``start <= point <= end``) without the
    O(|L|·|R|) theta-join Spark would otherwise plan.

    Intervals explode to the fixed-width buckets they overlap; points
    key by their single bucket; a plain hash equi-join on the bucket
    meets only locally plausible pairs, and the exact containment filter
    refines. Each (point, interval) pair meets in exactly one bucket —
    the point's — so no dedup is needed. The same shape as the hex-cell
    prejoin, in one dimension.

    ``bucket_width`` is data-driven when omitted: the median interval
    width from a sample (the salt_plan precedent — constants from the
    data, not guesses). A very long interval costs width/bucket_width
    index rows; at planet scale the known refinement is a two-level
    bucket hierarchy for outlier intervals (documented, not needed at
    this corpus' spread).

    Columns are numeric (cast timestamps to epoch seconds first). Output:
    all left columns + all right columns (inner join semantics).
    """
    if bucket_width is None:
        # Median of the NONZERO interval widths (one aggregate): point
        # (zero-width) intervals are common and must not drag the bucket
        # width toward 0 — clamping a zero median to an epsilon would
        # make F.sequence emit ~width/epsilon rows for every real
        # interval, a silent OOM (ADVICE r2). When every interval is a
        # point (max width 0) the containment join degenerates to an
        # equi-join on the value itself.
        row = right.select(
            (F.col(end_col) - F.col(start_col)).cast("double").alias("w")
        ).agg(
            F.percentile_approx(
                F.when(F.col("w") > 0, F.col("w")), 0.5, 100
            ).alias("med_nz"),
            F.max("w").alias("mx"),
        ).collect()[0]
        if row.med_nz is not None and row.med_nz > 0:
            bucket_width = float(row.med_nz)
        elif row.mx is not None and row.mx > 0:
            bucket_width = float(row.mx)
        else:
            return (
                left.join(
                    right, left[point_col] == right[start_col], "inner"
                ).filter(
                    (F.col(point_col) >= F.col(start_col))
                    & (F.col(point_col) <= F.col(end_col))
                )
            )
    w = float(bucket_width)
    if w <= 0:
        raise ValueError(f"bucket_width must be > 0, got {w}")
    r = right.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / w).cast("long"),
                F.floor(F.col(end_col) / w).cast("long"),
            )
        ),
    )
    l = left.withColumn("_bucket", F.floor(F.col(point_col) / w).cast("long"))
    return (
        l.join(r, "_bucket")
        .filter(
            (F.col(point_col) >= F.col(start_col))
            & (F.col(point_col) <= F.col(end_col))
        )
        .drop("_bucket")
    )
