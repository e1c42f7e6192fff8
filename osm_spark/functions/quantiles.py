"""Exact quantiles over integer columns — without a global sort.

The robust-statistics primitive under corpus cleaning ("drop documents
outside the p1–p99 length band", "cap token counts at p99.9"):
percentile_approx trades exactness for scale and a naive
percent_rank window trades scale for exactness (it is ONE GLOBAL SORT
of the data). For an INTEGER-VALUED column there is a third way that is
both: the exact histogram method —

1. groupBy(value) count — the only data-sized pass, map-side combined;
   output is |distinct values| rows (an integer column's distinct count
   is bounded by its RANGE — n_chars, token counts, status codes are
   thousands-to-millions of distinct values at ANY corpus size).
2. cumulative counts over the value-sorted HISTOGRAM — a single-
   partition window, safe by construction because its input is the
   histogram, never the data (documented loudly; the plan never sorts
   the corpus).
3. nearest-rank selection: q(p) = smallest v with cum ≥ ceil(p·N) —
   the classic definition, integer-deterministic, SQL-replayable.

Every output is an exact integer — value-hash gateable with no
quantization at all.

Sibling: ``text/quantiles.histogram_quantiles`` is the GROUPED form of
the same histogram method (per-language / per-source dashboards) —
its cumulative window partitions by the group key, so use it whenever
a group column exists; this module is the global-scalar case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def integer_quantiles(
    df: DataFrame, col: str, probs: list[float]
) -> DataFrame:
    """(prob_pmille, value, rank_needed, n_total) — exact nearest-rank
    quantiles of an integer column; prob_pmille = round(p·1000) keys the
    output (integer, so the gate needs no float column)."""
    if not probs:
        raise ValueError("probs must be non-empty")
    if any(not (0.0 < p <= 1.0) for p in probs):
        raise ValueError(f"probs must be in (0, 1], got {probs}")
    hist = df.groupBy(F.col(col).alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    # single-partition window over the HISTOGRAM (|distinct| rows), not
    # the data — see module docstring
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "v", F.sum("c").over(w).alias("cum")
    ).crossJoin(F.broadcast(hist.agg(F.sum("c").alias("n_total"))))
    out = None
    for p in probs:
        pm = int(round(p * 1000))
        need = F.ceil(F.lit(p) * F.col("n_total")).cast("long")
        q = (
            cum.where(F.col("cum") >= need)
            .groupBy()
            .agg(
                F.min("v").alias("value"),
                F.first(need).alias("rank_needed"),
                F.first("n_total").alias("n_total"),
            )
            .select(
                F.lit(pm).alias("prob_pmille"),
                "value",
                "rank_needed",
                "n_total",
            )
        )
        out = q if out is None else out.unionByName(q)
    return out

