"""Exact per-group quantiles over integer-valued metrics — the corpus
curation dashboard primitive ("token-count P50/P95/P99 per language",
"chars-per-doc P99 per source") that decides filter thresholds and
packing sequence lengths.

Reference analog: grouped statistics extend the reference's aggregate
query family (SURVEY.md §2.4); the quantile form is engine machinery a
10^12-doc corpus needs (graft mandate: training-data pipeline
operators).

Exact at scale WITHOUT sorting the data: the naive exact path (window
rank over every row) dies when one group holds 10^10 rows — a single
partition must sort them. But corpus metrics are small-range INTEGERS
(token counts, char counts, scores quantized by the engine's micro-unit
idiom), so the distribution collapses losslessly to a per-(group,
value) histogram first: one map-side-combined aggregate over the big
axis, then the window cumulative sum runs over the HISTOGRAM (rows =
distinct values per group — thousands, not billions). Rank selection on
the cumulative histogram is exact by construction; no t-digest /
percentile_approx error bars.

Semantics: the discontinuous (type-1 / ``percentile_disc``-style)
quantile — the element at 1-based rank ``floor(q·(n−1)) + 1`` of the
ascending multiset. Always an actual data value (never interpolated),
which is also what keeps the cross-engine gate trivial: integer in,
integer out.

Sibling: ``functions/quantiles.integer_quantiles`` is the GLOBAL
(ungrouped) form of the same histogram method — its cumulative window
is necessarily single-partition (safe only because the input is the
histogram), while this grouped form partitions the window BY GROUP, so
the histogram scan parallelizes across groups too. Global = that
module; per-group = this one.
"""

from __future__ import annotations

import operator
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["histogram_quantiles", "trimmed_stats"]


def histogram_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    qs: Sequence[float],
) -> DataFrame:
    """(group, q, value) — the exact disc-quantile of ``value_col`` per
    ``group_col`` for every q in ``qs`` (each in [0, 1]; q = 0 is the
    min, q = 1 the max). NULL values are excluded. ``value_col`` should
    be integer-valued (see module docstring — that is what makes the
    histogram collapse lossless)."""
    if not qs:
        raise ValueError("qs must be non-empty")
    bad = [q for q in qs if not (0.0 <= float(q) <= 1.0)]
    if bad:
        raise ValueError(f"quantiles must be in [0, 1], got {bad}")

    hist = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("grp"), F.col(value_col).alias("value")
        )
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w_cum = Window.partitionBy("grp").orderBy("value")
    w_all = Window.partitionBy("grp")
    cum = hist.select(
        "grp",
        "value",
        "_c",
        F.sum("_c").over(w_cum).alias("_cm"),
        F.sum("_c").over(w_all).alias("_n"),
    )
    q_arr = F.array(*[F.lit(float(q)) for q in qs])
    r = (
        F.floor(F.col("q") * (F.col("_n") - 1).cast("double")).cast("long")
        + 1
    )
    return (
        cum.select("grp", "value", "_c", "_cm", "_n", F.explode(q_arr).alias("q"))
        .where((F.col("_cm") - F.col("_c") < r) & (r <= F.col("_cm")))
        .select(
            F.col("grp").alias(group_col),
            "q",
            F.col("value").alias(value_col),
        )
    )


def trimmed_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    trim_num: int = 1,
    trim_den: int = 10,
) -> DataFrame:
    """(group, n, n_trim, lo_cut, hi_cut, trimmed_mean_micro,
    winsor_mean_micro) — robust per-group means over integer metrics.

    The robust-aggregation member of the histogram family: with
    t = ⌊n·trim_num/trim_den⌋ rows trimmed from EACH tail of the
    ascending multiset, the trimmed mean averages ranks [t+1, n−t] and
    the winsorized mean replaces each trimmed tail by its nearest kept
    value (rank t+1 / rank n−t) before averaging all n — the standard
    outlier-robust pair (Tukey) for corpus dashboards where P99 docs
    would otherwise dominate a mean.

    Exactness: the trim count is an INTEGER rational of n (never a
    float fraction — ⌊0.1·n⌋ in IEEE can straddle the integer), tail
    sums come off the same cumulative histogram as
    ``histogram_quantiles`` (per-rank kept-count is pure integer
    interval arithmetic on the cumulative counts), and the two closing
    divisions are the only float ops — micro-quantized.  Groups left
    empty by trimming (n ≤ 2t) emit NULL means.

    Scale shape: identical to histogram_quantiles — one map-side
    combined histogram aggregate over the big axis, windows over the
    per-group HISTOGRAM only.
    """
    # integers only: they are spliced into the integer DIV below
    trim_num, trim_den = operator.index(trim_num), operator.index(trim_den)
    if trim_num < 0 or trim_den <= 0 or 2 * trim_num >= trim_den:
        raise ValueError(
            f"trim must satisfy 0 <= trim_num/trim_den < 0.5, got "
            f"{trim_num}/{trim_den}"
        )

    hist = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("grp"), F.col(value_col).alias("value")
        )
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w_cum = Window.partitionBy("grp").orderBy("value")
    w_all = Window.partitionBy("grp")
    cum = hist.select(
        "grp",
        "value",
        "_c",
        F.sum("_c").over(w_cum).alias("_cm"),
        F.sum("_c").over(w_all).alias("_n"),
    )
    # integer DIV: a double quotient rounds once n·trim_num passes 2^53
    t = F.expr(f"_n * {trim_num} div {trim_den}")
    lo = t + 1
    hi = F.col("_n") - t
    kept = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("_cm"), hi)
        - F.greatest(F.col("_cm") - F.col("_c") + 1, lo)
        + 1,
    )
    agg = cum.groupBy("grp").agg(
        F.first("_n").alias("n"),
        F.first(t).alias("n_trim"),
        F.sum(F.col("value") * kept).alias("_tsum"),
        F.min(F.when(F.col("_cm") >= lo, F.col("value"))).alias("lo_cut"),
        F.min(F.when(F.col("_cm") >= hi, F.col("value"))).alias("hi_cut"),
    )
    n_kept = F.col("n") - 2 * F.col("n_trim")
    tmean = F.when(
        n_kept > 0,
        F.round(
            F.col("_tsum").cast("double") / n_kept.cast("double") * 1e6, 0
        ).cast("long"),
    )
    wsum = (
        F.col("_tsum")
        + F.col("n_trim") * F.col("lo_cut")
        + F.col("n_trim") * F.col("hi_cut")
    )
    wmean = F.when(
        n_kept > 0,
        F.round(
            wsum.cast("double") / F.col("n").cast("double") * 1e6, 0
        ).cast("long"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n",
        "n_trim",
        "lo_cut",
        "hi_cut",
        tmean.alias("trimmed_mean_micro"),
        wmean.alias("winsor_mean_micro"),
    )
