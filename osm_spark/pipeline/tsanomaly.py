"""Trailing-window z-score anomalies over a time-bucket rollup.

The timeseries twin of the raster anomaly detector (geo/anomaly.py):
given the hypertable rollup's (key, bucket, sum_micro) series, flag
buckets whose value deviates from the TRAILING window's mean by more
than ``threshold`` standard deviations — the classic ops-monitoring
primitive (error-rate spike per region, traffic collapse per host).

Exactness: the rolling moments come from INTEGER sums over the
already-quantized ``sum_micro`` longs (Σx, Σx², count over a bounded
rowsBetween frame), so they are order-independent exact bigints; the
z-score closes with one IEEE double expression (mean, the UNBIASED
sample variance (Σx² − (Σx)²/n)/(n−1), sqrt — all correctly rounded),
floor'd to milli. Frames with < ``min_history`` observations or zero
variance emit NULL z (warm-up / constant series are not anomalies).

Scale shape: ONE window partitioned by the series key with a bounded
row frame — state per task is ``window`` rows of three longs, and
parallelism is the key cardinality (the gap_fill note about
buckets-per-key skew applies identically). No self-join, no global
sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

Z_SCALE = 1_000  # milli-units carried by the z-score

__all__ = ["rollup_anomalies", "ewma_smooth"]


def rollup_anomalies(
    rolled: DataFrame,
    *,
    key_col: str = "key",
    bucket_col: str = "bucket",
    val_col: str = "sum_micro",
    window: int = 24,
    min_history: int = 8,
    threshold: float = 3.0,
) -> DataFrame:
    """(key, bucket, <val>, n_hist, z_milli, is_anomaly) per input row:
    z against the trailing ``window`` buckets (current row EXCLUDED —
    an anomaly must not mask itself)."""
    w = (
        Window.partitionBy(key_col)
        .orderBy(bucket_col)
        .rowsBetween(-int(window), -1)
    )
    x = F.col(val_col).cast("long")
    n = F.count(val_col).over(w)
    sx = F.sum(x).over(w)
    sxx = F.sum(x * x).over(w)
    nd = n.cast("double")
    mean = sx.cast("double") / nd
    var = (sxx.cast("double") - sx.cast("double") * sx.cast("double") / nd) / (
        nd - F.lit(1.0)
    )
    z = (x.cast("double") - mean) / F.sqrt(var)
    z_ok = (n >= F.lit(int(min_history))) & (var > 0)
    z_milli = F.when(
        z_ok, F.floor(F.lit(float(Z_SCALE)) * z).cast("long")
    )
    return rolled.select(
        key_col,
        bucket_col,
        val_col,
        n.alias("n_hist"),
        z_milli.alias("z_milli"),
        F.when(z_ok, F.abs(z) > F.lit(float(threshold)))
        .otherwise(F.lit(False))
        .alias("is_anomaly"),
    )


def ewma_smooth(
    rolled: DataFrame,
    *,
    key_col: str = "key",
    bucket_col: str = "bucket",
    val_col: str = "sum_micro",
    window: int = 8,
    k: int = 1,
) -> DataFrame:
    """(key, bucket, <val>, n_used, ewma_micro) — truncated dyadic EWMA
    over the trailing ``window`` observations (row-based, current row
    included): α = 1/2^k via INTEGER weights w_j = (2^k−1)^j·2^(k·(W−1−j))
    for lag j, renormalized over the lags that exist — so the smoother is
    exact integer arithmetic up to ONE closing rounded division, the
    engine's standard micro-quantization contract (no float-pow drift,
    no recursive state).

    The geometric kernel truncates at W steps (weight ratio beyond W is
    ≤ (1−α)^W — pick W so that's below the micro quantum); truncation is
    what makes the operator a BOUNDED window over the rollup rather than
    an order-dependent running fold, so it parallelizes per key exactly
    like ``rollup_anomalies`` and replays in any engine with LAG.
    Row-based frames make warm-up explicit (``n_used``); run it over
    ``gap_fill`` output when the time axis must be regular.

    Values must satisfy |val| ≤ 2^40 (≈1.1·10^12 micro-units). The
    numerator is at most the weight sum base^W − (base−1)^W times that
    bound, so ``window`` and ``k`` are rejected when the product passes
    the bigint range (k = 1 allows window ≤ 23).
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    base, decay = 2 ** k, 2 ** k - 1
    # Σ_j w_j = base^W − decay^W (geometric, base − decay = 1); the
    # numerator Σ_j w_j·x_j stays within it times max |x| = 2^40
    if (base ** window - decay ** window) << 40 > 2 ** 63 - 1:
        raise ValueError(
            f"window={window}, k={k}: the weight sum times 2^40 (the largest "
            "|value| allowed) overflows a bigint — lower window or k"
        )
    w = Window.partitionBy(key_col).orderBy(bucket_col)
    x = F.col(val_col).cast("long")

    num = F.lit(0).cast("long")
    den = F.lit(0).cast("long")
    n_used = F.lit(0)
    for j in range(window):
        wj = decay ** j * base ** (window - 1 - j)
        lx = F.lag(x, j).over(w) if j else x
        num = num + F.coalesce(lx * F.lit(wj), F.lit(0))
        den = den + F.when(lx.isNotNull(), F.lit(wj)).otherwise(F.lit(0))
        n_used = n_used + F.when(lx.isNotNull(), F.lit(1)).otherwise(F.lit(0))

    return rolled.select(
        F.col(key_col).alias("key"),
        F.col(bucket_col).alias("bucket"),
        F.col(val_col),
        n_used.cast("int").alias("n_used"),
        F.round(num.cast("double") / den.cast("double"), 0)
        .cast("long")
        .alias("ewma_micro"),
    )
