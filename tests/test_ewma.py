"""ewma_smooth vs an exact-integer python replay."""

from __future__ import annotations

import pytest

from osm_spark.pipeline.tsanomaly import ewma_smooth

W, K = 4, 1


def _replay(series: dict[str, list[tuple[int, int]]]):
    out = {}
    base, decay = 2 ** K, 2 ** K - 1
    for key, pts in series.items():
        pts = sorted(pts)
        for i, (b, v) in enumerate(pts):
            num = den = used = 0
            for j in range(W):
                if i - j < 0:
                    continue
                wj = decay ** j * base ** (W - 1 - j)
                num += pts[i - j][1] * wj
                den += wj
                used += 1
            r = num / den
            import math
            ew = int(math.floor(r + 0.5)) if r >= 0 else -int(math.floor(-r + 0.5))
            out[(key, b)] = (v, used, ew)
    return out


@pytest.fixture(scope="module")
def series():
    return {
        "a": [(0, 100), (1, 200), (2, 0), (3, 400), (4, 100), (5, -300)],
        "b": [(10, 7), (12, 9)],  # short series: warm-up normalization
        "c": [(0, 5)],
    }


def test_ewma_matches_replay(spark, series):
    rows = [(k, b, v) for k, pts in series.items() for b, v in pts]
    df = spark.createDataFrame(rows, "key string, bucket long, sum_micro long")
    got = {(r.key, r.bucket): (r.sum_micro, r.n_used, r.ewma_micro)
           for r in ewma_smooth(df, window=W, k=K).collect()}
    assert got == _replay(series)


def test_ewma_weights_favor_recent(spark):
    # step series: EWMA after the step is closer to the new level
    rows = [("s", b, 0) for b in range(4)] + [("s", 4, 1000)]
    df = spark.createDataFrame(rows, "key string, bucket long, sum_micro long")
    r = {x.bucket: x.ewma_micro for x in ewma_smooth(df, window=W, k=K).collect()}
    assert r[4] > 500  # weight 8/15 on the newest point


def test_ewma_constant_series_is_identity(spark):
    rows = [("s", b, 42) for b in range(6)]
    df = spark.createDataFrame(rows, "key string, bucket long, sum_micro long")
    assert all(
        r.ewma_micro == 42 for r in ewma_smooth(df, window=W, k=K).collect()
    )


def test_ewma_validation(spark):
    df = spark.createDataFrame([("s", 0, 1)], "key string, bucket long, sum_micro long")
    with pytest.raises(ValueError):
        ewma_smooth(df, window=0)
    with pytest.raises(ValueError):
        ewma_smooth(df, k=0)
    with pytest.raises(ValueError):
        ewma_smooth(df, window=42, k=1)


@pytest.mark.parametrize("k, w_max", [(1, 23), (2, 11)])
def test_ewma_overflow_guard_at_its_edge(spark, k, w_max):
    """The weight sum times the documented max |value| (2^40) must fit a
    bigint: the last window inside computes exactly at ±2^40, one more
    lag raises."""
    top = 2**40
    rows = [("p", b, top) for b in range(w_max + 2)] + [("n", b, -top) for b in range(w_max + 2)]
    df = spark.createDataFrame(rows, "key string, bucket long, sum_micro long")
    got = {(r.key, r.ewma_micro) for r in ewma_smooth(df, window=w_max, k=k).collect()}
    assert got == {("p", top), ("n", -top)}
    with pytest.raises(ValueError, match="overflows a bigint"):
        ewma_smooth(df, window=w_max + 1, k=k)
