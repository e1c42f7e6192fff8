"""trimmed_stats vs an exact python replay."""

from __future__ import annotations

import math

import pytest

from osm_spark.text.quantiles import trimmed_stats

TN, TD = 1, 10


def _replay(groups: dict[str, list[int]]):
    out = {}
    for g, vals in groups.items():
        s = sorted(vals)
        n = len(s)
        t = n * TN // TD
        kept = s[t : n - t]
        lo_cut, hi_cut = s[t], s[n - t - 1]
        tmean = sum(kept) / len(kept) * 1e6
        wmean = (sum(kept) + t * lo_cut + t * hi_cut) / n * 1e6
        rnd = lambda x: int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))
        out[g] = (n, t, lo_cut, hi_cut, rnd(tmean), rnd(wmean))
    return out


@pytest.fixture(scope="module")
def groups():
    return {
        "a": [1, 2, 3, 4, 5, 6, 7, 8, 9, 1000],   # outlier: trim kills it
        "b": [5] * 7,                              # constant, n < 10 -> t = 0
        "c": list(range(100)) + [-500, 10_000],    # both tails
        "d": [42],                                 # singleton
    }


def test_trimmed_matches_replay(spark, groups):
    rows = [(g, v) for g, vals in groups.items() for v in vals]
    df = spark.createDataFrame(rows, "grp string, val long")
    got = {
        r.grp: (r.n, r.n_trim, r.lo_cut, r.hi_cut,
                r.trimmed_mean_micro, r.winsor_mean_micro)
        for r in trimmed_stats(df, "grp", "val", TN, TD).collect()
    }
    assert got == _replay(groups)
    # the outlier group's trimmed mean is robust (plain mean would be ~104.5)
    assert got["a"][4] == 5_500_000


def test_trimmed_zero_trim_is_plain_mean(spark, groups):
    rows = [("a", v) for v in groups["a"]]
    df = spark.createDataFrame(rows, "grp string, val long")
    r = trimmed_stats(df, "grp", "val", 0, 10).collect()[0]
    want = round(sum(groups["a"]) / len(groups["a"]) * 1e6)
    assert r.trimmed_mean_micro == r.winsor_mean_micro == want


def test_trimmed_validation(spark, groups):
    df = spark.createDataFrame([("a", 1)], "grp string, val long")
    with pytest.raises(ValueError):
        trimmed_stats(df, "grp", "val", 1, 2)  # trim = 0.5 not allowed
    with pytest.raises(ValueError):
        trimmed_stats(df, "grp", "val", -1, 10)
    with pytest.raises(TypeError):
        trimmed_stats(df, "grp", "val", 0.1, 1)  # spliced into integer DIV


# n·trim_num = 3·2^53 and trim_den = 3·2^53 + 1 round to the same double,
# so a float quotient floors to 1 where the exact trim count is 0.
BIG_TN, BIG_TD = 2**53, 3 * 2**53 + 1


def test_trim_count_is_integer_division_past_2_53(spark):
    df = spark.createDataFrame([("a", 1), ("a", 2), ("a", 3)], "grp string, val long")
    r = trimmed_stats(df, "grp", "val", BIG_TN, BIG_TD).collect()[0]
    assert (r.n, r.n_trim, r.lo_cut, r.hi_cut) == (3, 0, 1, 3)
    assert r.trimmed_mean_micro == 2_000_000


def test_trim_oracle_is_integer_division_past_2_53(monkeypatch):
    import duckdb

    import __spark_entry__ as entrymod

    monkeypatch.setattr(entrymod, "_TRIM_NUM", BIG_TN)
    monkeypatch.setattr(entrymod, "_TRIM_DEN", BIG_TD)
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM (VALUES ('a', 1), ('a', 2), "
        "('a', 3)) t(lang, n_chars)"
    )
    (row,) = con.sql(entrymod._trimmed_stats_oracle()).fetchall()
    assert row[:5] == ("a", 3, 0, 1, 3)
