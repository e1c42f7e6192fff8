"""blocklist_filter vs a python replay."""

from __future__ import annotations

import pytest

from osm_spark.text.blocklist import blocklist_filter

PATS = [("bad phrase", 3), ("mild", 1), ("worse", 2)]


@pytest.fixture(scope="module")
def dfs(spark):
    docs = spark.createDataFrame(
        [
            (1, "a clean document"),
            (2, "contains a BAD PHRASE here"),
            (3, "mild and worse together"),
            (4, "mildly matching substring"),  # 'mild' is a substring hit
            (5, ""),
        ],
        "doc_id long, text string",
    )
    pats = spark.createDataFrame(PATS, "pattern string, severity int")
    return docs, pats


def test_blocklist_matches_replay(spark, dfs):
    docs, pats = dfs
    got = {r.doc_id: (r.n_hits, r.hit_list, r.max_severity, r.keep)
           for r in blocklist_filter(docs, pats).collect()}
    want = {}
    for did, text in [(1, "a clean document"), (2, "contains a bad phrase here"),
                      (3, "mild and worse together"), (4, "mildly matching substring"), (5, "")]:
        hit = sorted(p for p, _ in PATS if p in text)
        sev = max([s for p, s in PATS if p in text], default=0)
        want[did] = (len(hit), ",".join(hit), sev, not hit)
    assert got == want
    assert got[2] == (1, "bad phrase", 3, False)
    assert got[3] == (2, "mild,worse", 2, False)
    assert got[4][3] is False  # substring semantics, by design
    assert got[1][3] and got[5][3]


def test_blocklist_empty_patterns_raises(spark, dfs):
    docs, _ = dfs
    empty = spark.createDataFrame([], "pattern string, severity int")
    with pytest.raises(ValueError):
        blocklist_filter(docs, empty)


def test_blocklist_uppercase_pattern_raises(spark, dfs):
    # text is matched lowercased: an uppercase pattern would never fire
    docs, _ = dfs
    pats = spark.createDataFrame([("Bad Phrase", 3)], "pattern string, severity int")
    with pytest.raises(ValueError, match="lowercase"):
        blocklist_filter(docs, pats)
