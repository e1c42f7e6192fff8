"""URL rule filtering (pipeline/robots.py): longest-prefix-match,
allow-wins ties, default allow, path extraction edges."""

from __future__ import annotations

from osm_spark.pipeline.robots import apply_url_rules
from osm_spark.pipeline.salting import BROADCAST_MAX_BYTES

RULES = [
    ("a.com", "/", False),          # deny all...
    ("a.com", "/public", True),     # ...except /public
    ("a.com", "/public/tmp", False),  # ...except its /tmp subtree
    ("b.com", "/x", True),
    ("b.com", "/x", False),         # equal length: allow wins
]

URLS = [
    (1, "http://a.com/public/page"),
    (2, "http://a.com/public/tmp/file"),
    (3, "http://a.com/private"),
    (4, "http://a.com"),             # no path -> '/' -> deny-all matches
    (5, "http://b.com/x?q=/public"),  # query must not count as path
    (6, "http://c.com/anything"),    # no rules for host -> default allow
    (7, "http://b.com/y"),  # host HAS rules, none match -> default allow
]


def _run(spark):
    u = spark.createDataFrame(URLS, "id int, url string")
    r = spark.createDataFrame(RULES, "host string, prefix string, allow boolean")
    return {
        row.id: (row.allowed, row.matched_prefix)
        for row in apply_url_rules(u, r).collect()
    }


def test_rule_semantics(spark):
    got = _run(spark)
    assert got[1] == (True, "/public")
    assert got[2] == (False, "/public/tmp")
    assert got[3] == (False, "/")
    assert got[4] == (False, "/")
    assert got[5] == (True, "/x")  # allow wins the equal-length tie
    assert got[6] == (True, None)
    # ruled host, no matching prefix: the URL must SURVIVE with the
    # default allow, not be dropped by a pre-aggregate filter
    assert got[7] == (True, None)
    assert len(got) == len(URLS)


def test_rules_join_is_broadcast(spark):
    u = spark.createDataFrame(URLS, "id int, url string")
    r = spark.createDataFrame(RULES, "host string, prefix string, allow boolean")
    plan = (
        apply_url_rules(u, r, n_rules=len(RULES))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


def test_rules_join_shuffles_past_ceiling(spark):
    """Past the broadcast ceiling the auto path hash-joins on host —
    no BroadcastExchange, no SortMergeJoin over the page table."""
    u = spark.createDataFrame(URLS, "id int, url string")
    r = spark.createDataFrame(RULES, "host string, prefix string, allow boolean")
    big = BROADCAST_MAX_BYTES  # rule-count stat past the ceiling
    out = apply_url_rules(u, r, n_rules=big)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan
    # semantics identical on both paths
    got = {row.id: (row.allowed, row.matched_prefix) for row in out.collect()}
    assert got[7] == (True, None)
    assert got[1] == (True, "/public")
