"""Robots-style URL rule filtering — longest-prefix-match allow/deny.

The crawl-policy primitive that pairs with the frontier sharder
(pipeline/frontier.py): a per-host rule table ``(host, prefix, allow)``
decides each URL by the LONGEST matching path prefix (the robots.txt
most-specific-rule convention, ties broken allow-wins like Google's
documented tie-break), default allow when no rule matches.

Scale shape: the rule table is a policy dim (millions of hosts × a few
rules — broadcastable; past the ceiling the same equi-join on host
hash-joins), URLs join on host only, prefix matching and the
longest-match argmin run as pure-Column expressions BEFORE any further
exchange: one ``min(struct(-len, !allow))`` per URL via a map-side
combined aggregate keyed on the URL — no window over the page table.

Reference parity: robertgauld/osm gates API access per-section via
permission lookups (lib/osm/model.rb user permissions); this is the
same decide-by-most-specific-rule shape applied to crawl policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from osm_spark.functions.urls import url_host
from osm_spark.pipeline.salting import keyed_join

__all__ = ["apply_url_rules"]

# host(string ~40B) + prefix(string ~20B) + bool, struct overhead
_RULE_ROW_BYTES = 72


def apply_url_rules(
    urls: DataFrame,
    rules: DataFrame,
    *,
    url_col: str = "url",
    strategy: str = "auto",
    n_rules: int | None = None,
) -> DataFrame:
    """Filter ``urls`` by the rule table: returns the input columns plus
    ``allowed`` (boolean) and ``matched_prefix`` (NULL when no rule
    matched — default allow).  ``rules`` columns: host, prefix, allow.

    ``strategy``: "broadcast", "shuffle" or "auto" (default) — the rule
    dim's join form (``salting.keyed_join``). Auto broadcasts while
    ``n_rules`` × 72 B fits: a curated per-host policy table (thousands
    of hosts) broadcasts, a web-scale robots corpus (millions of hosts ×
    a few rules ≈ GBs) hash-joins on host with the rule dim as the build
    side, never a sort-merge over the page table. ``n_rules`` threads a
    catalog/lineage stat in, else one memoized count runs.

    A URL whose host HAS rules but matches none of their prefixes is
    default-allowed exactly like an unruled host: non-matching rules
    contribute NULL to the longest-match aggregate (the match test is
    folded into the aggregate guard, NOT a pre-aggregate filter — a
    filter would drop the URL row entirely), so the coalesce(TRUE)
    default fires with matched_prefix NULL.

    The path is extracted with the engine's canonical host/path parsing
    (functions/urls.py) so rules see the same path the dedup and
    rollup operators see.  Exact-duplicate url ROWS collapse (the
    longest-match aggregate groups on the input columns) — feed a
    deduped frontier, which is what the crawl pipeline produces."""
    u = urls.withColumn("_host", url_host(F.col(url_col)))
    # path = everything from the first '/' after the authority; '' if none
    after = F.substring_index(
        F.substring_index(F.col(url_col), "://", -1), "?", 1
    )
    slash = F.instr(after, "/")
    path = F.when(slash > 0, F.expr("substr(_after, _slash)")).otherwise(
        F.lit("/")
    )
    u = (
        u.withColumn("_after", after)
        .withColumn("_slash", slash)
        .withColumn("_path", path)
        .drop("_after", "_slash")
    )
    r = rules.select(
        F.col("host").alias("_host"),
        F.col("prefix").alias("_prefix"),
        F.col("allow").cast("boolean").alias("_allow"),
    )
    if strategy == "auto" and n_rules is None:
        from osm_spark.pipeline.stats import memoized_count

        n_rules = memoized_count(rules)
    est = None if n_rules is None else n_rules * _RULE_ROW_BYTES
    joined = keyed_join(
        u, r, "_host", strategy, est_bytes=est, how="left", label="rules"
    )
    # most-specific rule: longest prefix wins; equal-length tie → allow
    # wins (sort key: (-len, allow DESC) via boolean NOT).  The prefix
    # MATCH test lives here in the aggregate guard: rules that exist for
    # the host but don't match the path yield NULL structs, keeping the
    # URL row alive for the default-allow coalesce below.
    pick = F.min(
        F.when(
            F.col("_prefix").isNotNull()
            & F.col("_path").startswith(F.col("_prefix")),
            F.struct(
                (-F.length("_prefix")).alias("neg_len"),
                (~F.col("_allow")).alias("deny_first"),
                F.col("_prefix").alias("prefix"),
                F.col("_allow").alias("allow"),
            ),
        )
    ).alias("_best")
    keys = [c for c in urls.columns]
    out = (
        joined.groupBy(*keys, "_host", "_path")
        .agg(pick)
        .select(
            *keys,
            F.coalesce(F.col("_best.allow"), F.lit(True)).alias("allowed"),
            F.col("_best.prefix").alias("matched_prefix"),
        )
    )
    return out
