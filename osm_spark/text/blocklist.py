"""Multi-pattern blocklist filtering — the safety/compliance gate of the
corpus pipeline (ban-phrase screening before training-data admission).

The pattern set is a curated small dim (hundreds to low thousands of
phrases — the same cardinality class as the IVF centroid table), so the
engine pulls it to the driver ONCE (bounded collect, the documented
stat-dim exception) and folds it into a literal array: matching is then
``filter(patterns, p -> contains(text, p))`` — pure whole-stage-codegen
Column work, ONE pass over each document, zero shuffle, zero UDF, and
the pattern dim never enters a join.  Per-doc cost is O(len · |P|)
character scanning; for pattern sets large enough that this beats the
memory bus, the drop-in CPU refinement is an Aho-Corasick automaton in
a ``mapInPandas`` batch (same data shape — still no shuffle) — the
default stays codegen because |P| is small by curation and JVM substring
scanning beats a Python automaton until |P| is in the tens of thousands.

Semantics are EXISTENCE per pattern (matched or not — not occurrence
counts), over lowercased text; the verdict row carries the sorted hit
list and the worst severity so downstream quarantine routing
(`text/analysis.py` conventions) can triage without re-scanning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["blocklist_filter"]


def blocklist_filter(
    docs: DataFrame,
    patterns: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_hits, hit_list, max_severity, keep) — one row per doc.

    ``patterns``: (pattern string, severity int) — a bounded curated dim
    (driver-collected; document the cardinality contract at call sites).
    Patterns must be lowercase: the text is lowercased before matching,
    so an uppercase pattern could never fire (raises ``ValueError``).
    ``hit_list`` is the comma-joined sorted set of matched patterns,
    ``max_severity`` the worst matched severity (0 when clean),
    ``keep`` true iff nothing matched.
    """
    rows = sorted(
        patterns.select("pattern", "severity").collect(),
        key=lambda r: (r.pattern, r.severity),
    )
    if not rows:
        raise ValueError("blocklist_filter: empty pattern table")
    upper = [r.pattern for r in rows if r.pattern != r.pattern.lower()]
    if upper:
        raise ValueError(
            "blocklist_filter: patterns must be lowercase (text is matched "
            f"lowercased, so these could never match): {upper}"
        )
    arr = F.array(
        *[
            F.struct(
                F.lit(r.pattern).alias("pattern"),
                F.lit(int(r.severity)).alias("severity"),
            )
            for r in rows
        ]
    )
    low = F.lower(F.col(text_col))
    hits = F.filter(arr, lambda x: F.contains(low, x["pattern"]))
    return docs.select(
        F.col(id_col),
        F.size(hits).alias("n_hits"),
        F.array_join(
            F.array_sort(F.transform(hits, lambda x: x["pattern"])), ","
        ).alias("hit_list"),
        F.coalesce(
            F.array_max(F.transform(hits, lambda x: x["severity"])), F.lit(0)
        ).alias("max_severity"),
        (F.size(hits) == 0).alias("keep"),
    )
