"""Memoized driver-side catalog-stat substitutes.

The engine's auto-strategy pattern (``salting.keyed_join``'s size
estimates, kNN's phase-1 builder, PIP covering estimates) decides a
physical plan from ONE bounded statistic — in production a
catalog/lineage stat read from Iceberg metadata, in this sandbox a count
job over the (small) dim.
Re-running that job on every invocation puts the planner inside the
measured hot path (BENCH r4: the kNN headline regressed 5.27→6.44 s
because phase-1 auto's node count ran inside the timed loop).

``memoized_count`` keys the result on the ANALYZED plan's
``semanticHash`` (stable across separately-constructed but semantically
identical DataFrames — verified: two independent builds of the same
plan hash equal), scoped per SparkSession, so repeated auto-strategy
probes over the same dim cost one job total per session.  Correctness
caveat by design: like a real catalog stat, the memo can go stale if
the UNDERLYING FILES behind an identical plan change mid-session; the
strategies consuming it only need order-of-magnitude sizes, so a stale
read moves a broadcast/shuffle threshold, never a result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["memoized_count", "memoized_first"]

_MEMO: dict[tuple[str, str, int], object] = {}
_MEMO_MAX = 1024


def memoized_count(df: DataFrame) -> int:
    """``df.count()`` memoized on (session, analyzed-plan semanticHash).

    The session key is the SparkContext's applicationId (unique per
    context — ``local-<startTimeMs>`` locally, the cluster manager's
    app id on a cluster), NOT ``id(session)``: a CPython object id can
    be REUSED after a stopped session is garbage-collected, which would
    serve a dead session's count for a semantically identical plan over
    different data (a broadcast decision made from another session's
    row count). Stale entries from stopped sessions age out via the
    size-capped clear.

    Falls back to a plain count when the JVM handle is unavailable
    (mocked DataFrames in unit tests)."""
    return _memoized(df, "count", lambda: df.count())


def memoized_first(df: DataFrame):
    """``df.first()`` memoized on the same (session, semanticHash) key —
    for the engine's 1-row scalar probes (``max_abs_lat`` bound
    aggregates in snap/radius/dbscan), which are catalog min/max stats
    in production and should cost one job per session here, the same
    contract as ``memoized_count``. The dbscan probe scans the BIG
    side, so repeated auto-planned calls pay the most without it."""
    return _memoized(df, "first", lambda: df.first())


def _memoized(df: DataFrame, kind: str, compute):
    try:
        key = (
            df.sparkSession.sparkContext.applicationId,
            kind,
            int(df._jdf.queryExecution().analyzed().semanticHash()),
        )
    except Exception:
        return compute()
    if key not in _MEMO:
        if len(_MEMO) >= _MEMO_MAX:
            _MEMO.clear()
        _MEMO[key] = compute()
    return _MEMO[key]
