"""The physical form of every cell-keyed equi-join outside the PIP ladder.

kNN phase 2, ``radius_join``, ``snap_candidates``, DBSCAN's
``eps_pairs``, the trajectory joins, ``segment_crossings``, the robots
rule dim and the LM vocab join all end in one choice for their keyed
join: broadcast the small side, shuffle-hash it, or salt it.
``keyed_join`` makes that choice from one ceiling
(``BROADCAST_MAX_BYTES``); each caller supplies only its own size
statistic as an estimate in bytes.

Salting exists because at the 10^12-page design point a Zipf urban cell
puts ~20 % of a cell-keyed shuffle on one task. AQE's runtime split
rebalances shuffle BLOCKS of the probe side but cannot re-key the join,
so one straggler task still owns the hot cell's build+probe work.

- ``key_salt_plan(df, key)`` — per-key split factors from the data's
  own histogram (north_rule: "salt factor must come from data, not
  constants"). Hot keys only; cold keys are implicitly k=1 and pay one
  broadcast lookup + a 1-element explode.
- ``salted_equi_join(big, small, key, salts, scatter_col)`` — big-side
  rows in a hot key scatter over ``pmod(xxhash64(scatter_col), k)``
  buckets; the small side's rows for that key replicate into all k
  buckets; the join key becomes (key, _salt), hinted shuffle_hash so
  the statless small side never falls back to a SortMergeJoin that
  would sort the big side.

Cost model: replication multiplies only the HOT keys' small-side rows
(bounded: candidate sets are (k+ε)-sized for kNN, ring-disk-sized for
radius/DBSCAN), while the big side — the 10^12-row axis — is never
replicated, only scattered. Same invariants as the PIP plan.

The PIP family keeps its own ladder (``spatial_join._pip_candidates``):
it counts covering cells against ``BROADCAST_MAX_CELLS``, the same count
also drives its vertex attach, and its two-side way-level salt derives
WAY split factors from the hot-CELL plan — a shape this generic join
does not carry. tests/test_salting.py and tests/test_plans.py pin the
shared salt invariants on both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "BROADCAST_MAX_BYTES",
    "HOT_KEY_TARGET",
    "keyed_join",
    "key_salt_plan",
    "salted_equi_join",
]

# Small-side bytes above which a keyed join stops broadcasting: far under
# Spark's 8 GB broadcast hard ceiling and a sane per-executor memory bite.
BROADCAST_MAX_BYTES = 256 * 1024 * 1024

# rows per task a single key may own before it splits — matches the PIP
# family's HOT_CELL_TARGET (spatial_join.py) so one mental model covers
# every cell-keyed join in the engine
HOT_KEY_TARGET = 50_000


def key_salt_plan(
    df: DataFrame, key: str, target: int = HOT_KEY_TARGET
) -> DataFrame:
    """Per-key salt factors ``(key, _k)`` from the data's histogram —
    rows only for keys whose count exceeds ``target``. One combiner-
    reduced aggregate over the key column; in production the same
    histogram comes from partition-level lineage metrics (lineage.py)
    so no extra pass is needed."""
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > target)
        .select(
            F.col(key),
            F.ceil(F.col("_n") / target).cast("int").alias("_k"),
        )
    )


def salted_equi_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salts: DataFrame,
    scatter_col: str,
) -> DataFrame:
    """Inner equi-join on ``key`` with explicit hot-key splitting.

    ``salts`` is a ``key_salt_plan`` result (or any ``(key, _k)``
    table — broadcast twice, it is hot-keys-only and tiny by
    construction). ``scatter_col`` must be a stable per-row identity on
    the big side (url, point id) so the scatter is deterministic and
    partitioning-invariant. Returns exactly the rows the unsalted join
    returns (tested per caller), with ``_salt`` dropped."""
    b = (
        big.join(F.broadcast(salts), key, "left")
        .withColumn(
            "_salt",
            F.when(
                F.col("_k").isNotNull(),
                F.pmod(F.xxhash64(scatter_col), F.col("_k")),
            )
            .otherwise(F.lit(0))
            .cast("int"),
        )
        .drop("_k")
    )
    s = small.join(F.broadcast(salts), key, "left").select(
        *small.columns,
        F.explode(
            F.sequence(F.lit(0), F.coalesce(F.col("_k") - 1, F.lit(0)))
        ).alias("_salt"),
    )
    return b.join(s.hint("shuffle_hash"), [key, "_salt"]).drop("_salt")


def keyed_join(
    big: DataFrame,
    small: DataFrame,
    on,
    strategy: str,
    *,
    est_bytes: float | None = None,
    salts: DataFrame | None = None,
    scatter: str | None = None,
    how: str = "inner",
    label: str = "join",
) -> DataFrame:
    """``big`` joined to ``small`` on ``on`` in the physical form
    ``strategy`` names; results are identical on every form, only the
    plan differs.

    - ``'broadcast'``: ``small`` broadcasts; ``big`` never shuffles.
    - ``'shuffle'``: shuffle hash join, ``small`` builds the hash table —
      one exchange per side, never a sort-merge sort of ``big``.
    - ``'salted'``: ``salted_equi_join`` on the key ``on`` with
      ``salts`` (``key_salt_plan(big, on)`` when None) and the big-side
      row identity ``scatter``. Inner joins with a scatter column only.
    - ``'auto'``: broadcast when ``est_bytes`` (the caller's estimate of
      the small side's bytes) is at most ``BROADCAST_MAX_BYTES``, else
      shuffle. Without an estimate the join is PINNED shuffle-hash:
      join-strategy hints precede size-based selection in JoinSelection,
      at static planning AND at AQE re-planning, so the hinted join never
      upgrades to broadcast. That upgrade is traded away on purpose:
      unhinted, the static planner picks SortMergeJoin for a small side
      with no usable stats (an aggregate, a Generate) and the worst case
      SORTS the 10^12-row big side; hinted, the worst case is the
      intended shuffle-hash plan.

    An unknown strategy raises ``ValueError`` naming ``label``, the
    caller's parameter."""
    if strategy == "auto":
        fits = est_bytes is not None and est_bytes <= BROADCAST_MAX_BYTES
        strategy = "broadcast" if fits else "shuffle"
    if strategy == "broadcast":
        return big.join(F.broadcast(small), on, how)
    if strategy == "shuffle":
        return big.join(small.hint("shuffle_hash"), on, how)
    if strategy == "salted" and scatter is not None and how == "inner":
        if salts is None:
            salts = key_salt_plan(big, on)
        return salted_equi_join(big, small, on, salts, scatter)
    raise ValueError(f"unknown {label} strategy: {strategy!r}")
