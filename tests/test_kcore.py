"""k-core peeling: brute force, known graphs, convergence contract."""

from __future__ import annotations

from itertools import combinations

import numpy as np
import pytest

from osm_spark.graph.kcore import kcore


def _brute(edge_list, k):
    """Sequential peel (order-independent fixpoint)."""
    adj = {}
    for a, b in edge_list:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for v in list(adj):
            if len(adj[v]) < k:
                for u in adj.pop(v):
                    adj[u].discard(v)
                changed = True
    return {v: len(nbrs) for v, nbrs in adj.items()}


def _run(spark, edge_list, k, **kw):
    df = spark.createDataFrame(edge_list, "src long, dst long")
    return {r.id: r.deg for r in kcore(df, k, **kw).collect()}


def test_kcore_triangle_with_tail(spark):
    # triangle 0-1-2 with tail 2-3-4: the 2-core is the triangle alone
    g = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)]
    assert _run(spark, g, 2) == {0: 2, 1: 2, 2: 2}
    assert _run(spark, g, 2) == _brute(g, 2)


def test_kcore_k4_and_empty_core(spark):
    k4 = list(combinations(range(4), 2))
    assert _run(spark, k4, 3) == {v: 3 for v in range(4)}
    # no 4-core exists in K4
    assert _run(spark, k4, 4) == {}


def test_kcore_path_peels_fully(spark):
    path = [(i, i + 1) for i in range(8)]
    assert _run(spark, path, 2) == {}


def test_kcore_random_vs_brute(spark):
    rng = np.random.RandomState(11)
    edges = list({(int(a), int(b)) for a, b in rng.randint(0, 30, size=(120, 2))})
    for k in (2, 3, 4):
        assert _run(spark, edges, k) == _brute(edges, k), f"k={k}"


def test_kcore_direction_dups_self_loops(spark):
    base = [(0, 1), (1, 2), (0, 2)]
    messy = base + [(b, a) for a, b in base] + [(0, 0), (1, 1)]
    assert _run(spark, messy, 2) == _brute(base, 2)


def test_kcore_nonconvergence_raises(spark):
    # a 12-chain needs 6 synchronous rounds; max_iter=2 must raise
    path = [(i, i + 1) for i in range(12)] + [(100, 101), (101, 102), (100, 102)]
    with pytest.raises(RuntimeError, match="did not converge"):
        _run(spark, path, 2, max_iter=2)


def test_kcore_rejects_bad_k(spark):
    import pyspark.sql.functions as F  # noqa: F401

    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError):
        kcore(df, 0)


# Smallest converging max_iter on the peel chain below, measured before
# the convergence count moved onto each round's write (it was a separate
# count job): observing it must add or drop no round.
KCORE_CHAIN_ROUNDS = 7


def test_kcore_smallest_max_iter_pinned(spark):
    # the 12-chain peels two edges a round (6 rounds to empty), then one
    # round sees the triangle unchanged
    path = [(i, i + 1) for i in range(12)] + [(100, 101), (101, 102), (100, 102)]
    assert _run(spark, path, 2, max_iter=KCORE_CHAIN_ROUNDS) == {100: 2, 101: 2, 102: 2}
    with pytest.raises(RuntimeError, match="did not converge"):
        _run(spark, path, 2, max_iter=KCORE_CHAIN_ROUNDS - 1)
