"""k-truss (osm_spark/graph/ktruss.py): textbook fixtures, a python
peeling replay, and the core-vs-truss separation case."""

from __future__ import annotations

from itertools import combinations

import pytest

from osm_spark.graph.ktruss import ktruss


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src long, dst long"
    )


def _py_truss(pairs, k):
    edges = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    while True:
        nbrs: dict[int, set[int]] = {}
        for u, v in edges:
            nbrs.setdefault(u, set()).add(v)
            nbrs.setdefault(v, set()).add(u)
        sup = {
            (u, v): len(nbrs[u] & nbrs[v]) for u, v in edges
        }
        keep = {e for e in edges if sup[e] >= k - 2}
        if keep == edges:
            return {e: sup[e] for e in edges}
        edges = keep


def _collect(df):
    return {(r.u, r.v): r.support for r in df.collect()}


def test_clique_is_its_own_truss(spark):
    # K5: every edge in 3 triangles -> 5-truss, gone at k=6
    pairs = list(combinations(range(5), 2))
    got = _collect(ktruss(_edges(spark, pairs), k=5))
    assert got == {e: 3 for e in pairs}
    assert _collect(ktruss(_edges(spark, pairs), k=6)) == {}


def test_peeling_cascade_matches_python(spark):
    # K4 core with a pendant triangle and a tail: the tail dies at k=3,
    # the pendant triangle survives k=3 but dies at k=4
    pairs = list(combinations(range(4), 2))  # K4
    pairs += [(3, 4), (3, 5), (4, 5)]  # pendant triangle at vertex 3
    pairs += [(5, 6), (6, 7)]  # tail
    for k in (3, 4):
        assert _collect(ktruss(_edges(spark, pairs), k=k)) == _py_truss(pairs, k)
    assert (4, 5) in _collect(ktruss(_edges(spark, pairs), k=3))
    assert (4, 5) not in _collect(ktruss(_edges(spark, pairs), k=4))


def test_truss_stricter_than_core(spark):
    # C5 (5-cycle): every vertex degree 2 (the whole graph is a 2-core)
    # but it is triangle-free -> empty 3-truss
    pairs = [(i, (i + 1) % 5) for i in range(5)]
    from osm_spark.graph.kcore import kcore

    assert kcore(_edges(spark, pairs), k=2).count() == 5
    assert _collect(ktruss(_edges(spark, pairs), k=3)) == {}


def test_affine_fixture_matches_python(spark):
    n = 40
    pairs = [(i, (i * 7 + 1) % n) for i in range(n)]
    pairs += [(i, (i * 13 + 5) % n) for i in range(n)]
    pairs += [(i, (i * 31 + 11) % n) for i in range(n)]
    got = _collect(ktruss(_edges(spark, pairs), k=3))
    assert got == _py_truss(pairs, 3)


def test_k_validation(spark):
    with pytest.raises(ValueError):
        ktruss(_edges(spark, [(1, 2)]), k=1)

def _tube(length: int, ring: int = 5):
    """A triangulated cylinder: every edge lies in two triangles except
    the two boundary rings' edges, so at k=4 it peels one ring a round
    from each end."""
    v = lambda layer, j: layer * ring + j % ring  # noqa: E731
    pairs = []
    for layer in range(length + 1):
        for j in range(ring):
            pairs.append((v(layer, j), v(layer, j + 1)))
            if layer < length:
                pairs += [(v(layer, j), v(layer + 1, j)), (v(layer, j), v(layer + 1, j + 1))]
    return pairs


# Smallest converging max_iter on the tube + K5 below, measured before the
# convergence count moved onto each round's write (it was a separate count
# job): observing it must add or drop no round.
KTRUSS_TUBE_ROUNDS = 7


def test_ktruss_smallest_max_iter_pinned(spark):
    pairs = _tube(5) + [(1000 + a, 1000 + b) for a, b in combinations(range(5), 2)]
    df = _edges(spark, pairs)
    # the tube peels away entirely; the K5 is the 4-truss
    assert _collect(ktruss(df, k=4, max_iter=KTRUSS_TUBE_ROUNDS)) == _py_truss(pairs, 4)
    with pytest.raises(RuntimeError, match="did not converge"):
        ktruss(df, k=4, max_iter=KTRUSS_TUBE_ROUNDS - 1)
