"""Web-graph operators vs pure-Python oracles."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

import osm_spark.graph.components as components
from osm_spark.graph.components import connected_components, dedup_clusters
from osm_spark.graph.pagerank import SCALE, out_degrees, pagerank, vertex_ids


def _py_pagerank(edges, n_iter, scale=SCALE, num=85, den=100):
    """Reference replay of the exact integer recurrence."""
    verts = sorted({u for e in edges for u in e})
    n = len(verts)
    deg: dict[int, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    r = {v: scale // n for v in verts}
    base = ((den - num) * scale) // (den * n)
    for _ in range(n_iter):
        dang = sum(r[v] for v in verts if v not in deg)
        nxt = {v: base + (num * dang) // (den * n) for v in verts}
        for s, d in edges:
            nxt[d] += (num * r[s]) // (den * deg[s])
        r = nxt
    return r


def _union_find(pairs):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@pytest.fixture()
def star_chain_edges():
    # star 0->{1,2,3}, chain 10->11->12, dangling sink 12, cycle 20<->21
    return [
        (0, 1), (0, 2), (0, 3),
        (10, 11), (11, 12),
        (20, 21), (21, 20),
        (1, 0),  # back edge so 0 isn't rank-starved
    ]


def test_pagerank_matches_integer_oracle(spark, star_chain_edges):
    df = spark.createDataFrame(star_chain_edges, "src long, dst long")
    got = {
        r.id: r.rank_scaled
        for r in pagerank(df, n_iter=4).collect()
    }
    want = _py_pagerank(star_chain_edges, n_iter=4)
    assert got == want


def test_pagerank_conserves_mass_with_dangling(spark, star_chain_edges):
    df = spark.createDataFrame(star_chain_edges, "src long, dst long")
    n = vertex_ids(df).count()
    for it in (0, 1, 3):
        total = (
            pagerank(df, n_iter=it)
            .agg(F.sum("rank_scaled").alias("t"))
            .collect()[0]
            .t
        )
        # exact mass minus bounded div-truncation loss (< 2 per vertex/iter)
        assert SCALE - 2 * n * (it + 1) <= total <= SCALE


def test_pagerank_ranks_hub_highest(spark):
    # everyone links to 0; 0 links to 1
    edges = [(i, 0) for i in range(1, 8)] + [(0, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = {r.id: r.rank_scaled for r in pagerank(df, n_iter=5).collect()}
    assert rows[0] == max(rows.values())
    assert rows[1] > rows[2]  # 1 inherits 0's mass


def test_out_degrees_multigraph(spark):
    df = spark.createDataFrame([(1, 2), (1, 2), (1, 3)], "src long, dst long")
    assert {r.id: r.out_deg for r in out_degrees(df).collect()} == {1: 3}


def test_components_vs_union_find(spark):
    pairs = [
        (1, 2), (2, 3), (3, 4),          # chain
        (10, 11), (11, 10),              # dup + reversed
        (20, 20),                        # self loop
        (30, 31), (32, 33), (31, 32),    # merged later
    ]
    df = spark.createDataFrame(pairs, "a long, b long")
    got = {r.id: r.component for r in connected_components(df).collect()}
    assert got == _union_find(pairs)


def test_components_path_graph_pointer_jump(spark):
    """100-vertex path: plain propagation needs 99 rounds; pointer
    jumping must close it in <= 10 (O(log diameter))."""
    pairs = [(i, i + 1) for i in range(100)]
    df = spark.createDataFrame(pairs, "a long, b long")
    got = connected_components(df, max_iter=10)
    rows = got.collect()
    assert len(rows) == 101
    assert {r.component for r in rows} == {0}


def test_components_nonconvergence_raises(spark):
    df = spark.createDataFrame([(i, i + 1) for i in range(40)], "a long, b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=1)


def test_dedup_clusters_on_jaccard_pairs(spark, sf_small_dir):
    """End-to-end: LSH candidates -> jaccard refine -> clusters, vs a
    union-find oracle over the same (already exactness-gated) pairs."""
    from osm_spark.text.dedup import (
        jaccard_pairs,
        lsh_bands_from_array,
        lsh_candidate_pairs,
        lsh_tune,
        minhash_array,
    )

    docs = spark.read.parquet(f"{sf_small_dir}/documents.parquet")
    sigs = minhash_array(docs, 32)
    pairs = jaccard_pairs(
        docs,
        lsh_candidate_pairs(lsh_bands_from_array(sigs, lsh_tune(32, 0.8), 32)),
        threshold=0.8,
        signatures=sigs,
    ).select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    got = dedup_clusters(docs, pairs).collect()

    uf = _union_find([(r.a, r.b) for r in pairs.collect()])
    n_docs = docs.count()
    assert len(got) == n_docs
    by_id = {r.doc_id: r for r in got}
    for d, r in by_id.items():
        assert r.cluster_id == uf.get(d, d)
        assert r.is_keeper == (r.cluster_id == d)
    # keeper count == cluster count; sizes sum to n_docs
    assert sum(r.is_keeper for r in got) == len({r.cluster_id for r in got})
    assert sum(r.cluster_size for r in got if r.is_keeper) == n_docs


# ------------------------------------------------- driver rung vs loop


def _random_graph(seed: int) -> list[tuple[int, int]]:
    """Disjoint shapes over a shuffled id pool that mixes small, negative
    and near-int64-extreme ids: a random forest, a chain with shortcuts,
    near-cliques, self-loops, and duplicate and reversed pairs."""
    rng = random.Random(seed)
    pool = (
        [2**63 - 1 - i for i in range(40)]
        + [-(2**63) + i for i in range(40)]
        + rng.sample(range(-10**6, 10**6), 400)
    )
    rng.shuffle(pool)
    it = iter(pool)
    take = lambda k: [next(it) for _ in range(k)]  # noqa: E731
    pairs = []
    for _ in range(4):  # forest: each vertex hangs off an earlier one
        t = take(rng.randint(2, 25))
        pairs += [(t[i], t[rng.randrange(i)]) for i in range(1, len(t))]
    chain = take(120)
    pairs += list(zip(chain, chain[1:]))
    pairs += [tuple(rng.sample(chain, 2)) for _ in range(6)]
    for _ in range(5):  # near-cliques: most of all pairs
        c = take(rng.randint(3, 9))
        pairs += [(x, y) for x in c for y in c if x < y and rng.random() < 0.7]
    loops = take(6)
    pairs += [(x, x) for x in loops] + [(loops[0], loops[1])]
    dups = rng.sample(pairs, 15)
    pairs += dups + [(b, a) for a, b in dups]
    rng.shuffle(pairs)
    return pairs


@pytest.mark.parametrize("seed", [1, 2])
def test_components_rung_equals_loop_equals_union_find(spark, rung, seed):
    pairs = _random_graph(seed)
    df = spark.createDataFrame(pairs, "a long, b long")
    want = _union_find(pairs)
    for on in (True, False):
        calls = rung(on)
        got = {r.id: r.component for r in connected_components(df).collect()}
        assert got == want, on
        assert len(calls) == (1 if on else 0)
        calls.clear()


@pytest.mark.parametrize("n", [40, 100])
def test_components_smallest_max_iter_same_on_both_rungs(spark, rung, n):
    df = spark.createDataFrame([(i, i + 1) for i in range(n)], "a long, b long")
    rung(True)
    k = next(
        k for k in range(1, 20)
        if _converges(lambda: connected_components(df, max_iter=k))
    )
    assert k > 2  # a path needs more rounds than a near-clique
    rung(False)
    assert _converges(lambda: connected_components(df, max_iter=k))
    assert not _converges(lambda: connected_components(df, max_iter=k - 1))


def _converges(fn) -> bool:
    try:
        fn()
    except RuntimeError as e:
        assert "did not converge" in str(e)
        return False
    return True


def test_components_null_and_string_ids_take_the_loop(spark, rung):
    calls = rung(True)
    nulls = spark.createDataFrame(
        [(1, 2), (2, None), (None, 3), (4, 5), (5, 6)], "a long, b long"
    )
    got = {r.id: r.component for r in connected_components(nulls).collect()}
    # the loop's joins drop a null endpoint; its non-null partner stays
    assert got == {1: 1, 2: 1, 3: 3, 4: 4, 5: 4, 6: 4}
    words = [("b", "c"), ("a", "b"), ("x", "y"), ("z", "z")]
    strs = spark.createDataFrame(words, "a string, b string")
    got = {r.id: r.component for r in connected_components(strs).collect()}
    assert got == _union_find(words)
    assert calls == []


def test_components_rung_keeps_the_id_type(spark, rung):
    rung(True)
    df = spark.createDataFrame([(1, 2), (3, 2)], "a int, b int")
    out = connected_components(df)
    assert out.schema.simpleString() == "struct<id:int,component:int>"
    assert sorted(tuple(r) for r in out.collect()) == [(1, 1), (2, 1), (3, 1)]


def test_components_distributed_round_jobs_pinned(spark, count_jobs):
    """One distributed round is its truncation write alone: 14 jobs at
    local[4] (the changed count is observed on that write, where it was
    a 15th job)."""
    from osm_spark.graph.iterate import drop_truncated, truncate_lineage

    pairs = spark.createDataFrame([(i, i + 1) for i in range(300)], "a long, b long")
    edges = truncate_lineage(components._symmetrize(pairs, "a", "b"))
    labels = truncate_lineage(
        edges.select(F.col("u").alias("id")).select("id", F.col("id").alias("comp"))
    )
    new, jobs = count_jobs(
        lambda: truncate_lineage(
            components._round(edges, labels)
            .withColumn("_chg", F.col("comp") != F.col("_prev"))
            .drop("_prev"),
            changed=F.count_if("_chg"),
        )
    )
    assert jobs == 14
    assert new._observed["changed"] > 0
    for df in (edges, labels, new):
        drop_truncated(df)


# one raw-pair write, then the keeper election's collect (its AQE stages)
DEDUP_RUNG_JOBS = 5


def test_dedup_clusters_on_the_rung_launches_no_job_per_round(spark, rung, count_jobs):
    """The job count does not grow with the rounds: a one-round pair
    and a 100-vertex path (several rounds) launch the same pinned number."""
    rung(True)
    docs = spark.range(300).select(F.col("id").alias("doc_id"))
    seen = []
    for pairs in ([(1, 2)], [(i, i + 1) for i in range(100)]):
        df = spark.createDataFrame(pairs, "a long, b long")
        out, jobs = count_jobs(lambda: dedup_clusters(docs, df).collect())
        assert len(out) == 300
        seen.append(jobs)
    assert seen == [DEDUP_RUNG_JOBS] * 2, seen


# ------------------------------------------------------- personalized PR


def _py_ppr(edges, seeds, n_iter, scale=SCALE, num=85, den=100):
    """Reference replay of the personalized recurrence."""
    verts = sorted({u for e in edges for u in e})
    seeds = [v for v in verts if v in set(seeds)]
    ns = len(seeds)
    deg: dict[int, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    r = {v: (scale * (1 if v in seeds else 0)) // ns for v in verts}
    for _ in range(n_iter):
        dang = sum(r[v] for v in verts if v not in deg)
        nxt = {
            v: ((den - num) * scale * (1 if v in seeds else 0)) // (den * ns)
            + (num * dang * (1 if v in seeds else 0)) // (den * ns)
            for v in verts
        }
        for s, d in edges:
            nxt[d] += (num * r[s]) // (den * deg[s])
        r = nxt
    return r


def test_ppr_matches_integer_oracle(spark, star_chain_edges):
    from osm_spark.graph.pagerank import personalized_pagerank

    df = spark.createDataFrame(star_chain_edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (10,)], "id long")
    got = {
        r.id: r.rank_scaled
        for r in personalized_pagerank(df, seeds, n_iter=4).collect()
    }
    want = _py_ppr(star_chain_edges, [0, 10], n_iter=4)
    assert got == want


def test_ppr_zero_outside_seed_reachable(spark, star_chain_edges):
    from osm_spark.graph.pagerank import personalized_pagerank

    # seed only the 20<->21 cycle: the star and chain components are
    # unreachable from the teleport set and must hold exactly 0 mass
    df = spark.createDataFrame(star_chain_edges, "src long, dst long")
    seeds = spark.createDataFrame([(20,)], "id long")
    rows = {
        r.id: r.rank_scaled
        for r in personalized_pagerank(df, seeds, n_iter=3).collect()
    }
    assert rows[20] > 0 and rows[21] > 0
    assert all(rows[v] == 0 for v in (0, 1, 2, 3, 10, 11, 12))


def test_ppr_all_seeds_equals_uniform_pagerank(spark, star_chain_edges):
    from osm_spark.graph.pagerank import pagerank, personalized_pagerank, vertex_ids

    df = spark.createDataFrame(star_chain_edges, "src long, dst long")
    seeds = vertex_ids(df)
    ppr = {
        r.id: r.rank_scaled
        for r in personalized_pagerank(df, seeds, n_iter=3).collect()
    }
    pr = {r.id: r.rank_scaled for r in pagerank(df, n_iter=3).collect()}
    assert ppr == pr


def test_ppr_ignores_unknown_and_duplicate_seeds(spark, star_chain_edges):
    from osm_spark.graph.pagerank import personalized_pagerank

    df = spark.createDataFrame(star_chain_edges, "src long, dst long")
    clean = spark.createDataFrame([(0,), (10,)], "id long")
    noisy = spark.createDataFrame(
        [(0,), (0,), (10,), (999,)], "id long"  # dup + not-a-vertex
    )
    a = {
        r.id: r.rank_scaled
        for r in personalized_pagerank(df, clean, n_iter=2).collect()
    }
    b = {
        r.id: r.rank_scaled
        for r in personalized_pagerank(df, noisy, n_iter=2).collect()
    }
    assert a == b


# ----------------------------------------------------------------- HITS


def _py_hits(edges, n_iter, scale=10**9):
    verts = sorted({u for e in edges for u in e})
    a = {v: scale for v in verts}

    def norm(raw):
        tot = sum(raw.values())
        if tot == 0:
            return {v: 0 for v in raw}
        return {v: (scale * x) // tot for v, x in raw.items()}

    h = None
    for _ in range(n_iter):
        hr = {v: 0 for v in verts}
        for s, d in edges:
            hr[s] += a[d]
        h = norm(hr)
        ar = {v: 0 for v in verts}
        for s, d in edges:
            ar[d] += h[s]
        a = norm(ar)
    return h, a


def test_hits_matches_integer_oracle(spark, star_chain_edges):
    from osm_spark.graph.hits import hits

    df = spark.createDataFrame(star_chain_edges, "src long, dst long")
    rows = hits(df, n_iter=3).collect()
    want_h, want_a = _py_hits(star_chain_edges, 3)
    assert {r.id: r.hub_scaled for r in rows} == want_h
    assert {r.id: r.auth_scaled for r in rows} == want_a


def test_hits_separates_hubs_from_authorities(spark):
    from osm_spark.graph.hits import hits

    # pure directory graph: 0,1 point at 5,6,7; nothing points back
    edges = [(s, d) for s in (0, 1) for d in (5, 6, 7)]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = {r.id: r for r in hits(df, n_iter=2).collect()}
    for hub in (0, 1):
        assert rows[hub].hub_scaled > 0 and rows[hub].auth_scaled == 0
    for auth in (5, 6, 7):
        assert rows[auth].auth_scaled > 0 and rows[auth].hub_scaled == 0


def test_hits_multigraph_counts_multiplicity(spark):
    from osm_spark.graph.hits import hits

    single = [(0, 1), (2, 1), (2, 3)]
    double = single + [(0, 1)]  # 0 endorses 1 twice -> stronger hub 0
    h1 = {r.id: r for r in hits(
        spark.createDataFrame(single, "src long, dst long"), n_iter=2
    ).collect()}
    h2 = {r.id: r for r in hits(
        spark.createDataFrame(double, "src long, dst long"), n_iter=2
    ).collect()}
    assert h2[0].hub_scaled > h1[0].hub_scaled


def test_hits_rejects_zero_iterations(spark):
    from osm_spark.graph.hits import hits

    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError):
        hits(df, n_iter=0)


# ------------------------------------------------------------------ LPA


def _py_lpa(edges_sym, n_iter):
    verts = sorted({u for e in edges_sym for u in e})
    lab = {v: v for v in verts}
    for _ in range(n_iter):
        votes: dict[int, dict[int, int]] = {}
        for s, d in edges_sym:
            votes.setdefault(d, {})[lab[s]] = (
                votes.setdefault(d, {}).get(lab[s], 0) + 1
            )
        nxt = {}
        for v in verts:
            if v in votes:
                nxt[v] = min(votes[v], key=lambda l: (-votes[v][l], l))
            else:
                nxt[v] = lab[v]
        lab = nxt
    return lab


def test_lpa_matches_python_replay(spark):
    from osm_spark.graph.lpa import label_propagation

    # two triangles joined by one bridge + an isolated self-pair
    tri1 = [(0, 1), (1, 2), (2, 0)]
    tri2 = [(10, 11), (11, 12), (12, 10)]
    bridge = [(2, 10)]
    und = tri1 + tri2 + bridge
    sym = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(sym, "src long, dst long")
    for it in (1, 2, 3):
        got = {
            r.id: r.label
            for r in label_propagation(df, n_iter=it).collect()
        }
        assert got == _py_lpa(sym, it), f"n_iter={it}"


def test_lpa_separates_weakly_joined_cliques(spark):
    from osm_spark.graph.lpa import label_propagation

    # two 4-cliques joined by a single bridge: communities stay apart
    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    und = c1 + c2 + [(3, 10)]
    sym = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(sym, "src long, dst long")
    got = {
        r.id: r.label for r in label_propagation(df, n_iter=3).collect()
    }
    left = {got[v] for v in range(4)}
    right = {got[v] for v in range(10, 14)}
    assert len(left) == 1 and len(right) == 1 and left != right


def test_lpa_argmax_stays_in_hash_aggregate(spark):
    from osm_spark.graph.lpa import label_propagation

    df = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    plan = (
        label_propagation(df, n_iter=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the struct-min plurality pick must not degrade to SortAggregate
    assert "SortAggregate" not in plan


def test_weighted_pagerank_reduces_to_unweighted(spark):
    """All weights equal k ≡ the unweighted recurrence (k cancels in
    (85·r·k) div (100·k·out_deg) ONLY when the div is exact... it is
    NOT in general — so compare against a python replay instead, and
    separately pin that weight-1 equals unweighted exactly."""
    from osm_spark.graph.pagerank import pagerank, weighted_pagerank

    n = 30
    edges = [(i, (i * 7 + 1) % n, 1) for i in range(n)]
    edges += [(i, (i * 3 + 2) % n, 1) for i in range(n) if i % 4 == 0]
    e = spark.createDataFrame(edges, "src long, dst long, w long")
    wr = {r.id: r.rank_scaled for r in weighted_pagerank(e, n_iter=3).collect()}
    ur = {
        r.id: r.rank_scaled
        for r in pagerank(e.select("src", "dst"), n_iter=3).collect()
    }
    assert wr == ur


def test_weighted_pagerank_python_replay(spark):
    from osm_spark.graph.pagerank import weighted_pagerank

    n = 24
    edges = [(i, (i * 7 + 1) % n, 1 + (i % 3)) for i in range(n)]
    edges += [(i, (i * 5 + 3) % n, 2) for i in range(n) if i % 2 == 0]
    edges = [(s, d, w) for s, d, w in edges if s != d]
    # drop some sources entirely -> dangling vertices
    edges = [t for t in edges if t[0] % 11 != 0]
    e = spark.createDataFrame(edges, "src long, dst long, w long")
    got = {r.id: r.rank_scaled for r in weighted_pagerank(e, n_iter=3).collect()}

    scale = 10**12
    verts = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    wout: dict[int, int] = {}
    for s, _, w in edges:
        wout[s] = wout.get(s, 0) + w
    r = {v: scale // len(verts) for v in verts}
    for _ in range(3):
        dang = sum(r[v] for v in verts if v not in wout)
        in_sum: dict[int, int] = {}
        for s, d, w in edges:
            in_sum[d] = in_sum.get(d, 0) + (85 * r[s] * w) // (100 * wout[s])
        base = (15 * scale) // (100 * len(verts))
        t = (85 * dang) // (100 * len(verts))
        r = {v: base + in_sum.get(v, 0) + t for v in verts}
    assert got == r
    # heavier edges pull rank: weight-3 targets beat weight-1 targets
    # from the same source class on this fixture (spot check nonuniform)
    assert len(set(got.values())) > 3
