"""Hot-cell salting beyond the PIP family (pipeline/salting.py):
kNN phase-2, radius, and DBSCAN pair joins — result equality vs the
unsalted paths, data-driven plan shape, and (cell, _salt) plan pins.
r4 verdict ask #2."""

from __future__ import annotations

import re

import pytest

import numpy as np
from pyspark.sql import functions as F

from osm_spark.geo.dbscan import eps_pairs
from osm_spark.geo.hexgrid import hex_cell_expr
from osm_spark.geo.knn import knn_join
from osm_spark.geo.radius import plan_res, plan_ring, radius_join
from osm_spark.pipeline import salting
from osm_spark.pipeline.salting import key_salt_plan, salted_equi_join


def _cloud(spark, seed=7, n=300, hot_frac=0.5):
    """Point cloud where ~hot_frac of rows land in ONE tight cluster
    (a single res-8 cell — the Zipf urban shape), rest spread wide."""
    rng = np.random.RandomState(seed)
    rows = []
    n_hot = int(n * hot_frac)
    for i in range(n_hot):
        rows.append((f"h{i}",
                     float(51.5 + rng.uniform(-0.0005, 0.0005)),
                     float(-0.13 + rng.uniform(-0.0005, 0.0005))))
    for i in range(n - n_hot):
        rows.append((f"c{i}",
                     float(51.5 + rng.uniform(-0.4, 0.4)),
                     float(-0.13 + rng.uniform(-0.4, 0.4))))
    return spark.createDataFrame(rows, "url string, lat double, lon double")


def _nodes(spark, seed=9, n=40):
    rng = np.random.RandomState(seed)
    rows = [(i,
             float(51.5 + rng.uniform(-0.3, 0.3)),
             float(-0.13 + rng.uniform(-0.3, 0.3))) for i in range(n)]
    return spark.createDataFrame(rows, "id long, lat double, lon double")


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_key_salt_plan_is_data_driven(spark):
    df = spark.createDataFrame(
        [(k, i) for k in ("hot", "cold") for i in range(30 if k == "hot" else 3)],
        "cell string, i int",
    )
    got = {r.cell: r._k for r in key_salt_plan(df, "cell", target=10).collect()}
    assert got == {"hot": 3}  # ceil(30/10); cold never appears


def test_salted_equi_join_equals_plain_join(spark):
    big = spark.createDataFrame(
        [(f"u{i}", "hot" if i % 2 else "cold") for i in range(60)],
        "url string, cell string",
    )
    small = spark.createDataFrame(
        [("hot", 1), ("hot", 2), ("cold", 3)], "cell string, v int"
    )
    salts = key_salt_plan(big, "cell", target=10)
    plain = {(r.url, r.v) for r in big.join(small, "cell").collect()}
    salted = {
        (r.url, r.v)
        for r in salted_equi_join(big, small, "cell", salts, "url").collect()
    }
    assert salted == plain and len(plain) == 90


def test_knn_salted_phase2_identical_and_pinned(spark):
    pts = _cloud(spark)
    nodes = _nodes(spark)
    ref = {
        (r.url, r.node_id, r.rank)
        for r in knn_join(pts, nodes, k=3, phase2="broadcast").collect()
    }
    cells = pts.select(hex_cell_expr("lat", "lon", 8).alias("pcell"))
    salts = key_salt_plan(cells, "pcell", target=20)
    assert salts.agg(F.max("_k")).first()[0] >= 2  # the hot cell split
    out = knn_join(pts, nodes, k=3, phase2="salted", salts=salts)
    got = {(r.url, r.node_id, r.rank) for r in out.collect()}
    assert got == ref
    plan = _plan(out)
    assert re.search(r"ShuffledHashJoin \[pcell#\d+L?, _salt", plan), plan


def test_knn_salted_auto_salts_from_histogram(spark):
    """salts=None computes the plan from the points' own histogram —
    at the default target nothing is hot here, and the join must still
    be exact through the k=1 scatter."""
    pts = _cloud(spark, seed=13, n=120)
    nodes = _nodes(spark, seed=15)
    ref = {
        (r.url, r.node_id, r.rank)
        for r in knn_join(pts, nodes, k=2, phase2="broadcast").collect()
    }
    got = {
        (r.url, r.node_id, r.rank)
        for r in knn_join(pts, nodes, k=2, phase2="salted").collect()
    }
    assert got == ref


def test_radius_salted_identical_and_pinned(spark):
    pts = _cloud(spark, seed=21)
    nodes = _nodes(spark, seed=23)
    radius_m, lat_bound = 3000.0, 52.0
    res = plan_res(radius_m, lat_bound)
    ref = {
        (r.url, r.node_id)
        for r in radius_join(
            pts, nodes, radius_m, strategy="broadcast", max_abs_lat=lat_bound
        ).collect()
    }
    cells = pts.select(hex_cell_expr("lat", "lon", res).alias("pcell"))
    salts = key_salt_plan(cells, "pcell", target=20)
    assert salts.agg(F.max("_k")).first()[0] >= 2
    out = radius_join(
        pts, nodes, radius_m, strategy="salted", salts=salts,
        max_abs_lat=lat_bound,
    )
    got = {(r.url, r.node_id) for r in out.collect()}
    assert got == ref and len(ref) > 0
    plan = _plan(out)
    assert re.search(r"ShuffledHashJoin \[pcell#\d+L?, _salt", plan), plan


def test_eps_pairs_salted_identical(spark):
    pts = _cloud(spark, seed=31, n=200).select(
        F.monotonically_increasing_id().alias("_"),
        F.xxhash64("url").alias("id"), "lat", "lon",
    ).drop("_")
    eps_m, lat_bound = 500.0, 52.0
    res = plan_res(eps_m, lat_bound)
    ref = {
        (r.a_id, r.b_id)
        for r in eps_pairs(pts, eps_m, max_abs_lat=lat_bound).collect()
    }
    cells = pts.select(hex_cell_expr("lat", "lon", res).alias("cell"))
    salts = key_salt_plan(cells, "cell", target=20)
    assert salts.agg(F.max("_k")).first()[0] >= 2
    out = eps_pairs(pts, eps_m, max_abs_lat=lat_bound, salts=salts)
    got = {(r.a_id, r.b_id) for r in out.collect()}
    assert got == ref and len(ref) > 0
    plan = _plan(out)
    assert re.search(r"ShuffledHashJoin \[cell#\d+L?, _salt", plan), plan


def test_salted_join_never_broadcasts_candidate_sets(spark):
    """On the salted phase 2 the per-cell candidate ARRAYS (the side
    that grows with the occupied-cell count — multi-GB at planet
    scale) must reach the join through the salted shuffle, never a
    BroadcastExchange. Phase 1's small node-dim broadcast is separate
    and allowed while the dim fits (phase1='auto')."""
    pts = _cloud(spark)
    nodes = _nodes(spark)
    cells = pts.select(hex_cell_expr("lat", "lon", 8).alias("pcell"))
    salts = key_salt_plan(cells, "pcell", target=20)
    plan = _plan(knn_join(pts, nodes, k=3, phase2="salted", salts=salts))
    for sub in plan.split("BroadcastExchange")[1:]:
        head = sub[:400]
        assert "cands" not in head, plan


def test_snap_salted_identical_and_pinned(spark):
    """The fourth cell-keyed join of the family: snap's point×candidate
    join under strategy='salted' returns exactly the shuffle path's
    rows, with the (cell, _salt) re-key pinned in the plan."""
    import numpy as np
    import pandas as pd

    from osm_spark.geo.snap import plan_snap, snap_join

    rng = np.random.default_rng(31)
    n = 200
    # 60% of points collapse into one ~50 m hotspot -> one hot cell
    hot = rng.random(n) < 0.6
    ppdf = pd.DataFrame(
        {
            "url": [f"p{i}" for i in range(n)],
            "lat": np.where(
                hot, 51.5 + rng.normal(0, 0.0004, n),
                51.5 + rng.normal(0, 0.01, n)
            ),
            "lon": np.where(
                hot, -0.12 + rng.normal(0, 0.0004, n),
                -0.12 + rng.normal(0, 0.016, n)
            ),
        }
    )
    pts = spark.createDataFrame(ppdf)
    ways = spark.createDataFrame(
        [(1, [51.49, 51.51], [-0.14, -0.10]),
         (2, [51.505, 51.515], [-0.13, -0.11])],
        "way_id long, vlat array<double>, vlon array<double>",
    )
    radius_m = 2000.0
    ref = {
        (r.url, r.way_id, r.seg_idx)
        for r in snap_join(
            pts, ways, radius_m, strategy="broadcast"
        ).collect()
    }
    res, _ring = plan_snap(radius_m, 51.6)
    cells = pts.select(hex_cell_expr("lat", "lon", res).alias("cell"))
    salts = key_salt_plan(cells, "cell", target=20)
    assert salts.agg(F.max("_k")).first()[0] >= 2
    out = snap_join(pts, ways, radius_m, strategy="salted", salts=salts)
    got = {(r.url, r.way_id, r.seg_idx) for r in out.collect()}
    assert got == ref and len(ref) > 0
    plan = _plan(out)
    assert re.search(r"ShuffledHashJoin \[cell#\d+L?, _salt", plan), plan


def test_snap_salted_rejects_keep_unmatched(spark):
    from osm_spark.geo.snap import snap_candidates

    pts = spark.createDataFrame(
        [(1, 1, 51.5, -0.12)], "trip_id long, seq int, lat double, lon double"
    )
    ways = spark.createDataFrame(
        [(1, [51.49, 51.51], [-0.14, -0.10])],
        "way_id long, vlat array<double>, vlon array<double>",
    )
    with pytest.raises(ValueError, match="keep_unmatched"):
        snap_candidates(
            pts, ways, 2000.0, strategy="salted", keep_unmatched=True,
            point_cols=("trip_id", "seq"),
        )


# The broadcast ceiling every keyed join had before it moved into
# salting.py; each op's edge stat below is computed from it with the op's
# own row-size estimate, so a drift in either moves an edge and fails.
_CEILING = 256 * 1024 * 1024


def _join_form(df):
    plan = _plan(df)
    if "LeftAnti" in plan:  # kNN phase 1's ring builder
        return "ring"
    bhj, shj = "BroadcastHashJoin" in plan, "ShuffledHashJoin" in plan
    assert bhj != shj, plan
    return "broadcast" if bhj else "shuffle"


def _edge_cases(spark):
    """op -> (build(stat) -> DataFrame, edge stat, form past the edge)."""
    from osm_spark.geo.hexgrid import edge_deg
    from osm_spark.geo.knn import DEG_M
    from osm_spark.geo.snap import plan_snap, snap_join
    from osm_spark.pipeline.robots import apply_url_rules

    pts, nodes = _cloud(spark, n=60), _nodes(spark, n=12)
    lat = 52.0
    rres = plan_res(1000.0, lat)
    rring = plan_ring(1000.0, rres, lat)
    sres, sring = plan_snap(800.0, lat)
    seg_bytes = (
        max(2.0, 800.0 / (edge_deg(sres) * DEG_M) + 2.0)
        * (3 * sring * (sring + 1) + 1)
        * 56
    )
    snap_edge = int(_CEILING // seg_bytes)
    while (snap_edge + 1) * seg_bytes <= _CEILING:
        snap_edge += 1
    while snap_edge * seg_bytes > _CEILING:
        snap_edge -= 1
    ways = spark.createDataFrame(
        [(1, [51.49, 51.51], [-0.14, -0.10])],
        "way_id long, vlat array<double>, vlon array<double>",
    )
    urls = spark.createDataFrame([(1, "http://a.com/x")], "id int, url string")
    rules = spark.createDataFrame(
        [("a.com", "/", False)], "host string, prefix string, allow boolean"
    )
    return {
        "knn_phase1": (
            lambda s: knn_join(pts, nodes, k=3, phase2="broadcast", n_nodes=s),
            _CEILING // 24,
            "ring",
        ),
        "knn_phase2": (
            lambda s: knn_join(pts, nodes, k=3, phase1="broadcast", n_cells=s),
            _CEILING // ((3 + 4) * 24),
            "shuffle",
        ),
        "radius": (
            lambda s: radius_join(pts, nodes, 1000.0, max_abs_lat=lat, n_nodes=s),
            _CEILING // ((3 * rring * (rring + 1) + 1) * 32),
            "shuffle",
        ),
        "snap": (
            lambda s: snap_join(pts, ways, 800.0, max_abs_lat=lat, n_segments=s),
            snap_edge,
            "shuffle",
        ),
        "robots": (
            lambda s: apply_url_rules(urls, rules, n_rules=s),
            _CEILING // 72,
            "shuffle",
        ),
    }


@pytest.mark.parametrize(
    "op", ["knn_phase1", "knn_phase2", "radius", "snap", "robots", "lm"]
)
def test_broadcast_edge_moves_every_op(spark, monkeypatch, op):
    """Every keyed join broadcasts at its edge stat and stops one past
    it, through its public entry point and without collecting; halving
    ``salting.BROADCAST_MAX_BYTES`` — the one ceiling — moves each edge."""
    if op == "lm":
        from osm_spark.text.lm import lm_score, tokenize, train_unigram

        docs = spark.createDataFrame(
            [(1, "a b c a"), (2, "b d")], "doc_id long, text string"
        )
        vocab = train_unigram(tokenize(docs)).count()
        monkeypatch.setattr(salting, "BROADCAST_MAX_BYTES", vocab * 128)
        assert _join_form(lm_score(docs)) == "broadcast"
        monkeypatch.setattr(salting, "BROADCAST_MAX_BYTES", vocab * 128 - 1)
        assert _join_form(lm_score(docs)) == "shuffle"
        return
    build, edge, past = _edge_cases(spark)[op]
    assert _join_form(build(edge)) == "broadcast"
    assert _join_form(build(edge + 1)) == past
    monkeypatch.setattr(salting, "BROADCAST_MAX_BYTES", _CEILING // 2)
    assert _join_form(build(edge)) == past


def test_aqe_strategy_is_gone(spark):
    """'aqe' built exactly the 'shuffle' plan; it is no longer accepted."""
    pts, nodes = _cloud(spark, n=20), _nodes(spark, n=5)
    with pytest.raises(ValueError, match="phase2"):
        knn_join(pts, nodes, k=3, phase1="broadcast", phase2="aqe")
    with pytest.raises(ValueError, match="radius_join"):
        radius_join(pts, nodes, 1000.0, max_abs_lat=52.0, strategy="aqe")
