"""Replicates the driver's correctness gate locally: run each
``__spark_entry__.queries()`` entry at sf0.01 and compare row count, column
names and order-insensitive values against ``oracle_sql()`` in DuckDB."""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck(sf_med_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_med_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def canon(v):
    if isinstance(v, decimal.Decimal):
        return f"{v:f}"
    if isinstance(v, float):
        return f"{v:.10g}"
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def to_canonical_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, sf_med_dir, name):
    q = entrymod.queries()[name]
    sdf = q(spark, sf_med_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    rel = duck.sql(ORACLES[name])
    dcols = rel.columns
    drows = rel.fetchall()

    assert sorted(c.lower() for c in scols) == sorted(c.lower() for c in dcols), (
        f"{name}: column mismatch {scols} vs {dcols}"
    )
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"
    sc = to_canonical_rows([c.lower() for c in scols], srows)
    dc = to_canonical_rows([c.lower() for c in dcols], drows)
    mismatches = [(a, b) for a, b in zip(sc, dc) if a != b]
    assert not mismatches, f"{name}: first value mismatches: {mismatches[:3]}"


def test_rows_only_queries_run(spark, sf_med_dir):
    qs = entrymod.queries()
    for name in sorted(set(qs) - set(ORACLES)):
        df = qs[name](spark, sf_med_dir)
        assert df.count() >= 0, name
        assert len(df.columns) > 0, name


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.columns == ["url", "way_id", "name"]


CC_QUERIES = [
    "connected_components", "dbscan_clusters", "st_dbscan_clusters",
    "overlay_clusters", "corpus_pipeline",
]


@pytest.mark.parametrize("on", [True, False], ids=["driver", "loop"])
@pytest.mark.parametrize("name", CC_QUERIES)
def test_cc_query_matches_oracle_on_both_rungs(spark, duck, sf_med_dir, name, on, rung):
    """At sf0.01 every query that runs connected components takes the
    driver rung; the ``loop`` runs force the distributed loop instead, so
    the gate covers both paths, and each run asserts which one it took."""
    calls = rung(on)
    test_query_matches_oracle(spark, duck, sf_med_dir, name)
    assert (len(calls) > 0) == on, len(calls)


def test_st_dbscan_gates_real_core_pairs(spark, sf_med_dir, rung, monkeypatch):
    """At sf0.01 st_dbscan hands connected components real core-core
    pairs: the raw-pair write observes n > 0, so the gate above checks
    both rungs on a graph, not on the empty input."""
    import osm_spark.graph.components as components

    seen = []
    truncate = components.truncate_lineage

    def spy(df, **observe):
        out = truncate(df, **observe)
        seen.append(out._observed)
        return out

    monkeypatch.setattr(components, "truncate_lineage", spy)
    calls = rung(True)
    entrymod.queries()["st_dbscan_clusters"](spark, sf_med_dir).collect()
    assert len(calls) == 1 and seen[0]["n"] > 0, seen
