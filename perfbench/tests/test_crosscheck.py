"""One-time cross-checks of the workloads' outputs against independent
references, on the benchmark's own default-seed inputs:

- corpus_dedup: the near-dup pairs equal the registry's DuckDB oracle
  (compared with ``tools/check_oracle.canon``), and the keeper election
  equals a union-find over the oracle's pairs, digest for digest;
- geo: the PIP digest of the broadcast plan the benchmark times equals
  that of the salted shuffle plan on the same input.

Both digests must also equal the values pinned for the default seed.
"""

from __future__ import annotations

import json
import os

import pandas as pd

import run
from conftest import HERE
from workloads import DEDUP_DOCS, WORKLOADS, Ctx, digest


def _pinned(workload: str, op: str) -> list:
    with open(os.path.join(HERE, "expected_digests.json")) as f:
        return json.load(f)[workload][op]


def _ctx(spark, tmp_path) -> Ctx:
    return Ctx(spark=spark, cpus=4, seed=run.DEFAULT_SEED,
               data_dir=str(tmp_path / "data"), work_dir=str(tmp_path / "work"))


def _clusters(doc_ids: list[int], pairs: pd.DataFrame) -> pd.DataFrame:
    parent = {d: d for d in doc_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["doc_a"], pairs["doc_b"]):
        ra, rb = find(int(a)), find(int(b))
        parent[max(ra, rb)] = min(ra, rb)
    root = {d: find(d) for d in doc_ids}
    size = pd.Series(list(root.values())).value_counts()
    return pd.DataFrame({
        "doc_id": doc_ids,
        "cluster_id": [root[d] for d in doc_ids],
        "is_keeper": [root[d] == d for d in doc_ids],
        "cluster_size": [int(size[root[d]]) for d in doc_ids],
    })


def test_corpus_dedup_matches_duckdb_oracle(spark, tmp_path):
    import duckdb

    import __spark_entry__ as registry
    from tools.check_oracle import canon

    wl = WORKLOADS["corpus_dedup"]
    ctx = _ctx(spark, tmp_path)
    wl.setup(ctx)
    assert ctx.state["n_docs"] == DEDUP_DOCS

    con = duckdb.connect()
    con.sql("CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{ctx.data_dir}/documents.parquet')")
    oracle = con.sql(registry.oracle_sql()["near_dup_jaccard"]).df()
    got = registry.q_near_dup_jaccard(spark, ctx.data_dir).toPandas()
    assert len(oracle) > 0
    pd.testing.assert_frame_equal(canon(got), canon(oracle))

    ids = con.sql("SELECT doc_id FROM documents ORDER BY doc_id").df()["doc_id"].tolist()
    want = spark.createDataFrame(
        _clusters([int(i) for i in ids], oracle),
        "doc_id long, cluster_id long, is_keeper boolean, cluster_size long",
    )
    clusters = wl.run(ctx, "near_dup_clusters")
    assert digest(clusters) == digest(want) == _pinned("corpus_dedup", "near_dup_clusters")


def test_geo_pip_digest_matches_salted_plan(spark, tmp_path):
    from osm_spark.pipeline.spatial_join import extract_points, pip_join

    wl = WORKLOADS["geo"]
    ctx = _ctx(spark, tmp_path)
    wl.setup(ctx)
    st = ctx.state
    timed_plan = wl.run(ctx, "pip_join")
    salted = pip_join(extract_points(st["pages"]), st["polygons"], st["way_cells"],
                      strategy="salted")
    assert digest(timed_plan) == digest(salted) == _pinned("geo", "pip_join")
