"""truncation_recall vs a numpy double replay."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_spark.vector.eval import ranking_overlap, truncation_recall

K, DK = 5, 16


@pytest.fixture(scope="module")
def emb(spark, sf_small_dir):
    return spark.read.parquet(f"{sf_small_dir}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def vecs(emb):
    return {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}


def _topk(vecs, qids, dims, k):
    out = {}
    for q in qids:
        qq = vecs[q][:dims]
        scored = sorted(
            (
                (-round(float(qq @ v[:dims])
                        / (np.sqrt(qq @ qq) * np.sqrt(v[:dims] @ v[:dims])), 6), vid)
                for vid, v in vecs.items()
            )
        )
        out[q] = {vid for _, vid in scored[:k]}
    return out


def test_truncation_recall_matches_replay(spark, emb, vecs):
    qids = [r.vec_id for r in emb.filter(F.col("vec_id") % 50 == 0).collect()]
    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {r.query_id: (r.n_overlap, r.recall_micro)
           for r in truncation_recall(q, emb, k=K, dims_kept=DK).collect()}
    full = _topk(vecs, qids, 64, K)
    trunc = _topk(vecs, qids, DK, K)
    import math
    want = {
        q_: (
            len(full[q_] & trunc[q_]),
            int(math.floor(len(full[q_] & trunc[q_]) / K * 1e6 + 0.5)),
        )
        for q_ in qids
    }
    assert got == want
    # truncation to 16 of 64 isotropic dims must lose SOME recall
    assert any(v[0] < K for v in got.values())


def test_identity_ranking_has_full_recall(spark, emb):
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = truncation_recall(q, emb, k=K, dims_kept=64).collect()
    assert all(r.n_overlap == K and r.recall_micro == 1_000_000 for r in out)


def test_ranking_overlap_zero_for_disjoint(spark):
    a = spark.createDataFrame([(1, 10), (1, 11)], "query_id long, vec_id long")
    b = spark.createDataFrame([(1, 20), (1, 21)], "query_id long, vec_id long")
    r = ranking_overlap(a, b, 2).collect()[0]
    assert (r.n_overlap, r.recall_micro) == (0, 0)


def test_truncation_validation(spark, emb):
    q = emb.limit(1).select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError):
        truncation_recall(q, emb, dims_kept=0)


def test_truncation_recall_honours_vec_col(spark, emb):
    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    want = sorted(map(tuple, truncation_recall(q, emb, k=K, dims_kept=DK).collect()))
    got = truncation_recall(
        q.withColumnRenamed("embedding", "vec"),
        emb.withColumnRenamed("embedding", "vec"),
        k=K,
        dims_kept=DK,
        vec_col="vec",
    ).collect()
    assert sorted(map(tuple, got)) == want
