"""Retrieval-quality evaluation for the vector family: how much recall
does a cheaper representation lose?

``truncation_recall`` audits dimension truncation (the Matryoshka /
MRL serving pattern — Kusupati et al. 2022: serve the first d' of d
dimensions, rerank with the full vector): exact top-k under the FULL
cosine vs exact top-k under the TRUNCATED cosine, per-query overlap.
The same harness shape audits int8 quantization or any alternative
scorer — swap the second scorer in.

Exactness: both rankings come from ``cosine_topk`` (rounded cosine,
deterministic (cos DESC, vec_id ASC) tie-break), and the audited
quantity is an INTEGER overlap count per query plus one rounded
recall ratio — hash-gateable, no float caveats beyond the established
rounded-cosine convention.

Scale shape: two broadcast-query scans of the corpus (queries are the
small side by construction — an eval set), one (query, vec) equi-join
of two k-row-per-query tables, one count per query.  At the 10^12-row
design point the exact scans are the AUDIT path (run over a sampled
corpus slice); the served path being audited is `ann_lsh_topk` / `ivf`
— the harness only needs the two rankings, wherever they came from.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.vector.similarity import cosine_topk

__all__ = ["truncation_recall", "ranking_overlap"]


def ranking_overlap(full: DataFrame, other: DataFrame, k: int) -> DataFrame:
    """(query_id, n_overlap, recall_micro) given two (query_id, vec_id,
    rank ≤ k) rankings — |full ∩ other| per query over the top-k sets."""
    a = full.select("query_id", "vec_id")
    b = other.select("query_id", "vec_id")
    hit = a.join(b.hint("shuffle_hash"), ["query_id", "vec_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).cast("int").alias("n_overlap"))
    qs = full.select("query_id").distinct()
    return qs.join(hit, "query_id", "left").select(
        "query_id",
        F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
        F.round(
            F.coalesce("n_overlap", F.lit(0)).cast("double") / k * 1e6, 0
        )
        .cast("long")
        .alias("recall_micro"),
    )


def truncation_recall(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    dims_kept: int = 16,
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, n_overlap, recall_micro) — top-k overlap between the
    full-dimension exact ranking and the first-``dims_kept``-dimensions
    ranking.  ``queries``: (query_id, ``vec_col``); ``corpus``:
    (vec_id, ``vec_col``)."""
    if dims_kept < 1:
        raise ValueError(f"dims_kept must be >= 1, got {dims_kept}")
    full = cosine_topk(queries, corpus, k=k, vec_col=vec_col)
    tq = queries.select(
        "query_id", F.slice(F.col(vec_col), 1, dims_kept).alias(vec_col)
    )
    tc = corpus.select(
        "vec_id", F.slice(F.col(vec_col), 1, dims_kept).alias(vec_col)
    )
    trunc = cosine_topk(tq, tc, k=k, vec_col=vec_col)
    return ranking_overlap(full, trunc, k)
