"""DSIR-style data selection — hashed n-gram importance weights and
Gumbel top-k importance resampling.

Data Selection with Importance Resampling (Xie et al., NeurIPS 2023 —
public method) selects raw web documents that look like a small target
corpus: both corpora are featurized as bags of HASHED n-grams (unigrams
+ bigrams folded into ``num_buckets`` buckets), bucket distributions
``p`` (target) and ``q`` (raw) are estimated with Laplace smoothing,
each raw document gets the importance log-weight

    log w(doc) = sum_b  c_doc[b] * (ln p[b] - ln q[b])

and the selected subset is a Gumbel top-k over ``log w`` (which samples
WITHOUT replacement proportionally to ``w`` — the resampling step of
the paper).

Exactness (the engine's micro-nat idiom, text/lm.py): per-bucket
log-probabilities are quantized to micro-nats as longs BEFORE the
per-document sum, so document weights are exact long sums —
order-independent, value-hash gateable, replayable in DuckDB. The
Gumbel perturbation draws its uniform from a salted md5 digest (the
weighted_sample 52-bit construction), micro-quantized the same way, so
sample membership is byte-stable across runs, partitionings and
engines.

Scale design (10^12-doc design point)
-------------------------------------
- Featurization is one map-side-combined shuffle of (doc, bucket) —
  the exchange carries each partition's distinct (doc, bucket) pairs,
  never the token stream. Bucket ids are 52-bit digest folds, uniform
  by construction (no hot bucket beyond Zipf mass, and the per-doc
  re-aggregation key is doc_id, which is uniform).
- The bucket-ratio table is AT MOST ``num_buckets`` rows REGARDLESS of
  corpus size (that is the point of hashed features) — it broadcasts
  unconditionally; there is no vocabulary-sized join anywhere, which
  is what lets DSIR run where an exact-vocabulary LM join would need
  the shuffle path (lm.py's vocab join past the broadcast ceiling).
- The target corpus is small by definition (the paper's regime:
  Wikipedia/books vs Common Crawl); its distribution build is one
  bounded aggregate. Totals ride as 1-row cross joins, never a
  driver collect.
- Selection ranks per group (quota shape) or globally with the same
  caveat as text/sampling.py weighted_sample: global top-k sorts only
  candidate KEYS (16 bytes/doc), and callers at the 10^12 design point
  pre-prune with a per-group quota first.

Reference parity: robertgauld/osm derives per-record quality flags and
filters members by them (SURVEY §2.2 P11, §2.4 A5); dsir_weights is
that derived-flag idiom where the flag is a corpus-relative importance
statistic instead of a per-row predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "dsir_sample",
    "dsir_weights",
    "hashed_gram_counts",
]

_TWO52 = float(16**13)
_MICRO = 1_000_000.0


def _tok_array(text_col):
    """Engine-wide tokenizer (bpe.word_frequencies policy): lowercase,
    single-space split, zero-length tokens dropped — as an ORDERED
    array, so bigram adjacency survives the empty-token drop."""
    return F.filter(
        F.split(F.lower(text_col), " "), lambda x: F.length(x) > 0
    )


def hashed_gram_counts(
    docs: DataFrame,
    num_buckets: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bigrams: bool = True,
) -> DataFrame:
    """(id, bucket, cnt): per-document hashed n-gram bucket counts.

    Grams are unigrams plus (optionally) space-joined adjacent bigrams
    over the engine tokenizer; each gram folds to
    ``md5(gram)[:13 hex] mod num_buckets`` — a 52-bit digest prefix
    (exact in a double, same construction as sampling.weighted_sample)
    so the fold replays bit-identically in DuckDB
    (``CAST('0x' || substr(md5(g),1,13) AS BIGINT) % B``).
    """
    if num_buckets <= 0:
        raise ValueError(f"num_buckets must be positive, got {num_buckets}")
    toks = _tok_array(F.col(text_col))
    grams = toks
    if bigrams:
        # zip the array with its own tail; slice lengths clamp to 0 for
        # 0/1-token docs (slice with a negative length would throw)
        n = F.size(toks)
        tail_len = F.greatest(F.lit(0), n - 1)
        bi = F.zip_with(
            F.slice(toks, 1, tail_len),
            F.slice(toks, 2, tail_len),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
        grams = F.concat(toks, bi)
    g = docs.select(
        F.col(id_col), F.explode(grams).alias("_gram")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("_gram")), 1, 13), 16, 10)
        .cast("long")
        % F.lit(int(num_buckets))
    ).alias("bucket")
    return (
        g.select(id_col, bucket)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    *,
    num_buckets: int = 8192,
    id_col: str = "doc_id",
    text_col: str = "text",
    bigrams: bool = True,
) -> DataFrame:
    """Per-document DSIR importance log-weights of ``raw`` docs toward
    the ``target`` corpus's hashed n-gram distribution.

    Returns (id, n_grams, logw_micro, log_ratio): ``logw_micro`` is the
    exact long micro-nat sum ``sum_b c_doc[b] * (lp[b] - lq[b])`` with
    per-bucket Laplace terms ``lp = round(ln((t_b+1)/(t_total+B))*1e6)``
    and ``lq`` likewise over the raw corpus — each term quantized
    separately (the lm.py idiom) so the sum is associative and
    engine-exact. ``log_ratio`` is its double rendering (round 6).
    Positive = more target-like than the raw average; rank descending
    to select. Zero-token docs are absent (no grams, undefined weight).
    """
    rg = hashed_gram_counts(
        raw, num_buckets, id_col=id_col, text_col=text_col, bigrams=bigrams
    )
    rb = rg.groupBy("bucket").agg(F.sum("cnt").alias("rc"))
    tb = (
        hashed_gram_counts(
            target,
            num_buckets,
            id_col=id_col,
            text_col=text_col,
            bigrams=bigrams,
        )
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("tc"))
    )
    r_tot = rb.agg(F.sum("rc").alias("r_total"))
    t_tot = tb.agg(F.coalesce(F.sum("tc"), F.lit(0)).alias("t_total"))
    b_lit = F.lit(int(num_buckets)).cast("long")
    # raw buckets drive the table (every scored doc's gram exists in the
    # raw corpus by construction); target counts attach left, OOV -> 0
    ratio = (
        rb.join(tb, "bucket", "left")
        .crossJoin(r_tot)
        .crossJoin(t_tot)
        .select(
            "bucket",
            (
                F.round(
                    F.log(
                        (F.coalesce(F.col("tc"), F.lit(0)) + F.lit(1)).cast(
                            "double"
                        )
                        / (F.col("t_total") + b_lit).cast("double")
                    )
                    * F.lit(_MICRO)
                ).cast("long")
                - F.round(
                    F.log(
                        (F.col("rc") + F.lit(1)).cast("double")
                        / (F.col("r_total") + b_lit).cast("double")
                    )
                    * F.lit(_MICRO)
                ).cast("long")
            ).alias("lr"),
        )
    )
    # <= num_buckets rows no matter how large the corpora — broadcast
    # unconditionally (the hashed-feature contract; see module doc)
    return (
        rg.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.sum(F.col("cnt") * F.col("lr")).alias("logw_micro"),
        )
        .select(
            id_col,
            "n_grams",
            "logw_micro",
            F.round(F.col("logw_micro") / F.lit(1e6), 6).alias("log_ratio"),
        )
    )


def dsir_sample(
    weights: DataFrame,
    n: int,
    *,
    id_col: str = "doc_id",
    group_col: str | None = None,
    salt: str = "dsir",
    rank_col: str = "rk",
) -> DataFrame:
    """Gumbel top-k importance resampling over ``dsir_weights`` output:
    keep the ``n`` largest ``logw_micro + Gumbel`` keys (per
    ``group_col``, or globally) — a without-replacement sample with
    inclusion probability proportional to the importance weight (the
    Gumbel-max trick; the DSIR paper's resampling step).

    The Gumbel draw ``g = -ln(-ln(u))`` takes its uniform from the
    salted 52-bit md5 digest of the id, offset by +0.5 so ``u`` lies
    strictly inside (0, 1) and both logs are finite at the digest
    extremes; ``g`` is micro-quantized to a long and ADDED to
    ``logw_micro``, so the ranking key stays an exact long (engine- and
    run-stable). Ties (astronomically unlikely) break on the id.
    Output = input columns + ``rank_col``.
    """
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    digest = F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col)))
    u = (
        F.conv(F.substring(digest, 1, 13), 16, 10).cast("double") + 0.5
    ) / F.lit(_TWO52)
    g_micro = F.round(-F.log(-F.log(u)) * F.lit(_MICRO)).cast("long")
    key = (F.col("logw_micro") + g_micro).alias("_gkey")
    parts = [group_col] if group_col else []
    w = Window.partitionBy(*parts).orderBy(
        F.col("_gkey").desc(), F.col(id_col)
    )
    return (
        weights.withColumn("_gkey", key)
        .withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= n)
        .drop("_gkey")
    )
