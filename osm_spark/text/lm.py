"""Corpus-trained unigram LM document scoring (perplexity-filter analog).

CCNet ranks web documents by language-model perplexity and keeps the
low-perplexity (fluent) tail. The container has no KenLM, so the model
here is the honest distributed core of that pipeline: a unigram LM
trained FROM the corpus (two-pass: count → score), which is the
standard first-stage quality signal and the exact shape a 5-gram LM
join would take. Re-expresses the reference's derived-quality-flag
idiom (SURVEY §2.2 P11) as a corpus-global model.

Exactness
---------
Float log-prob SUMS are order-dependent (Spark's partial aggregation
order varies run to run), so a naive implementation can never be
value-hash gated — the same trap fixed-point PageRank avoids
(graph/pagerank.py). Per-word log-probs are therefore quantized to
MICRO-NATS as longs at the word level:

    lw(word) = round(ln((c + 1) / (total + V)) * 1e6)    # Laplace

(c = corpus count, total = token mass, V = vocab size — all integers,
so the double inside ln() is bit-identical in any engine). Long sums
are associative: per-doc totals are exact and replayable. The only
cross-engine risk is ln() differing in its last ulp exactly at a
0.5 micro-nat rounding boundary (~1e-10 per word) — the same accepted
trade as the cosine oracle's round-6.

Scale design (10^12-doc design point)
-------------------------------------
- Pass 1 (train): one shuffle of (word) with map-side combine — each
  partition pre-reduces to its distinct words, so the exchange carries
  the per-partition vocabulary, not the token stream.
- total/V ride as a 1-row cross join (broadcast of two scalars), never
  a driver collect.
- Pass 2 (score): tokens join vocab on word. Web-corpus vocabularies
  (billions of distinct tokens with URLs/typos) can exceed the
  broadcast ceiling, so the join strategy is explicit: 'broadcast' for
  bounded vocabularies, 'shuffle' (shuffle_hash, build on the vocab
  side) past it, 'auto' broadcasts while vocab rows × 128 B fit
  ``salting.BROADCAST_MAX_BYTES`` (``salting.keyed_join``). The row
  count is one memoized count over the already-combined aggregate, the
  catalog-statistic analog (same role as pip_join's strategy probe).
- Zipf skew: the head word ("the") concentrates its shuffle key on the
  shuffle path; AQE skew-join splitting handles the probe side, and
  the per-doc re-aggregation is on doc_id, which is uniform.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.pipeline.salting import keyed_join

# a vocab row: the word string + its long count, with row overhead
_VOCAB_ROW_BYTES = 128


def tokenize(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, word) — whitespace tokens, one row per occurrence."""
    return docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), r"\s+")).alias("word"),
    ).where(F.col("word") != "")


def train_unigram(tokens: DataFrame) -> DataFrame:
    """(word, c) corpus counts — map-side combined, one shuffle."""
    return tokens.groupBy("word").agg(F.count("*").alias("c"))


def lm_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_join: str = "auto",
) -> DataFrame:
    """Per-document unigram LM score over the corpus's own model.

    Returns (id, n_tokens, sum_logp_micro, mean_logp): sum_logp_micro
    is the exact long sum of Laplace-smoothed per-word log-probs in
    micro-nats (the value-hash gate column); mean_logp its double
    rendering rounded to 6 decimals. More negative = less fluent under
    the corpus model; rank ascending to find boilerplate/gibberish.
    Documents with zero tokens are absent (their score is undefined);
    left-join from the source table if every row must come back.
    """
    toks = tokenize(docs, id_col, text_col)
    vocab = train_unigram(toks)
    stats = vocab.agg(
        F.sum("c").alias("total"), F.count("*").alias("v_size")
    )
    est = None
    if vocab_join == "auto":
        from osm_spark.pipeline.stats import memoized_count

        est = memoized_count(vocab) * _VOCAB_ROW_BYTES
    lw = F.round(
        F.log(
            (F.col("c") + F.lit(1)).cast("double")
            / (F.col("total") + F.col("v_size")).cast("double")
        )
        * F.lit(1000000.0)
    ).cast("long")
    return (
        keyed_join(toks, vocab, "word", vocab_join, est_bytes=est, label="vocab_join")
        .crossJoin(stats)
        .select(id_col, lw.alias("lw"))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("lw").alias("sum_logp_micro"),
        )
        .select(
            id_col,
            "n_tokens",
            "sum_logp_micro",
            F.round(
                F.col("sum_logp_micro") / F.lit(1e6) / F.col("n_tokens"), 6
            ).alias("mean_logp"),
        )
    )


def lm_score_against(
    model_docs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_join: str = "shuffle",
) -> DataFrame:
    """Score ``docs`` under a unigram model trained on ``model_docs`` —
    the continuous-ingestion form of ``lm_score``: the standing corpus
    IS the reference model and the incoming batch is scored against it
    (in production the vocab is the stored ``train_unigram`` table, not
    retrained per batch).

    Out-of-vocabulary words take the Laplace floor count 0 →
    ``ln(1 / (total + V))`` (a LEFT join + coalesce, so unseen words
    penalize instead of silently vanishing — ``lm_score``'s inner join
    is only correct because its model and its documents are the same
    corpus). Same micro-nat quantized longs, same (id, n_tokens,
    sum_logp_micro, mean_logp) output, SQL-replayable."""
    if vocab_join not in ("broadcast", "shuffle"):
        raise ValueError(
            f"vocab_join must be broadcast|shuffle, got {vocab_join!r}"
        )
    vocab = train_unigram(tokenize(model_docs, id_col, text_col))
    stats = vocab.agg(
        F.sum("c").alias("total"), F.count("*").alias("v_size")
    )
    hinted = (
        F.broadcast(vocab)
        if vocab_join == "broadcast"
        else vocab.hint("shuffle_hash")
    )
    toks = tokenize(docs, id_col, text_col)
    lw = F.round(
        F.log(
            (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1)).cast("double")
            / (F.col("total") + F.col("v_size")).cast("double")
        )
        * F.lit(1000000.0)
    ).cast("long")
    return (
        toks.join(hinted, "word", "left")
        .crossJoin(stats)
        .select(id_col, lw.alias("lw"))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("lw").alias("sum_logp_micro"),
        )
        .select(
            id_col,
            "n_tokens",
            "sum_logp_micro",
            F.round(
                F.col("sum_logp_micro") / F.lit(1e6) / F.col("n_tokens"), 6
            ).alias("mean_logp"),
        )
    )


def ccnet_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    vocab_join: str = "auto",
) -> DataFrame:
    """CCNet-style per-language perplexity terciles (Wenzek et al. 2020):
    every document is labeled head / middle / tail by where its
    per-token LM score falls within ITS LANGUAGE's distribution — the
    bucketing CCNet uses to keep the fluent third of each language
    rather than applying one global threshold that high-resource
    languages would dominate.

    Composition of two exact primitives: ``lm_score`` (micro-nat long
    sums) and the histogram disc-quantile machinery
    (text/quantiles.histogram_quantiles — exact without sorting the
    corpus). The per-doc metric is the mean per-token log-prob in
    NANO-nats, ``logp_nano = round(sum_logp_micro * 1000.0 /
    n_tokens)``: one multiply (exact — the micro sum is far below 2^53)
    and one correctly-rounded divide, so both engines compute identical
    doubles and the long quantization is replayable.

    Tercile cuts are the disc-quantile VALUES at q = 1/3 and 2/3
    (always actual data values); bucket = 'head' when logp_nano ≥
    t_hi (most fluent — CCNet's head is LOWEST perplexity), 'middle'
    when ≥ t_lo, else 'tail'. A single-doc language is its own head
    (both cuts equal its value) — deterministic, no special case.

    Scale shape: lm_score's two passes as documented there; the lang
    attach is a doc_id-keyed equi-join (uniform key); the tercile table
    is one row per language (≤ a few hundred for any web corpus) and
    broadcasts. Output: (id, lang, logp_nano, bucket).
    """
    scored = lm_score(docs, id_col, text_col, vocab_join)
    m = F.round(
        F.col("sum_logp_micro").cast("double")
        * F.lit(1000.0)
        / F.col("n_tokens").cast("double")
    ).cast("long")
    s = scored.join(docs.select(id_col, lang_col), id_col).select(
        id_col, lang_col, m.alias("logp_nano")
    )
    from osm_spark.text.quantiles import histogram_quantiles

    qs = histogram_quantiles(s, lang_col, "logp_nano", [1 / 3, 2 / 3])
    thr = qs.groupBy(lang_col).agg(
        F.max(F.when(F.col("q") < 0.5, F.col("logp_nano"))).alias("_t_lo"),
        F.max(F.when(F.col("q") >= 0.5, F.col("logp_nano"))).alias("_t_hi"),
    )
    bucket = (
        F.when(F.col("logp_nano") >= F.col("_t_hi"), F.lit("head"))
        .when(F.col("logp_nano") >= F.col("_t_lo"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        s.join(F.broadcast(thr), lang_col)
        .select(id_col, lang_col, "logp_nano", bucket.alias("bucket"))
    )


def doc_bigrams(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, w1, w2) — adjacent token pairs per document, generated as a
    pure Column program (zero shuffle: one array transform + explode;
    empty tokens dropped FIRST so doubled spaces don't break
    adjacency)."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), " "), lambda w: F.length(w) > 0
    )
    pairs = F.expr(
        "transform(slice(_toks, 1, greatest(size(_toks) - 1, 0)), "
        "(w, i) -> struct(w AS w1, _toks[i + 1] AS w2))"
    )
    return (
        docs.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), toks.alias("_toks"))
        .select(id_col, F.explode(pairs).alias("_p"))
        .select(id_col, F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    )


def bigram_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bigram_join: str = "shuffle",
) -> DataFrame:
    """Per-document BIGRAM LM score over the corpus's own model — the
    fluency upgrade on ``lm_score``: unigram scoring cannot tell
    shuffled words from prose, the conditional P(w2|w1) can (the
    standard perplexity-filter refinement, e.g. CCNet's 5-gram LM —
    this is its exact 2-gram little sibling, SQL-replayable).

    P(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V)   (Laplace over the
    unigram vocabulary V; unseen continuations fall to the w1 floor,
    unseen w1 to 1/V). Same micro-nat per-pair quantize → exact long
    sum as lm_score. Returns (id, n_bigrams, sum_logp_micro,
    mean_logp); single-token and empty documents are absent.

    Scale: the bigram model is one map-side-combined exchange; scoring
    joins doc pairs to the model on the (w1, w2) composite then to the
    unigram counts on w1 — both shuffle_hash by default (a web-scale
    bigram table dwarfs any broadcast ceiling; 'broadcast' is for
    curated reference models)."""
    if bigram_join not in ("broadcast", "shuffle"):
        raise ValueError(
            f"bigram_join must be broadcast|shuffle, got {bigram_join!r}"
        )
    pairs = doc_bigrams(docs, id_col, text_col)
    model = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    uni = tokenize(docs, id_col, text_col).groupBy("word").agg(
        F.count(F.lit(1)).alias("c1")
    )
    v = uni.agg(F.count(F.lit(1)).alias("v_size"))

    def _h(df):
        return F.broadcast(df) if bigram_join == "broadcast" else df.hint(
            "shuffle_hash"
        )

    j = (
        pairs.join(_h(model), ["w1", "w2"], "left")
        .join(_h(uni.withColumnRenamed("word", "w1")), "w1", "left")
        .crossJoin(F.broadcast(v))
    )
    lw = F.round(
        F.log(
            (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1)).cast("double")
            / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v_size")).cast(
                "double"
            )
        )
        * F.lit(1000000.0)
    ).cast("long")
    return (
        j.select(id_col, lw.alias("lw"))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("lw").alias("sum_logp_micro"),
        )
        .select(
            id_col,
            "n_bigrams",
            "sum_logp_micro",
            F.round(
                F.col("sum_logp_micro") / F.lit(1e6) / F.col("n_bigrams"), 6
            ).alias("mean_logp"),
        )
    )
