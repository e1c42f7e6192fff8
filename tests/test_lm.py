"""Unigram LM scoring (osm_spark/text/lm.py) vs a python replay."""

from __future__ import annotations

import math

import pytest

from osm_spark.text.lm import lm_score, tokenize, train_unigram


def _py_lm(docs: list[tuple[int, str]]):
    toks = [(d, w) for d, t in docs for w in t.split() if w]
    counts: dict[str, int] = {}
    for _, w in toks:
        counts[w] = counts.get(w, 0) + 1
    total, v = sum(counts.values()), len(counts)
    out: dict[int, tuple[int, int, float]] = {}
    for d, _ in docs:
        ws = [w for dd, w in toks if dd == d]
        if not ws:
            continue
        s = sum(
            int(round(math.log((counts[w] + 1) / (total + v)) * 1e6))
            for w in ws
        )
        out[d] = (len(ws), s, round(s / 1e6 / len(ws), 6))
    return out


DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the the the the"),          # head-word heavy: high prob
    (3, "zyx qwv unique tokens"),    # tail words: low prob
    (4, "the cat"),
    (5, ""),                          # zero tokens: absent from output
]


def test_lm_score_matches_python_replay(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.sum_logp_micro, r.mean_logp)
        for r in lm_score(df).collect()
    }
    assert got == _py_lm(DOCS)
    assert 5 not in got


def test_lm_score_ranks_fluent_above_gibberish(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    m = {r.doc_id: r.mean_logp for r in lm_score(df).collect()}
    assert m[2] > m[1] > m[3]  # head words > mixed > all-tail


def test_lm_score_shuffle_path_identical_to_broadcast(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    b = sorted(map(tuple, lm_score(df, vocab_join="broadcast").collect()))
    s = sorted(map(tuple, lm_score(df, vocab_join="shuffle").collect()))
    assert b == s


def test_lm_score_rejects_bad_strategy(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    with pytest.raises(ValueError, match="vocab_join"):
        lm_score(df, vocab_join="sortmerge")


def test_lm_score_auto_probe_is_memoized(spark, count_jobs):
    """The auto vocab-size probe is a memoized count: a second call over
    a freshly built, identical frame launches no Spark job."""

    def docs():
        return spark.sql(
            "SELECT * FROM VALUES (1, 'memo probe words'), (2, 'probe twice')"
            " AS t(doc_id, text)"
        )

    lm_score(docs())
    _, jobs = count_jobs(lambda: lm_score(docs()))
    assert jobs == 0


def test_train_unigram_counts(spark):
    df = spark.createDataFrame([(1, "a b a"), (2, "b")], "doc_id long, text string")
    got = {r.word: r.c for r in train_unigram(tokenize(df)).collect()}
    assert got == {"a": 2, "b": 2}


def _bucket_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_ccnet_buckets_terciles_within_language(spark):
    from osm_spark.text.lm import ccnet_buckets

    # 9 docs in one language with strictly ordered fluency: docs built
    # from a shared common word ('a') vs increasing amounts of unique
    # (rare -> low-prob) words give strictly decreasing scores.
    rows = [
        (i, " ".join(["a"] * (9 - i) + [f"rare{i}_{j}" for j in range(i)]), "en")
        for i in range(9)
    ]
    got = {
        r["doc_id"]: r["bucket"]
        for r in ccnet_buckets(_bucket_df(spark, rows)).collect()
    }
    # doc 0 is all common words (most fluent) -> head; doc 8 all rare -> tail
    assert got[0] == "head" and got[8] == "tail"
    buckets = [got[i] for i in range(9)]
    # monotone: once past head it never returns (score strictly decreasing)
    order = {"head": 0, "middle": 1, "tail": 2}
    assert all(order[buckets[i]] <= order[buckets[i + 1]] for i in range(8))
    assert {"head", "middle", "tail"} == set(buckets)


def test_ccnet_buckets_single_doc_language_is_head(spark):
    from osm_spark.text.lm import ccnet_buckets

    rows = [(1, "x y z", "fr"), (2, "a a a", "en"), (3, "a b b", "en")]
    got = {r["doc_id"]: r["bucket"] for r in ccnet_buckets(_bucket_df(spark, rows)).collect()}
    assert got[1] == "head"  # its own tercile cuts equal its value


def test_ccnet_buckets_per_language_not_global(spark):
    from osm_spark.text.lm import ccnet_buckets

    # lang 'lo' docs score far below every 'hi' doc globally, but each
    # language still gets its own head — the point of CCNet bucketing.
    rows = [
        (1, "a a a a", "hi"),
        (2, "a a a b", "hi"),
        (3, "a a b c", "hi"),
        (4, "q1 q2 q3 q4", "lo"),
        (5, "q5 q6 q7 q8", "lo"),
        (6, "q9 q10 q11 q12 q13 q14", "lo"),
    ]
    got = {r["doc_id"]: r["bucket"] for r in ccnet_buckets(_bucket_df(spark, rows)).collect()}
    assert "head" in {got[4], got[5], got[6]}


def test_doc_bigrams_adjacency(spark):
    from osm_spark.text.lm import doc_bigrams

    d = spark.createDataFrame(
        [(1, "a  b c"), (2, "solo"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    got = {(r.doc_id, r.w1, r.w2) for r in doc_bigrams(d).collect()}
    # doubled space does NOT break adjacency; 1-token/empty docs vanish
    assert got == {(1, "a", "b"), (1, "b", "c")}


def test_bigram_score_python_replay(spark):
    import math

    from osm_spark.text.lm import bigram_score

    texts = {
        1: "the cat sat on the mat",
        2: "the dog sat on the mat",
        3: "mat the on sat cat the",  # shuffled words, same unigrams
    }
    d = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_bigrams, r.sum_logp_micro)
        for r in bigram_score(d).collect()
    }
    # python replay
    from collections import Counter

    uni = Counter(w for t in texts.values() for w in t.split())
    v = len(uni)
    big = Counter(
        (ws[i], ws[i + 1])
        for t in texts.values()
        for ws in [t.split()]
        for i in range(len(ws) - 1)
    )
    for did, t in texts.items():
        ws = t.split()
        s = 0
        for i in range(len(ws) - 1):
            p = (big[(ws[i], ws[i + 1])] + 1) / (uni[ws[i]] + v)
            q = math.log(p) * 1e6
            s += int(math.copysign(math.floor(abs(q) + 0.5), q))
        assert got[did] == (len(ws) - 1, s)
    # the bigram model must rank shuffled text BELOW its prose twin
    # while a unigram model cannot separate them
    from osm_spark.text.lm import lm_score

    u = {r.doc_id: r.sum_logp_micro for r in lm_score(d).collect()}
    assert u[1] == u[3]  # unigram-blind
    assert got[3][1] < got[1][1]  # bigram catches the shuffle
