"""Text-analysis functions vs pure-Python oracles."""

from __future__ import annotations

import hashlib
import math
import re

import pytest

from osm_spark.text.analysis import (
    LANG_MARKERS,
    fingerprint,
    language_id,
    quality_features,
    token_count_subword,
)


@pytest.fixture(scope="module")
def docs(spark, sf_small_dir):
    return spark.read.parquet(f"{sf_small_dir}/documents.parquet").cache()


def test_language_id_argmax_and_ties(spark):
    rows = [
        ("the cat and the dog is here",),       # en markers
        ("der hund und die katze ist nicht",),  # de markers
        ("xyz qrs tuv",),                       # no markers → tie → lowest code 'de'
    ]
    df = spark.createDataFrame(rows, "text string")
    got = [r.l for r in df.select(language_id("text").alias("l")).collect()]
    assert got == ["en", "de", "de"]


def test_language_id_deterministic_on_fixture(docs):
    a = docs.select("doc_id", language_id("text").alias("l")).collect()
    b = docs.select("doc_id", language_id("text").alias("l")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert all(r.l in LANG_MARKERS for r in a)


def test_quality_features_match_python(docs):
    got = {r.doc_id: r for r in quality_features(docs).collect()}
    texts = {r.doc_id: r.text for r in docs.collect()}
    stop = set(LANG_MARKERS["en"])
    for did in list(texts)[:40]:
        t = texts[did]
        words = t.lower().split(" ")
        n_chars, n_words = len(t), len(words)
        digits = sum(c.isdigit() for c in t)
        punct = len(re.sub(r"[a-zA-Z0-9 ]", "", t))
        stop_ratio = sum(w in stop for w in words) / n_words
        uniq_ratio = len(set(words)) / n_words
        score = (
            min(n_words / 100.0, 1.0) * 0.25
            + stop_ratio * 0.25
            + uniq_ratio * 0.25
            + (1.0 - digits / n_chars) * 0.125
            + (1.0 - punct / n_chars) * 0.125
        )
        r = got[did]
        assert (r.n_chars, r.n_words) == (n_chars, n_words)
        assert r.stopword_ratio == pytest.approx(round(stop_ratio, 6), abs=1e-9)
        assert r.uniq_token_ratio == pytest.approx(round(uniq_ratio, 6), abs=1e-9)
        assert r.quality_score == pytest.approx(round(score, 6), abs=1e-9)


def test_token_count_subword(spark):
    df = spark.createDataFrame([("ab cdef ghijk",)], "text string")
    [r] = df.select(token_count_subword("text", piece=4).alias("n")).collect()
    assert r.n == math.ceil(2 / 4) + math.ceil(4 / 4) + math.ceil(5 / 4)  # 1+1+2


def test_fingerprint_normalizes_whitespace(spark):
    df = spark.createDataFrame(
        [("Hello   World",), ("  hello world ",), ("hello world",)], "text string"
    )
    got = [r.f for r in df.select(fingerprint("text").alias("f")).collect()]
    want = hashlib.md5(b"hello world").hexdigest()
    assert got == [want] * 3
