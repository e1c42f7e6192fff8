"""Dedup operators vs pure-Python oracles on the documents fixture.

Mirrors the reference's truth-table style (spec/osm/badge_spec.rb:217-415):
every derived value is recomputed independently and compared exactly.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from osm_spark.text.dedup import (
    exact_dedup,
    jaccard_pairs,
    lsh_bands,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash16,
    simhash64,
    simhash_near_dups,
    word_ngrams,
)


@pytest.fixture(scope="module")
def docs(spark, sf_small_dir):
    return spark.read.parquet(f"{sf_small_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def pydocs(docs):
    return {r.doc_id: r.text for r in docs.collect()}


def _tokens(text: str) -> set[str]:
    return set(text.lower().split(" "))


def test_exact_dedup_groups(docs, pydocs):
    got = {r.text_hash: (r.keeper_id, r.n_dups) for r in exact_dedup(docs).collect()}
    want = {}
    for did, text in pydocs.items():
        h = hashlib.md5(text.encode()).hexdigest()
        k, n = want.get(h, (did, 0))
        want[h] = (min(k, did), n + 1)
    assert got == want


def test_minhash_signature_matches_python(docs, pydocs):
    sig = (
        minhash_signatures(docs, num_hashes=4)
        .filter(F.col("doc_id") < 5)
        .collect()
    )
    for row in sig:
        toks = _tokens(pydocs[row.doc_id])
        want = min(
            hashlib.md5(f"{row.seed}:{t}".encode()).hexdigest() for t in toks
        )
        assert row.minhash == want, (row.doc_id, row.seed)


def test_lsh_recall_against_exact_jaccard(docs, pydocs):
    """Every pair with true Jaccard ≥ 0.9 must be an LSH candidate
    (32 hashes / 16 bands → 2 rows per band; P[miss] = (1-s²)^16 ≈ 3e-12
    at s=0.9 per pair — deterministic for test purposes)."""
    sig = minhash_signatures(docs, num_hashes=32)
    cand = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(lsh_bands(sig, num_bands=16)).collect()
    }
    ids = sorted(pydocs)
    missed = []
    for i, a in enumerate(ids):
        ta = _tokens(pydocs[a])
        for b in ids[i + 1 :]:
            tb = _tokens(pydocs[b])
            j = len(ta & tb) / len(ta | tb)
            if j >= 0.9 and (a, b) not in cand:
                missed.append((a, b, j))
    assert not missed


def test_jaccard_refine_exact(docs, pydocs):
    sig = minhash_signatures(docs, num_hashes=32)
    pairs = lsh_candidate_pairs(lsh_bands(sig, num_bands=4))
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(docs, pairs, threshold=0.8).collect()
    }
    for (a, b), j in got.items():
        ta, tb = _tokens(pydocs[a]), _tokens(pydocs[b])
        want = round(len(ta & tb) / len(ta | tb), 6)
        assert j == pytest.approx(want, abs=1e-9)
        assert j >= 0.8


def _py_simhash(text: str, bits: int) -> int:
    votes = [0] * bits
    for t in sorted(_tokens(text)):
        hv = int.from_bytes(hashlib.md5(t.encode()).digest()[: bits // 8], "big")
        for b in range(bits):
            votes[b] += 1 if (hv >> b) & 1 else -1
    v = sum(1 << b for b in range(bits) if votes[b] > 0)
    if bits == 64 and v >= 1 << 63:
        v -= 1 << 64
    return v


def test_simhash16_matches_python(docs, pydocs):
    got = {r.doc_id: r.simhash for r in simhash16(docs).collect()}
    for did in list(pydocs)[:50]:
        assert got[did] == _py_simhash(pydocs[did], 16), did


def test_simhash64_matches_python(docs, pydocs):
    got = {r.doc_id: r.simhash for r in simhash64(docs).collect()}
    for did in list(pydocs)[:50]:
        assert got[did] == _py_simhash(pydocs[did], 64), did


def test_simhash_near_dups_pigeonhole(spark):
    """Pairs within Hamming ≤ 3 are always found (quadrant pigeonhole)."""
    rows = [
        (1, 0b1010),                 # base
        (2, 0b1010 ^ 0b111),         # hamming 3 from 1
        (3, (1 << 40) | 0b1010),     # hamming 1 from 1
        (4, -1),                     # far from all
    ]
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {(r.doc_a, r.doc_b): r.hamming for r in simhash_near_dups(df, 3).collect()}
    assert got == {(1, 2): 3, (1, 3): 1}


def test_simhash_near_dups_guard_and_wide_blocks(spark):
    """Recall guard: k >= blocks raises; k=5 with 6 variable-width
    segments finds every pair <= 5 (brute-force comparison)."""
    import itertools

    import pytest as _pytest

    i64 = lambda v: v - (1 << 64) if v >= (1 << 63) else v  # noqa: E731
    rows = [
        (1, 0b1010),
        (2, 0b1010 ^ 0b11111),        # hamming 5 spread over low bits
        (3, i64(0b1010 ^ ((1 << 63) | (1 << 30) | (1 << 12) | 0b11))),  # hamming 4
        (4, -1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    with _pytest.raises(ValueError):
        simhash_near_dups(df, max_hamming=12, num_blocks=4)  # unsound pairing
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_near_dups(df, max_hamming=5, num_blocks=6).collect()
    }
    exp = {}
    for (ida, sha), (idb, shb) in itertools.combinations(rows, 2):
        h = bin((sha ^ shb) & (2**64 - 1)).count("1")
        if h <= 5:
            exp[(min(ida, idb), max(ida, idb))] = h
    assert got == exp


def test_word_ngrams(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    [row] = df.select(word_ngrams("text", 3).alias("g")).collect()
    assert row.g == ["a b c", "b c d"]
    [row] = (
        spark.createDataFrame([("a b",)], "text string")
        .select(word_ngrams("text", 3).alias("g"))
        .collect()
    )
    assert row.g == []


def test_lsh_tune_operating_points():
    from osm_spark.text.dedup import lsh_tune

    # 32 hashes, 0.8 threshold -> 4 bands of 8 (s* = 0.25^(1/8) = 0.84)
    assert lsh_tune(32, 0.8) == 4
    # lower threshold -> more bands (wider recall)
    assert lsh_tune(32, 0.5) > lsh_tune(32, 0.8)
    # near-exact threshold -> 1 band (all hashes must agree)
    assert lsh_tune(32, 0.995) == 1
    import pytest as _p
    with _p.raises(ValueError):
        lsh_tune(32, 0.0)


def test_lsh_bands_from_array_identical_to_long_form(docs):
    """The shuffle-free wide-form banding must be bit-identical to the
    long-form groupBy banding for every (num_hashes, num_bands) combo in
    use."""
    from osm_spark.text.dedup import lsh_bands_from_array, minhash_array

    for nh, nb in [(32, 4), (32, 16), (8, 4)]:
        long_form = sorted(
            map(tuple, lsh_bands(minhash_signatures(docs, nh), nb).collect())
        )
        wide_form = sorted(
            map(tuple, lsh_bands_from_array(minhash_array(docs, nh), nb, nh).collect())
        )
        assert wide_form == long_form, (nh, nb)


def test_lsh_bands_from_array_plan_has_no_shuffle(docs):
    from osm_spark.text.dedup import lsh_bands_from_array, minhash_array

    plan = (
        lsh_bands_from_array(minhash_array(docs, 32), 4, 32)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # exactly one exchange: the signature aggregation's doc-keyed
    # shuffle; banding itself adds none
    assert plan.count("Exchange") == 1


def test_lsh_bands_from_array_rejects_width_mismatch(docs):
    """A signature built with a different num_hashes must raise, not
    silently band-hash a truncated signature (element_at past the end is
    NULL and concat_ws drops NULLs without error)."""
    from osm_spark.text.dedup import lsh_bands_from_array, minhash_array

    sigs16 = minhash_array(docs, 16)
    with pytest.raises(Exception, match="signature width"):
        lsh_bands_from_array(sigs16, 4, 32).collect()


def test_jaccard_signature_prune_identical_results(docs, pydocs):
    """The agreement prune must not change the refined output (the prune
    margin is a recall guard, not an approximation knob)."""
    from osm_spark.text.dedup import lsh_bands_from_array, minhash_array

    sigs = minhash_array(docs, 32)
    pairs = lsh_candidate_pairs(lsh_bands_from_array(sigs, 4, 32))
    unpruned = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in jaccard_pairs(docs, pairs, threshold=0.8).collect()
    )
    pruned = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in jaccard_pairs(
            docs, pairs, threshold=0.8, signatures=sigs
        ).collect()
    )
    assert pruned == unpruned
    # ... and the prune actually removes candidate work at this corpus
    kept = jaccard_pairs(docs, pairs, threshold=0.8, signatures=sigs, prune_margin=0.3)
    assert kept.count() == len(unpruned)
    # truncated prune digests (default 8 hex chars) and full digests
    # agree: truncation only ever inflates the agreement estimate
    full_digest = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in jaccard_pairs(
            docs, pairs, threshold=0.8, signatures=sigs, prune_hash_chars=0
        ).collect()
    )
    assert full_digest == unpruned

    # identical SHORT docs whose 3-gram shingle set is empty: the
    # pruned refine must drop the pair
    spark = docs.sparkSession
    shorts = spark.createDataFrame(
        [(1, "tiny doc"), (2, "tiny doc"), (3, "other text")],
        "doc_id long, text string",
    )
    sh = word_ngrams("text", 3)
    ssigs = minhash_array(shorts, 32, shingle=sh)
    spairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    got = jaccard_pairs(
        shorts, spairs, threshold=0.8, shingle=sh, signatures=ssigs
    ).collect()
    assert got == []


def test_jaccard_pre_partitioned_single_exchange(docs):
    """lsh_candidate_pairs(num_partitions) + pre_partitioned=True must
    (a) give identical output to the default two-exchange shape and
    (b) exchange the pair list once: the dedup shuffle doubles as the
    refine's width-setting exchange."""
    from osm_spark.text.dedup import lsh_bands_from_array, minhash_array

    sigs = minhash_array(docs, 32)
    bands = lsh_bands_from_array(sigs, 4, 32)
    default = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in jaccard_pairs(
            docs, lsh_candidate_pairs(bands), threshold=0.8, signatures=sigs
        ).collect()
    )
    par = docs.sparkSession.sparkContext.defaultParallelism * 2
    fused_df = jaccard_pairs(
        docs,
        lsh_candidate_pairs(bands, num_partitions=par),
        threshold=0.8,
        signatures=sigs,
        pre_partitioned=True,
    )
    # plan: exactly one hashpartitioning exchange on (doc_a, doc_b) —
    # the fused dedup/width shuffle; the default shape carries two.
    # Taken BEFORE the action: the AQE final plan prints a materialized
    # shuffle stage and its reuse reference as two identical Exchange
    # lines.
    plan = fused_df._jdf.queryExecution().executedPlan().toString()
    n_pair_exchanges = plan.count("hashpartitioning(doc_a")
    assert n_pair_exchanges == 1, plan
    fused = sorted((r.doc_a, r.doc_b, r.jaccard) for r in fused_df.collect())
    assert fused == default


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------


def _grams(text: str, n: int) -> set[str]:
    ws = text.lower().split(" ")
    return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}


def test_decontaminate_vs_python_oracle(spark, docs, pydocs):
    from osm_spark.text.decontam import decontaminate

    bench = docs.where(F.col("doc_id") % 41 == 0).select(
        F.substring("text", 1, 240).alias("text")
    )
    bench_grams = set()
    for did, text in pydocs.items():
        if did % 41 == 0:
            bench_grams |= _grams(text[:240], 5)

    got = {
        r.doc_id: (r.n_grams, r.n_hits, r.contaminated)
        for r in decontaminate(docs, bench, n=5).collect()
    }
    assert set(got) == set(pydocs)
    any_contaminated = any_clean = False
    for did, text in pydocs.items():
        g = _grams(text, 5)
        hits = len(g & bench_grams)
        assert got[did] == (len(g), hits, hits > 0), did
        any_contaminated |= hits > 0
        any_clean |= hits == 0
    # the fixture exercises both outcomes
    assert any_contaminated and any_clean
    # every benchmark source doc is trivially contaminated (>=5 words)
    for did in pydocs:
        if did % 41 == 0 and len(pydocs[did].split(" ")) >= 5:
            assert got[did][2], did


def test_decontaminate_short_doc_and_plan(spark, docs):
    from osm_spark.text.decontam import decontaminate

    short = spark.createDataFrame(
        [(1, "only four words here"), (2, "a b c d e f")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([("a b c d e",)], "text string")
    got = {
        r.doc_id: (r.n_grams, r.n_hits, r.contaminated)
        for r in decontaminate(short, bench, n=5).collect()
    }
    # 4-word doc: zero grams, kept, clean; 6-word doc: 2 grams, 1 hit
    assert got == {1: (0, 0, False), 2: (2, 1, True)}

    # membership join is a broadcast; the corpus's only exchange is the
    # per-doc aggregate
    plan = (
        decontaminate(docs, docs.limit(5), n=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning(doc_id") == 1, plan


def test_incremental_near_dups_matches_full_pipeline(docs):
    """Incremental (corpus-index ⋈ batch) dedup must find exactly the
    full pipeline's pairs that touch a batch doc — same banding, same
    refine — normalized to unordered pairs (incremental reports
    corpus→batch regardless of id order)."""
    from osm_spark.text.dedup import (
        incremental_near_dups,
        lsh_bands_from_array,
        minhash_array,
    )

    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    inc = incremental_near_dups(corpus, batch, 32, threshold=0.8)
    got = {(frozenset((r.doc_a, r.doc_b)), r.jaccard) for r in inc.collect()}
    # every doc_b is a batch doc; each unordered pair appears once
    rows = inc.collect()
    assert all(r.doc_b % 10 == 0 for r in rows)
    assert len(rows) == len({frozenset((r.doc_a, r.doc_b)) for r in rows})

    sigs = minhash_array(docs, 32)
    full_pairs = lsh_candidate_pairs(lsh_bands_from_array(sigs, 4, 32))
    full = jaccard_pairs(docs, full_pairs, threshold=0.8, signatures=sigs)
    want = {
        (frozenset((r.doc_a, r.doc_b)), r.jaccard)
        for r in full.collect()
        if r.doc_a % 10 == 0 or r.doc_b % 10 == 0
    }
    assert got == want and len(got) > 0
