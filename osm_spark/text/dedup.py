"""Deduplication operators over a ``documents(doc_id, text, ...)`` table.

Reference parity: the reference dedupes nothing itself, but its tag-map +
derived-flag machinery (SURVEY.md §2.4, lib/osm/badge.rb:574-720) is the
same shape — per-row set construction then grouped aggregation. Here the
"set" is the token/shingle set of a document.

Scale design (the 100 TB story):

- **exact_dedup** — one hash-shuffle on a 16-byte md5 of the text, never
  on the text itself; map-side partial aggregation applies.
- **MinHash+LSH** — signatures are a single explode + groupBy(doc, seed)
  (shuffle keyed by doc_id, combiner does the per-partition min), bands
  are a second narrow agg, and candidate generation is an equi self-join
  on (band, band_hash) — the classic shingle→minhash→band→bucket-join
  plan. No O(n²) stage ever materializes; only same-bucket pairs do.
- **SimHash** — 64-bit vectorized numpy fast path (one Arrow pass), plus
  a 16-bit pure-SQL formulation used for the DuckDB correctness oracle.
- Everything is Column-only except simhash64, so filters/pruning push
  into the scan and whole-stage codegen covers the pipeline.

All hash material is md5 (identical across Spark, DuckDB, Python), so
every operator is oracle-checkable bit-for-bit.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# tokenization
# ---------------------------------------------------------------------------


def tokens(text: Column | str) -> Column:
    """Distinct lowercase whitespace tokens (the document's token set)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.array_distinct(F.split(F.lower(c), " "))


def word_ngrams(text: Column | str, n: int = 3, distinct: bool = True) -> Column:
    """Word n-gram shingles, space-joined (distinct by default; pass
    ``distinct=False`` to keep repeats — e.g. repetition scoring counts
    the duplicates).

    ``sequence(1, size-n+1)`` indexed ``slice`` keeps this a pure Column
    expression (no explode until the caller wants one).
    """
    c = F.col(text) if isinstance(text, str) else text
    words = F.split(F.lower(c), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(words, i, n)),
    )
    if distinct:
        grams = F.array_distinct(grams)
    # sequence(1, 0) would run *descending* in Spark — guard short docs.
    return F.when(F.size(words) < n, F.array().cast("array<string>")).otherwise(grams)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: keeper = min id per identical text.

    Groups on ``md5(text)`` so the shuffle rows carry 32 bytes instead of
    the full document; md5 collisions are ignorable at 10^12 docs
    (2^-64-ish) and the oracle uses the same key.
    """
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_dups"))
        .select("text_hash", "keeper_id", "n_dups")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_array(
    docs: DataFrame,
    num_hashes: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle: Column | None = None,
) -> DataFrame:
    """(doc_id, sig array<string>) — the full signature as ONE row/doc.

    h_seed(doc) = min over shingles of md5(seed || ':' || shingle); the
    lexicographic min of the hex digest is a valid min-wise hash and is
    engine-portable. ``sig[seed]`` is h_seed.

    Plan: one explode to (doc, shingle), all ``num_hashes`` digests
    computed as ONE array projection per occurrence (whole-stage codegen,
    no join), then a single doc-keyed aggregation with ``num_hashes``
    min columns — the map-side combiner collapses every partition to one
    row per doc BEFORE the only shuffle, which therefore carries
    |docs| × num_hashes hashes, independent of document length. (The
    earlier form joined a distinct-vocab hash dim back to occurrences,
    materializing occurrences × num_hashes rows into a (doc, seed)
    shuffle — measured 3-4× slower at sf0.1 and quadratically worse with
    document length.)

    This wide form is the natural checkpoint/persist unit: banding, the
    candidate join and the agreement prune are all per-doc projections or
    key-joins over it — none of them needs a second doc-keyed shuffle.
    """
    sh = shingle if shingle is not None else tokens(text_col)
    exploded = docs.select(F.col(id_col).alias("doc_id"), F.explode(sh).alias("tok"))
    harr = exploded.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda s: F.md5(F.concat_ws(":", s, F.col("tok"))),
        ).alias("h"),
    )
    mins = harr.groupBy("doc_id").agg(
        *[
            F.min(F.element_at("h", i + 1)).alias(f"_m{i}")
            for i in range(num_hashes)
        ]
    )
    return mins.select(
        "doc_id",
        F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("sig"),
    )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle: Column | None = None,
) -> DataFrame:
    """(doc_id, seed, minhash) — the long (one row per hash) form of
    ``minhash_array``, for callers that band/aggregate per seed."""
    return minhash_array(docs, num_hashes, id_col, text_col, shingle).select(
        "doc_id", F.posexplode("sig").alias("seed", "minhash")
    )


def lsh_tune(num_hashes: int, threshold: float) -> int:
    """Band count whose S-curve midpoint sits nearest the target Jaccard
    threshold: with b bands of r = n/b rows, P(candidate) =
    1 − (1 − s^r)^b, which crosses ~50 % at s* = (1/b)^(1/r). Like
    ``salt_plan``, the constant is derived from the operating point
    (hash budget + refine threshold) instead of hard-coded — a different
    threshold automatically rebalances precision vs recall."""
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    best, best_gap = 1, float("inf")
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        s_star = (1.0 / b) ** (b / float(num_hashes))
        gap = abs(s_star - threshold)
        if gap < best_gap:
            best, best_gap = b, gap
    return best


def lsh_bands(signatures: DataFrame, num_bands: int = 8) -> DataFrame:
    """(doc_id, band, band_hash): hash of the ordered minhashes per band.

    band = seed mod num_bands keeps bands balanced for any num_hashes;
    the in-band order is made deterministic by sorting (seed, minhash)
    structs before concatenation (collect_list order is not).
    """
    return (
        signatures.withColumn("band", F.pmod(F.col("seed"), F.lit(num_bands)))
        .groupBy("doc_id", "band")
        .agg(
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("seed", "minhash"))),
                        lambda s: s["minhash"],
                    ),
                )
            ).alias("band_hash")
        )
    )


def lsh_bands_from_array(
    signatures: DataFrame, num_bands: int = 8, num_hashes: int = 32
) -> DataFrame:
    """(doc_id, band, band_hash) from the wide ``minhash_array`` form —
    a pure per-doc projection + explode, NO shuffle (``lsh_bands`` pays
    a (doc, band) groupBy shuffle because its input is one row per
    seed). At 10^12 docs that is one whole exchange of
    |docs| × num_hashes rows saved.

    Bit-identical to ``lsh_bands`` (tested): band = seed mod num_bands,
    minhashes concatenated in ascending seed order (seeds are unique
    within a band, so lsh_bands' (seed, minhash) struct sort is exactly
    seed order). The per-band seed layout [b, b+nb, ...] is static, so
    each band hash is plain literal-index ``element_at`` arithmetic.
    """
    structs = []
    for b in range(num_bands):
        seeds = range(b, num_hashes, num_bands)
        h = F.md5(F.concat_ws(",", *[F.element_at("sig", s + 1) for s in seeds]))
        if b == 0:
            # enforce the contract instead of assuming it: element_at past
            # the array end yields NULL and concat_ws silently DROPS it,
            # so a sig built with a different num_hashes would otherwise
            # band-hash a truncated signature with no error
            h = F.when(F.size("sig") == num_hashes, h).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "lsh_bands_from_array: signature width "
                        ),
                        F.size("sig").cast("string"),
                        F.lit(f" != num_hashes={num_hashes}"),
                    )
                )
            )
        structs.append(F.struct(F.lit(b).alias("band"), h.alias("band_hash")))
    return signatures.select(
        "doc_id", F.explode(F.array(*structs)).alias("bh")
    ).select("doc_id", F.col("bh.band").alias("band"), F.col("bh.band_hash").alias("band_hash"))


def lsh_candidate_pairs(bands: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing ≥1 band bucket.

    Equi self-join on (band, band_hash): Spark hashes both sides on the
    bucket key, so only same-bucket rows meet — the LSH promise. At scale
    a hot bucket (thousands of near-identical docs) quadratically
    explodes its own partition only; AQE skew-split handles that, and the
    distinct collapses multi-band matches map-side.

    ``num_partitions`` makes the dedup shuffle double as the
    width-setting exchange for the refine that usually follows: the raw
    pairs hash-repartition on (doc_a, doc_b) at that width and the
    distinct reuses the partitioning, so ``jaccard_pairs(...,
    pre_partitioned=True)`` needs no second exchange of the pair list.
    (Without it, AQE coalesces the distinct output by BYTES — candidate
    pairs are 16-byte rows carrying ~10³ set-ops each, so the refine
    collapses to 1-2 tasks; see jaccard_pairs.)
    """
    a = bands.select(
        F.col("doc_id").alias("doc_a"), "band", "band_hash"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), "band", "band_hash"
    )
    raw = (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    if num_partitions:
        raw = raw.repartition(num_partitions, "doc_a", "doc_b")
    return raw.distinct()


def jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle: Column | None = None,
    signatures: DataFrame | None = None,
    prune_margin: float = 0.3,
    prune_hash_chars: int = 8,
    pre_partitioned: bool = False,
) -> DataFrame:
    """Exact Jaccard refine over candidate pairs.

    Token sets ride along as array columns (two key-joins attach them to
    the pair list — AQE broadcasts when the doc side is small), then
    |A∩B| / (|A|+|B|−|A∩B|) is pure Column set math per pair: no token
    explode, no token-keyed shuffle. Cost is O(candidate pairs × avg doc
    length) in-partition work, not a 40×-row join intermediate.

    ``signatures`` (the wide ``minhash_array`` output the caller already
    built for banding) enables a **signature-agreement prune**: the
    fraction of agreeing minhashes is an unbiased Jaccard estimate, so
    pairs whose estimate falls below ``threshold − prune_margin`` are
    dropped BEFORE the token arrays attach — the heavy joins and the
    set-intersection math then run only on plausibly-passing pairs. The
    margin is a one-sided recall guard, and the guarantee is
    PROBABILISTIC, not absolute: a true pair at Jaccard exactly =
    threshold has agreement ~ Binomial(n, t)/n, so with n=32 and the
    default margin 0.3 its drop probability is ≈1e-6 (≈4.7σ at t=0.8);
    the probability decays super-exponentially for pairs above the
    threshold, so realistic passing pairs (J ≫ t) are effectively never
    dropped, but across ~10^9 exactly-boundary pairs some drops WOULD
    occur — callers needing unconditional equality with the unpruned
    refine pass ``signatures=None`` (the gated query's equality is
    verified hash-exact on its corpora, where no boundary pair trips).
    The pairs the band join admits *by chance* (one lucky band out of
    many, true Jaccard well below t) are exactly the ones the prune
    removes. Signature rows are ~num_hashes·33 B — an order of magnitude
    lighter than token arrays.

    The prune compares digests truncated to ``prune_hash_chars`` hex
    chars (default 8 → 32 bits/hash): truncation can only make DISTINCT
    digests collide (p ≈ 2⁻³² per hash, slightly inflating the agreement
    estimate), never split equal ones — strictly recall-safe, and the
    prune-join payload shrinks 4× vs full md5 hex (measured ~15 % off
    the whole refine at sf0.1, where dense near-dup clusters make the
    prune itself the overhead). Set 0 to compare full digests.

    The pair list is explicitly repartitioned to cluster parallelism
    first: AQE coalesces post-shuffle partitions by BYTES, and candidate
    pairs are 16-byte rows that each carry ~10³ set-intersection ops —
    byte-sized coalescing collapsed the refine to 1-2 tasks (measured
    4× the whole query's wall). The extra shuffle moves only the skinny
    id pairs; the CPU-heavy refine then runs at full width. Callers that
    already width-partitioned the pair list on (doc_a, doc_b) — e.g.
    ``lsh_candidate_pairs(..., num_partitions=par)`` — pass
    ``pre_partitioned=True`` to skip the redundant exchange (Catalyst
    keeps user-requested repartitions even when the child partitioning
    already matches; measured two full pair-list exchanges → one).
    """
    sh = shingle if shingle is not None else tokens(text_col)
    if not pre_partitioned:
        par = pairs.sparkSession.sparkContext.defaultParallelism * 2
        pairs = pairs.repartition(par, "doc_a", "doc_b")
    if signatures is not None:
        if prune_hash_chars:
            signatures = signatures.select(
                "doc_id",
                F.transform(
                    "sig", lambda h: F.substring(h, 1, prune_hash_chars)
                ).alias("sig"),
            )
        sa = signatures.select(
            F.col("doc_id").alias("doc_a"), F.col("sig").alias("_sig_a")
        )
        sb = signatures.select(
            F.col("doc_id").alias("doc_b"), F.col("sig").alias("_sig_b")
        )
        agree = F.size(
            F.filter(
                F.zip_with(F.col("_sig_a"), F.col("_sig_b"), lambda x, y: x == y),
                lambda v: v,
            )
        )
        est = agree / F.size(F.col("_sig_a")).cast("double")
        pairs = (
            pairs.join(sa, "doc_a")
            .join(sb, "doc_b")
            .filter(est >= F.lit(threshold - prune_margin))
            .select("doc_a", "doc_b")
        )
    ts = docs.select(F.col(id_col).alias("doc_id"), sh.alias("toks"))
    ta = ts.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    tb = ts.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    n_inter = F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
    denom = (F.size(F.col("toks_a")) + F.size(F.col("toks_b")) - n_inter).cast("double")
    return (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select("doc_a", "doc_b", F.round(n_inter / denom, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def incremental_near_dups(
    corpus: DataFrame,
    batch: DataFrame,
    num_hashes: int = 32,
    num_bands: int | None = None,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_sigs: DataFrame | None = None,
) -> DataFrame:
    """Dedup an INCOMING batch against an existing corpus without ever
    re-pairing corpus × corpus — the production shape of continuous
    ingestion (a crawl drop lands daily; the corpus index is already
    built and stored).

    Returns (doc_a, doc_b, jaccard) where ``doc_b`` is always a batch
    doc and ``doc_a`` is a corpus doc OR an earlier batch doc
    (doc_a < doc_b within the batch, so each duplicate relationship
    emits once). Candidate generation is the LSH band index:
    corpus bands ⋈ batch bands on (band, band_hash) — the corpus side
    is touched by ONE equi-join keyed on the bucket hash (at 10^12 docs
    this is the stored index table, bucketable on band_hash so the join
    co-locates), and candidate volume scales with the BATCH size, not
    the corpus. Batch-internal dups come from the batch self-join
    (small × small). The exact Jaccard refine is ``jaccard_pairs`` over
    the union docs with the signature-agreement prune.

    ``corpus_sigs``: pass the stored ``minhash_array`` output of the
    corpus (the index you persist in production) to skip recomputing
    signatures over 10^12 documents per batch; when omitted it is
    computed (the gate/test path). Ids must be disjoint across corpus
    and batch."""
    nb = num_bands if num_bands is not None else lsh_tune(num_hashes, threshold)
    sig_c = (
        corpus_sigs
        if corpus_sigs is not None
        else minhash_array(corpus, num_hashes, id_col, text_col)
    )
    sig_b = minhash_array(batch, num_hashes, id_col, text_col)
    bands_c = lsh_bands_from_array(sig_c, nb, num_hashes)
    bands_b = lsh_bands_from_array(sig_b, nb, num_hashes)
    b_side = bands_b.select(F.col("doc_id").alias("doc_b"), "band", "band_hash")
    cross = (
        bands_c.select(F.col("doc_id").alias("doc_a"), "band", "band_hash")
        .join(b_side, ["band", "band_hash"])
        .select("doc_a", "doc_b")
    )
    within = (
        bands_b.select(F.col("doc_id").alias("doc_a"), "band", "band_hash")
        .join(b_side, ["band", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    par = batch.sparkSession.sparkContext.defaultParallelism * 2
    pairs = (
        cross.unionByName(within)
        .repartition(par, "doc_a", "doc_b")
        .distinct()
    )
    all_docs = corpus.select(id_col, text_col).unionByName(
        batch.select(id_col, text_col)
    )
    return jaccard_pairs(
        all_docs,
        pairs,
        id_col=id_col,
        text_col=text_col,
        threshold=threshold,
        signatures=sig_c.unionByName(sig_b),
        pre_partitioned=True,
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash16(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """16-bit SimHash as a pure-SQL plan (the oracle-checkable variant).

    Per token: hv = int(first 4 hex chars of md5(token)); per bit b:
    vote +1 if bit set else −1; simhash bit b = (sum > 0). Expressed as
    explode(tokens) × explode(bits 0..15) → two aggregations. The first
    shuffle is keyed by doc_id and combiner-reduced, so width is 16 longs
    per doc regardless of document length.
    """
    hexv = (
        lambda h, j: F.instr(F.lit("0123456789abcdef"), F.substring(h, j + 1, 1)) - 1
    )
    tok = docs.select(F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("tok"))
    h = F.md5(F.col("tok"))
    tok = tok.select(
        "doc_id",
        (
            hexv(h, 0) * 4096 + hexv(h, 1) * 256 + hexv(h, 2) * 16 + hexv(h, 3)
        ).alias("hv"),
    )
    votes = (
        tok.select("doc_id", "hv", F.explode(F.sequence(F.lit(0), F.lit(15))).alias("bit"))
        .groupBy("doc_id", "bit")
        .agg(
            F.sum(
                F.when(F.expr("(hv >> bit) & 1") == 1, 1).otherwise(-1)
            ).alias("vote")
        )
    )
    return votes.groupBy("doc_id").agg(
        F.sum(F.when(F.col("vote") > 0, F.expr("1 << bit")).otherwise(0))
        .cast("long")
        .alias("simhash")
    )


def simhash64(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash, vectorized numpy inside mapInPandas (fast path).

    One Arrow pass; per batch, token hashes are computed once per unique
    token (md5 → first 8 bytes) and votes accumulate via a numpy
    bincount over (doc, bit) — no per-row Python. Golden-tested against
    a pure-Python oracle (tests/test_dedup.py).
    """
    import hashlib

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            toks = pdf[text_col].str.lower().str.split(" ").map(lambda t: sorted(set(t)))
            flat = [t for row in toks for t in row]
            uniq = sorted(set(flat))
            hv = np.array(
                [
                    int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
                    for t in uniq
                ],
                dtype=np.uint64,
            )
            lut = {t: i for i, t in enumerate(uniq)}
            bits = ((hv[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(
                np.int64
            ) * 2 - 1  # (uniq, 64) in {-1, +1}
            out = np.empty(len(pdf), dtype=np.uint64)
            for r, row in enumerate(toks):
                idx = np.fromiter((lut[t] for t in row), dtype=np.int64, count=len(row))
                votes = bits[idx].sum(axis=0)
                out[r] = np.packbits(votes > 0, bitorder="little").view(np.uint64)[0]
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].to_numpy(), "simhash": out.astype(np.int64)}
            )

    return docs.select(id_col, text_col).mapInPandas(gen, "doc_id long, simhash long")


def simhash_near_dups(
    simhashes: DataFrame, max_hamming: int = 3, num_blocks: int | None = None
) -> DataFrame:
    """Near-dup pairs by Hamming distance ≤ ``max_hamming`` over 64-bit
    simhashes.

    Scale path: split the 64 bits into ``num_blocks`` contiguous segments
    (pigeonhole — any pair within Hamming ``num_blocks - 1`` agrees on
    ≥1 whole segment), equi-join per segment, verify with
    bit_count(xor). Avoids the O(n²) cross join. Recall is guaranteed
    only when ``max_hamming < num_blocks``, so that is enforced; note
    more blocks means narrower segments and quadratically larger
    candidate sets — k=3 with 4×16-bit segments is the practical point.
    """
    if num_blocks is None:
        num_blocks = max(4, max_hamming + 1)
    if not 1 <= num_blocks <= 64:
        raise ValueError(f"num_blocks must be in [1, 64], got {num_blocks}")
    if max_hamming >= num_blocks:
        raise ValueError(
            f"blocked candidate generation only guarantees recall for "
            f"Hamming < num_blocks: max_hamming={max_hamming} needs "
            f">= {max_hamming + 1} blocks, got {num_blocks}"
        )
    # Segment i covers width w_i ∈ {floor(64/b), ceil(64/b)} bits starting
    # at offset off_i; offsets/widths are compile-time literals.
    base, extra = divmod(64, num_blocks)
    widths = [base + (1 if i < extra else 0) for i in range(num_blocks)]
    offsets = [sum(widths[:i]) for i in range(num_blocks)]
    seg_val = None
    for i, (off, w) in enumerate(zip(offsets, widths)):
        mask = (1 << w) - 1
        v = F.expr(f"(simhash >> {off}) & {mask}")
        seg_val = F.when(F.col("q") == i, v) if seg_val is None else seg_val.when(
            F.col("q") == i, v
        )
    quads = simhashes.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(num_blocks - 1))).alias("q"),
    ).withColumn("qval", seg_val)
    a = quads.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "q", "qval"
    )
    b = quads.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "q", "qval"
    )
    return (
        a.join(b, ["q", "qval"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
