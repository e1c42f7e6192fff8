"""Text analysis: language-ID, quality scoring, token counting,
fingerprinting — all pure Column expressions (JVM-side, oracle-checkable).

Reference parity: these are the engine's analog of the reference's
derived-flag layer (SURVEY.md §2.2 P11, §2.7 F8-F16): deterministic
per-row scalar derivations feeding grouped aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
# Deterministic + oracle-portable; a production build swaps in real
# frequency tables (same plan shape: literal array containment votes).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht", "ist", "ein"),
    "en": ("the", "a", "of", "and", "to", "is", "in"),
    "es": ("el", "la", "los", "de", "que", "es", "un"),
    "fr": ("le", "la", "les", "et", "est", "une", "dans"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2", "you3", "wo3"),
}


def _words(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(c), " ")


def language_id(text: Column | str) -> Column:
    """Predicted language: argmax of marker-token hits, ties broken by
    language code ascending (deterministic). Pure Column expression —
    the vote for each language is a `filter(words, in-list)` size."""
    words = _words(text)
    scored = F.array(
        *[
            F.struct(
                F.size(
                    F.filter(words, lambda w: w.isin(*LANG_MARKERS[lang]))
                ).alias("score"),
                # negate the tie-break via max: store lang descending rank
                F.lit(lang).alias("lang"),
            )
            for lang in sorted(LANG_MARKERS, reverse=True)
        ]
    )
    # array_max over (score, lang) structs: max score wins; among equal
    # scores the lexicographically greatest lang in reversed order —
    # i.e. we iterate langs reverse-sorted so array_max's struct compare
    # (score first, then lang) picks the *highest* lang on ties; to make
    # ties resolve to the *lowest* code instead, compare on (score,
    # reverse_rank) where reverse_rank is higher for earlier codes.
    ranked = F.array(
        *[
            F.struct(
                F.size(
                    F.filter(words, lambda w: w.isin(*LANG_MARKERS[lang]))
                ).alias("score"),
                F.lit(len(LANG_MARKERS) - i).alias("rank"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(sorted(LANG_MARKERS))
        ]
    )
    return F.array_max(ranked)["lang"]


def quality_features(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document quality features + composite score.

    Features follow the standard web-text quality recipe (length, mean
    word length, digit/punct density, stopword ratio, distinct-token
    ratio); the composite is a fixed linear blend. Everything stays in
    whole-stage codegen.
    """
    t = F.col(text_col)
    words = _words(text_col)
    n_chars = F.length(t)
    n_words = F.size(words)
    stop = LANG_MARKERS["en"]
    digits = n_chars - F.length(F.regexp_replace(t, "[0-9]", ""))
    punct = n_chars - F.length(F.regexp_replace(t, "[^a-zA-Z0-9 ]", ""))
    stop_ratio = F.size(F.filter(words, lambda w: w.isin(*stop))) / n_words.cast("double")
    uniq_ratio = F.size(F.array_distinct(words)) / n_words.cast("double")
    mean_word_len = (n_chars - n_words + 1) / n_words.cast("double")
    score = (
        F.least(n_words.cast("double") / 100.0, F.lit(1.0)) * 0.25
        + stop_ratio * 0.25
        + uniq_ratio * 0.25
        + (1.0 - digits / n_chars.cast("double")) * 0.125
        + (1.0 - punct / n_chars.cast("double")) * 0.125
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(uniq_ratio, 6).alias("uniq_token_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


def token_count_subword(text: Column | str, piece: int = 4) -> Column:
    """BPE-ish token count: each word contributes ceil(len/piece) pieces
    (a deterministic stand-in for a learned merges table; the plan shape
    — transform + aggregate over the word array — is what a real BPE
    UDF would replace)."""
    words = _words(text)
    return F.aggregate(
        F.transform(words, lambda w: F.ceil(F.length(w) / float(piece))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def repetition_stats(text: Column | str, n: int = 3) -> tuple[Column, Column, Column]:
    """(total n-grams, distinct n-grams, repetition ratio) per document.

    The boilerplate/spam signal the standard web-text quality recipes
    use: the fraction of word n-grams that are repeats of an earlier
    n-gram in the SAME document (0 = no repetition, →1 = the document
    is one phrase looping). Pure Column expression — the n-gram list is
    ``word_ngrams(distinct=False)`` (text/dedup.py: one shared
    construction incl. the short-doc guard), because the count of
    duplicates is the point.
    """
    from osm_spark.text.dedup import word_ngrams

    c = F.col(text) if isinstance(text, str) else text
    grams = word_ngrams(c, n, distinct=False)
    # total derives from the SAME gram construction (short-doc guard
    # included) — no parallel re-derivation to drift out of sync
    total = F.size(grams).cast("long")
    distinct = F.size(F.array_distinct(grams)).cast("long")
    ratio = F.when(total <= 0, F.lit(0.0)).otherwise(
        F.round(1.0 - distinct / total.cast("double"), 6)
    )
    return total, distinct, ratio


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text
    (the engine's canonical content id; collision-safe at 10^12 docs)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.trim(F.lower(c)), " +", " "))
