"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``: flagship PIP-join query on sf0.001.
``queries()``: one entry per implemented operator family (SURVEY.md §2),
each runnable at any sf dir. ``oracle_sql()``: DuckDB-equivalent ANSI SQL
for the value-hash correctness gate; spatial operators that SQL cannot
express (PIP refine, kNN ring search, contours) are registered without an
oracle → rows-only check, and their exactness is covered by pytest goldens
against pure-Python oracles instead.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _prep(spark: SparkSession) -> None:
    from osm_spark.session import ensure_workers_can_import

    ensure_workers_can_import(spark)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _prep(spark)
    from osm_spark.pipeline.flagship import flagship_query

    return flagship_query(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# Operator queries. Each maps to SURVEY.md §2 ids (noted inline) and has an
# exactly-matching DuckDB oracle below unless marked rows-only.
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2/A10 aggregate stack (TPC-H Q1 shape) with decimal-exact sums."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # Decimal-exact sums, terminal cast to DOUBLE: Spark decimals
            # stringify with trailing zeros while DuckDB decimals reach the
            # driver as float64, so any decimal terminal column fails the
            # value hash. decimal->double is correctly rounded in both
            # engines, so the doubles (and their reprs) are bit-identical.
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_base_price"),
            F.sum(
                (F.col("l_extendedprice").cast("decimal(18,4)")
                 * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")))
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 latest-per-key (online_payment.rb:320-323,475-480 semantics),
    plus W2/W3 max-by pick: the order id with the highest total price
    (deterministic (value, id) tie-break) rides along as a full-frame
    first_value — the 'pick the best-matching row per key' signature."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    w2 = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").desc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .withColumn("top_value_orderkey", F.first("o_orderkey").over(w2))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey", "o_orderkey", "o_orderdate", "o_orderstatus",
            "top_value_orderkey",
        )
    )


def q_interval_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/P8 equality + closed-interval predicates (term.rb:192-234),
    plus the P9 null-open-interval predicate: a synthesized nullable end
    date where NULL means still-active (term.rb 'current' semantics) —
    active iff start <= cutoff AND (end IS NULL OR end >= cutoff)."""
    o = _t(spark, sf_dir, "orders")
    cutoff = F.lit("1996-06-30").cast("date")
    start = F.to_date("o_orderdate")
    end = F.when(
        F.col("o_orderkey") % 5 == 0, F.lit(None).cast("date")
    ).otherwise(F.date_add(start, 90))
    active = (start <= cutoff) & (end.isNull() | (end >= cutoff))
    return o.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") <= F.lit("1996-12-31"))
        & (F.col("o_orderstatus") == "O")
    ).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
        active.alias("active_null_open"),
    )


def q_grouped_count_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 having-filter aggregate (badge.rb:585-593 modules_gained shape)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 12)
    )


def q_broadcast_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 broadcast hash lookup join (badge.rb:153-168 modules map)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        )
    )


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 anti join / set difference (event.rb:322-351 badges_to_delete)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def q_signed_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 signed-sum value (invoice.rb:408-412: +income/−expense)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_type").isin("purchase", "error"))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("value").cast("decimal(18,2)"))
                .otherwise(-F.col("value").cast("decimal(18,2)"))
            )
            .cast("double")
            .alias("net_value")
        )
    )


def q_multi_key_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 multi-key sort with a desc component (member.rb:559-566),
    materialized as a rank column so the order-insensitive hash still
    verifies the ordering."""
    c = _t(spark, sf_dir, "customer")
    w = Window.orderBy(
        F.col("c_mktsegment").asc(), F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return c.select(
        "c_custkey", "c_mktsegment", F.row_number().over(w).alias("rank")
    )


def q_tag_requirement_met(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12 + F-series: JSON prop extract + the requirement_met truth test
    (badge.rb:855-859) over the events props map."""
    from osm_spark.functions import requirement_met

    e = _t(spark, sf_dir, "events")
    v = F.get_json_object(F.col("props"), "$.k")
    return (
        e.select(F.col("event_id"), v.alias("k_value"))
        .withColumn("met", requirement_met(F.col("k_value")))
        .groupBy("met")
        .agg(F.count("*").alias("n"))
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text deduplication: keeper = min doc_id per identical text."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("text")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_dups"))
        .select("keeper_id", "n_dups")
    )


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis per language: whitespace token count + char stats +
    BPE-ish subword counts (absorbs the former subword_token_stats query —
    same grain, one driver slot)."""
    from osm_spark.text.analysis import token_count_subword

    d = _t(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " "))
    return (
        d.select(
            "lang",
            toks.alias("n_tokens"),
            F.length("text").alias("n"),
            token_count_subword("text").alias("n_sub"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_tokens").cast("long")).alias("total_tokens"),
            F.round(F.sum(F.col("n").cast("double")) / F.sum(F.col("n_tokens").cast("double")), 4)
            .alias("chars_per_token"),
            F.sum("n_sub").cast("long").alias("total_subword_tokens"),
        )
    )


def q_haversine_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle distance as pure column math (kNN's metric), verified
    value-exactly against DuckDB's trig on the same derived coordinates.
    Also carries the S2 level-13 cell id (§2.10) from the codegen
    ``s2_cell_cols`` chain — the full face/gnomonic/Hilbert construction
    replayed by the oracle SQL, so the S2 encode is driver-gated."""
    from osm_spark.geo.knn import haversine_m
    from osm_spark.geo.s2 import s2_cell_cols

    c = _t(spark, sf_dir, "customer")
    lat = (F.col("c_custkey") * 2654435761 % 1700001) / 10000.0 - 85.0
    lon = (F.col("c_custkey") * 40503 % 3600001) / 10000.0 - 180.0
    pts = c.select("c_custkey", lat.alias("lat"), lon.alias("lon"))
    pts = s2_cell_cols(pts, level=13, out="s2_13")
    d = haversine_m(F.col("lat"), F.col("lon"), F.lit(51.5074), F.lit(-0.1278))
    return pts.select(
        "c_custkey", F.round(d / 1000.0, 3).alias("dist_km"), "s2_13"
    )


# ---------------------------------------------------------------------------
# Training-data pipeline operators (dedup / similarity / text / multimodal /
# streaming) — osm_spark.text, osm_spark.vector, osm_spark.multimodal,
# osm_spark.streaming.
# ---------------------------------------------------------------------------


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) → LSH bands → candidate pairs (shingle→band→bucket-
    join). Band count comes from ``lsh_tune`` (S-curve midpoint nearest
    the 0.8 refine threshold → 4 bands for a 32-hash budget), matching
    the oracle's banding. Bands derive from the wide signature array
    (``lsh_bands_from_array`` — a per-doc projection, no banding
    shuffle); bit-identical to the long-form ``lsh_bands``."""
    from osm_spark.text.dedup import (
        lsh_bands_from_array,
        lsh_candidate_pairs,
        lsh_tune,
        minhash_array,
    )

    d = _t(spark, sf_dir, "documents")
    return lsh_candidate_pairs(
        lsh_bands_from_array(minhash_array(d, 32), lsh_tune(32, 0.8), 32)
    )


def q_near_dup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates refined by exact token-set Jaccard ≥ 0.8. The wide
    signature array feeds banding AND the agreement prune that drops
    chance band collisions before the token arrays attach (one-sided
    margin, false-drop probability ~1e-6 per exactly-boundary pair and
    super-exponentially smaller above threshold — see jaccard_pairs;
    verified hash-identical to the unpruned oracle on the gated
    corpora). The candidate
    dedup shuffle doubles as the refine's width-setting exchange
    (num_partitions + pre_partitioned), so the pair list is exchanged
    once, not twice."""
    from osm_spark.text.dedup import (
        jaccard_pairs,
        lsh_bands_from_array,
        lsh_candidate_pairs,
        lsh_tune,
        minhash_array,
    )

    d = _t(spark, sf_dir, "documents")
    sigs = minhash_array(d, 32)
    par = spark.sparkContext.defaultParallelism * 2
    pairs = lsh_candidate_pairs(
        lsh_bands_from_array(sigs, lsh_tune(32, 0.8), 32), num_partitions=par
    )
    return jaccard_pairs(
        d, pairs, threshold=0.8, signatures=sigs, pre_partitioned=True
    )


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup (text/dedup.py incremental_near_dups):
    an incoming batch (doc_id % 10 == 0) deduped against the standing
    corpus via the stored LSH band index — corpus × corpus is never
    paired; candidates are corpus-bands ⋈ batch-bands plus the batch
    self-join, then the exact Jaccard refine. Oracle replays the same
    banding with the pair filter (doc_b new, doc_a corpus-or-earlier)."""
    _prep(spark)
    from osm_spark.text.dedup import incremental_near_dups

    d = _t(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    batch = d.filter(F.col("doc_id") % 10 == 0)
    return incremental_near_dups(corpus, batch, 32, threshold=0.8)


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout key (pipeline/zorder.py): bit-interleave of
    (o_custkey, o_totalprice) normalized into 16-bit rank spaces over
    fixed catalog domains — the multi-column clustering key the write
    path range-partitions on so parquet min/max stats prune on EITHER
    column. Gated as exact integer arithmetic vs the DuckDB replay."""
    _prep(spark)
    from osm_spark.pipeline.zorder import zorder_key

    o = _t(spark, sf_dir, "orders")
    key = zorder_key(
        [
            (F.col("o_custkey").cast("double"), 0.0, 200000.0),
            (F.col("o_totalprice").cast("double"), 0.0, 600000.0),
        ],
        bits=16,
    )
    return o.select("o_orderkey", key.alias("zkey"))


_HILBERT_BITS = 12


def q_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert layout key (pipeline/hilbert.py): the locality upgrade on
    zorder_key — fewer contiguous key runs per bbox scan (Moon et al.
    TKDE 2001; measured in tests/test_hilbert.py), emitted by the
    classic xy→d loop unrolled as per-level projections (linear plan,
    pure integer codegen, no UDF). Oracle = the generated unrolled SQL
    replay, one CTE per level."""
    _prep(spark)
    from osm_spark.pipeline.hilbert import attach_hilbert_key

    o = _t(spark, sf_dir, "orders")
    return attach_hilbert_key(
        o.select("o_orderkey", "o_custkey", "o_totalprice"),
        (F.col("o_custkey").cast("double"), 0.0, 200000.0),
        (F.col("o_totalprice").cast("double"), 0.0, 600000.0),
        bits=_HILBERT_BITS,
    ).select("o_orderkey", "hkey")


def _hilbert_oracle() -> str:
    bits = _HILBERT_BITS
    span = float(2**bits - 1)

    def norm(col: str, lo: float, hi: float) -> str:
        return (
            f"CAST(floor(least(greatest((CAST({col} AS DOUBLE) - {lo!r})"
            f" / {hi - lo!r} * {span!r}, 0.0), {span!r})) AS BIGINT)"
        )

    rounds = []
    prev = "r"
    for k, level in enumerate(range(bits - 1, -1, -1)):
        s = 1 << level
        cur = f"r{k}"
        rounds.append(f"""
        {cur} AS MATERIALIZED (
            SELECT o_orderkey,
                   CASE WHEN (y & {s}) = 0 THEN
                        CASE WHEN (x & {s}) > 0 THEN {s - 1} - x ELSE x END
                   ELSE x END AS nx0,
                   x, y, d FROM {prev}
        ),
        {cur}b AS MATERIALIZED (
            SELECT o_orderkey,
                   CASE WHEN (y & {s}) = 0 THEN
                        CASE WHEN (x & {s}) > 0 THEN {s - 1} - y ELSE y END
                   ELSE y END AS ny0,
                   nx0, x, y, d FROM {cur}
        ),
        {cur}c AS MATERIALIZED (
            SELECT o_orderkey,
                   CASE WHEN (y & {s}) = 0 THEN ny0 ELSE x END AS x,
                   CASE WHEN (y & {s}) = 0 THEN nx0 ELSE y END AS y,
                   d + CAST({s} AS BIGINT) * {s}
                     * CAST(xor(3 * (CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END),
                                (CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END))
                            AS BIGINT) AS d
            FROM {cur}b
        )""")
        prev = f"{cur}c"
    body = ",".join(rounds)
    return f"""
        WITH r AS (
            SELECT o_orderkey,
                   {norm('o_custkey', 0.0, 200000.0)} AS x,
                   {norm('o_totalprice', 0.0, 600000.0)} AS y,
                   CAST(0 AS BIGINT) AS d
            FROM orders
        ),
        {body}
        SELECT o_orderkey, d AS hkey FROM {prev}
    """


def _zorder_sql_expr(ca: str, cb: str, bits: int) -> str:
    """The DuckDB replay of interleave_bits for two pre-normalized
    BIGINT expressions — same literal shifts, same positions."""
    terms = []
    for i in range(bits):
        terms.append(f"((({ca} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({cb} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


def _zorder_oracle() -> str:
    norm = (
        "CAST(floor(least(greatest((CAST({c} AS DOUBLE) - {lo}) / {span} * 65535.0, "
        "0.0), 65535.0)) AS BIGINT)"
    )
    na = norm.format(c="o_custkey", lo="0.0", span="200000.0")
    nb = norm.format(c="o_totalprice", lo="0.0", span="600000.0")
    return f"""
        WITH n AS (
            SELECT o_orderkey, {na} AS ca, {nb} AS cb FROM orders
        )
        SELECT o_orderkey, {_zorder_sql_expr("ca", "cb", 16)} AS zkey FROM n
    """


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash + md5 content fingerprint per document (absorbs the
    former doc_fingerprint query — same grain, one driver slot)."""
    from osm_spark.text.analysis import fingerprint
    from osm_spark.text.dedup import simhash16

    d = _t(spark, sf_dir, "documents")
    return simhash16(d).join(
        d.select("doc_id", fingerprint("text").alias("fp")), "doc_id"
    )


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash (vectorized Arrow UDF) + segment-pigeonhole pairs
    (rows-only: the UDF path; exactness pytest-golden-verified).
    max_hamming=3 with 4×16-bit segments — the regime where the blocking
    guarantees full recall (simhash_near_dups enforces k < blocks)."""
    from osm_spark.text.dedup import simhash64, simhash_near_dups

    return simhash_near_dups(simhash64(_t(spark, sf_dir, "documents")), max_hamming=3)


def q_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document web-text quality features + composite score. Absorbs
    the former language_id query as the per-doc predicted_lang column
    (same marker-lexicon decision, finer grain than the old counts)."""
    from osm_spark.text.analysis import language_id, quality_features

    d = _t(spark, sf_dir, "documents")
    return quality_features(d).join(
        d.select("doc_id", language_id("text").alias("predicted_lang")), "doc_id"
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 8 query vectors (ANN exactness baseline)."""
    from osm_spark.vector.similarity import cosine_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(q, e, k=10)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN top-10 (deterministic planes). The
    plane count is data-driven: ``plan_planes`` derives P from the corpus
    size and target bucket occupancy (the oracle mirrors the same
    ceil(log2(n/target)) formula in SQL, so both sides agree at any sf)."""
    from osm_spark.vector.similarity import ann_lsh_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_lsh_topk(q, e, k=10)


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-blocked embedding near-dup pairs, cosine ≥ 0.3; plane count
    data-driven via ``plan_planes`` (coarser target than ANN — the
    self-join cost per bucket is occupancy²), mirrored in the oracle."""
    from osm_spark.vector.similarity import embedding_near_dups

    return embedding_near_dups(_t(spark, sf_dir, "embeddings"), threshold=0.3)


def q_media_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual media near-dups (multimodal/media.py media_dhash +
    the simhash pigeonhole Hamming join), EXACT-gated since r5: the
    dHash stand-in samples 72 evenly-spaced payload bytes, and the
    payload is the document text as UTF-8 (pure ASCII corpus), so the
    grid, the MSB-first bit packing, the two's-complement long and the
    brute-force Hamming pairs all replay in DuckDB (ord/substr + HUGEINT
    bit math) — the engine's pigeonhole blocking is recall-exact for
    max_hamming < num_blocks, so all-pairs IS the ground truth. Each
    payload gets a same-length tail-edited twin (ids offset by 10^6) so
    true perceptual near-dups exist: only grid samples near the tail
    differ, keeping twins within the Hamming budget while unrelated
    payloads stay far outside it."""
    from osm_spark.multimodal.media import media_near_dups, synth_media

    base = synth_media(spark, sf_dir)
    t = F.decode(F.col("bytes"), "utf-8")
    edited = base.select(
        (F.col("media_id") + 1_000_000).alias("media_id"),
        "kind",
        F.encode(
            F.concat(F.substring(t, 1, F.length(t) - 1), F.lit("~")), "utf-8"
        ).alias("bytes"),
        "meta",
    )
    return media_near_dups(base.unionByName(edited), max_hamming=8)


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode: binary payload → typed features via mapInPandas
    (the deterministic fake decode keeps this oracle-checkable). Absorbs
    the former frame_sample query: video frame-index rows ride along as
    kind-NULL rows with frame_idx set — one driver slot for the decode +
    frame-sampling surface."""
    from osm_spark.multimodal.media import decode_media, frame_sample, synth_media

    feats = decode_media(synth_media(spark, sf_dir))
    f_rows = feats.select(
        "media_id", "kind", "n_bytes", "width", "height", "n_frames", "checksum",
        F.lit(None).cast("int").alias("frame_idx"),
    )
    frames = frame_sample(feats, every_n=24).select(
        "media_id",
        F.lit(None).cast("string").alias("kind"),
        F.lit(None).cast("long").alias("n_bytes"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("n_frames"),
        F.lit(None).cast("string").alias("checksum"),
        "frame_idx",
    )
    return f_rows.unionByName(frames)


def q_stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming availableNow backfill of watermarked tumbling
    1 h windows (result ≡ batch plan, so SQL-oracle-checkable)."""
    from osm_spark.streaming.windowed import run_windowed_counts_batchlike

    return run_windowed_counts_batchlike(
        spark, os.path.join(sf_dir, "events.parquet")
    )


def q_geofence_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming geofence (osm_spark/streaming/geofence.py): events
    stream → closed-form positions → broadcast PIP prejoin + codegen
    refine → watermarked tumbling counts per polygon, run availableNow
    into a memory sink. The oracle replays brute-force PIP + date_trunc
    in DuckDB — the streaming plan must equal the batch answer."""
    _prep(spark)
    from osm_spark.geo.hexgrid import hex_cell_expr
    from osm_spark.pipeline.geometry import build_way_cells, synth_polygons
    from osm_spark.pipeline.pages import CITIES
    from osm_spark.streaming.geofence import geofence_counts, run_stream_to_memory
    from osm_spark.streaming.windowed import stream_events

    ev = stream_events(spark, os.path.join(sf_dir, "events.parquet"))
    did = F.col("event_id")
    city = (did % 10).cast("int")
    clat = F.element_at(F.array(*[F.lit(x[1]) for x in CITIES]), city + 1)
    clon = F.element_at(F.array(*[F.lit(x[2]) for x in CITIES]), city + 1)
    lat = clat + (did * 2654435761 % 2001 - 1000) / 1000.0 * _SQL_PT_SPREAD
    lon = clon + (did * 40503 % 2001 - 1000) / 1000.0 * _SQL_PT_SPREAD
    pts = ev.select(
        F.col("ts"), lat.alias("lat"), lon.alias("lon")
    ).withColumn("h3_9", hex_cell_expr("lat", "lon", 9))
    polygons = synth_polygons(spark)
    out = geofence_counts(pts, polygons, build_way_cells(polygons))
    return run_stream_to_memory(out)


def _geofence_oracle() -> str:
    """Brute-force PIP (same ray-cast replay as _pip_pairs_oracle) over
    event positions, then date_trunc-hour zone counts."""
    eps2 = repr(1e-12 * 1e-12)
    from osm_spark.pipeline.pages import CITIES

    lats = ", ".join(repr(float(x[1])) for x in CITIES)
    lons = ", ".join(repr(float(x[2])) for x in CITIES)
    sp = repr(float(_SQL_PT_SPREAD))
    return f"""
        WITH poly0(way_id, vlat, vlon) AS (VALUES
                {_polygons_values_sql()}),
        poly AS (
            SELECT CAST(way_id AS BIGINT) AS way_id,
                   CAST(vlat AS DOUBLE[]) AS vlat,
                   CAST(vlon AS DOUBLE[]) AS vlon
            FROM poly0
        ),
        pts AS (
            SELECT event_id AS point_id, ts,
                   ([{lats}])[CAST(event_id % 10 AS INT) + 1]
                     + (event_id * 2654435761 % 2001 - 1000) / 1000.0 * {sp} AS lat,
                   ([{lons}])[CAST(event_id % 10 AS INT) + 1]
                     + (event_id * 40503 % 2001 - 1000) / 1000.0 * {sp} AS lon
            FROM events
        ),
        ed AS (
            SELECT way_id, vlat, vlon, unnest(range(len(vlat))) AS i FROM poly
        ), e AS (
            SELECT way_id,
                   vlat[CAST(i AS INT) + 1] AS ay, vlon[CAST(i AS INT) + 1] AS ax,
                   vlat[CAST((i + 1) % len(vlat) AS INT) + 1] AS by,
                   vlon[CAST((i + 1) % len(vlat) AS INT) + 1] AS bx
            FROM ed
        ), c1 AS (
            SELECT p.point_id, p.lat, p.lon, e.way_id, e.ax, e.ay, e.bx, e.by,
                   e.bx - e.ax AS abx, e.by - e.ay AS aby,
                   p.lon - e.ax AS apx, p.lat - e.ay AS apy
            FROM pts p CROSS JOIN e
        ), c2 AS (
            SELECT *, abx * abx + aby * aby AS d,
                   ((ay > lat) <> (by > lat))
                   AND lon < abx * apy
                       / (CASE WHEN aby = 0 THEN 1.0 ELSE aby END) + ax AS crossed
            FROM c1
        ), c3 AS (
            SELECT *, CASE WHEN d > 0
                           THEN (apx * abx + apy * aby)
                                / (CASE WHEN d = 0 THEN 1.0 ELSE d END)
                           ELSE 0.0 END AS t0
            FROM c2
        ), c4 AS (
            SELECT *, LEAST(GREATEST(t0, 0.0), 1.0) AS t FROM c3
        ), c5 AS (
            SELECT *, apx - t * abx AS dx, apy - t * aby AS dy FROM c4
        ), hit AS (
            SELECT point_id, way_id,
                   SUM(CASE WHEN crossed THEN 1 ELSE 0 END) AS crossings,
                   MAX(CASE WHEN dx * dx + dy * dy <= {eps2} THEN 1 ELSE 0 END) AS on_edge
            FROM c5 GROUP BY point_id, way_id
        )
        SELECT date_trunc('hour', p.ts) AS window_start, h.way_id,
               count(*) AS n_events
        FROM (SELECT point_id, way_id FROM hit
              WHERE crossings % 2 = 1 OR on_edge = 1) h
        JOIN pts p USING (point_id)
        GROUP BY 1, 2
    """


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-gap sessionization (30 min), batch formulation of the
    stateful streaming operator."""
    from osm_spark.streaming.windowed import sessionize

    return sessionize(_t(spark, sf_dir, "events"), gap_minutes=30).withColumn(
        "session_seq", F.col("session_seq").cast("long")
    )


# ---------------------------------------------------------------------------
# Additional reference-parity relational operators (SURVEY.md §2).
# ---------------------------------------------------------------------------


def q_grouping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup revenue by region/nation (grouping-sets surface, §2.4 note)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


def q_union_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 union + broadcast lookup (meeting.rb:287-315 shape)."""
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    u = s.select(F.col("s_nationkey").alias("nk"), F.lit("supplier").alias("kind")).unionByName(
        c.select(F.col("c_nationkey").alias("nk"), F.lit("customer").alias("kind"))
    )
    return (
        u.join(F.broadcast(n), u["nk"] == n["n_nationkey"])
        .groupBy("n_name", "kind")
        .agg(F.count("*").alias("n"))
    )


def q_composite_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 composite-key map join (badges.rb:80-97 identifier+'_'+completed)."""
    from osm_spark.functions.parsing import identifier

    o = _t(spark, sf_dir, "orders")
    key = identifier("o_orderstatus", "o_orderpriority")
    dim = o.groupBy(key.alias("k")).agg(F.min("o_orderkey").alias("first_key"))
    return (
        o.select(key.alias("k"))
        .join(F.broadcast(dim), "k")
        .groupBy("k", "first_key")
        .agg(F.count("*").alias("n"))
    )


def q_dual_format_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 dual-format date parse with epoch→NULL (lib/osm.rb:123-130):
    dates round-trip through both API string formats."""
    from osm_spark.functions.parsing import parse_date

    o = _t(spark, sf_dir, "orders")
    s = F.when(
        F.col("o_orderkey") % 2 == 0, F.date_format("o_orderdate", "yyyy-MM-dd")
    ).otherwise(F.date_format("o_orderdate", "dd/MM/yyyy"))
    return (
        o.select(parse_date(s).alias("d"))
        .groupBy(F.year("d").alias("yr"))
        .agg(F.count("*").alias("n"))
    )


def q_money_tbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17/P1 money-string decode with '-1'→TBC sentinel (event.rb:59,95)."""
    from osm_spark.functions.parsing import cost_tbc, money_decimal

    o = _t(spark, sf_dir, "orders")
    cost_str = F.when(F.col("o_orderkey") % 97 == 0, F.lit("-1")).otherwise(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string")
    )
    return o.select(
        "o_orderkey",
        money_decimal(cost_str).cast("double").alias("cost"),
        cost_tbc(cost_str).alias("tbc"),
    )


def q_level_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/A7 level fold: highest level whose threshold ≤ value
    (badge.rb:654-672 staged-count semantics) over literal thresholds."""
    o = _t(spark, sf_dir, "orders")
    thresholds = F.array(*[F.lit(t) for t in [0, 1000, 5000, 10000, 50000, 100000, 200000, 300000]])
    level = F.size(F.filter(thresholds, lambda t: t <= F.col("o_totalprice")))
    return o.select(level.alias("level")).groupBy("level").agg(F.count("*").alias("n"))


def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (§2.4 'absent in ref' row — engine provides).
    Absorbs the former custom_collation query (§2.6, section.rb:380-388
    age-order): seg_rank is the literal-array collation key."""
    c = _t(spark, sf_dir, "customer")
    order = F.array(
        *[F.lit(s) for s in ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]]
    )
    return (
        c.select(
            "c_mktsegment",
            F.array_position(order, F.col("c_mktsegment")).cast("int").alias("seg_rank"),
            "c_nationkey",
        )
        .groupBy("c_mktsegment", "seg_rank")
        .agg(
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.count("*").alias("n_customers"),
        )
    )


def q_map_key_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P4 tag-map key-regex split (flexi_record.rb:98-100,
    event.rb:420-423): keep keys matching ^f_\\d+$, explode to rows.
    Absorbs the former date_keyed_map query (F18, register.rb:69-74)
    as kind='date' rows — the date-string keys of the same map fold
    through ``date_keyed_map`` into typed entries."""
    from osm_spark.functions.tags import date_keyed_map

    e = _t(spark, sf_dir, "events")
    tags = F.create_map(
        F.lit("f_1"), F.col("user_id").cast("string"),
        F.lit("name"), F.col("event_type"),
        F.lit("f_2"), (F.col("event_id") % 100).cast("string"),
        F.lit("p9"), F.col("props"),
        F.date_format("ts", "yyyy-MM-dd"), F.col("event_type"),
    )
    fields = F.map_filter(tags, lambda k, v: k.rlike(r"^f_\d+$"))
    field_rows = e.select(
        "event_id", F.explode(fields).alias("key", "value")
    ).select("event_id", F.lit("field").alias("kind"), "key", "value")
    date_rows = (
        e.select("event_id", F.explode(date_keyed_map(tags)).alias("en"))
        .select(
            "event_id",
            F.lit("date").alias("kind"),
            F.date_format(F.col("en.date"), "yyyy-MM-dd").alias("key"),
            F.col("en.value").alias("value"),
        )
    )
    return field_rows.unionByName(date_rows)


def q_modules_gained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+A4 two-level met-count with HAVING (badge.rb:585-609):
    requirement_met over the props tag, grouped per (user, module)."""
    from osm_spark.functions import requirement_met

    e = _t(spark, sf_dir, "events")
    met = requirement_met(F.get_json_object(F.col("props"), "$.k"))
    return (
        e.select("user_id", "event_type", met.alias("met"))
        .groupBy("user_id", "event_type")
        .agg(F.sum(F.when(F.col("met"), 1).otherwise(0)).cast("long").alias("gained"))
        .filter(F.col("gained") >= 5)
    )


def _orders_old_new(spark: SparkSession, sf_dir: str):
    """Deterministic old/new snapshots of orders for the write-path ops."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_custkey"
    )
    old = o.filter(F.col("o_orderkey") % 13 != 0)
    new = o.withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("9-CHANGED")).otherwise(
            F.col("o_orderpriority")
        ),
    ).filter(F.col("o_orderkey") % 11 != 0)
    return old, new


def q_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V5 dirty-attribute CDC diff (model.rb:74-94): changed cells only."""
    from osm_spark.pipeline.merge import changed_cells

    old, new = _orders_old_new(spark, sf_dir)
    return changed_cells(old, new, "o_orderkey")


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 MERGE INTO (full-outer + coalesce form) — source wins on match."""
    from osm_spark.pipeline.merge import merge_upsert

    old, new = _orders_old_new(spark, sf_dir)
    return merge_upsert(old, new, "o_orderkey")


def q_visibility_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 visibility predicate (activity.rb:113-118): semi-join against an
    allowed set OR a local boolean."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    europe = (
        n.join(r, n["n_regionkey"] == r["r_regionkey"])
        .filter(F.col("r_name") == "EUROPE")
        .select(F.col("n_nationkey").alias("nk"))
    )
    visible = c.join(
        F.broadcast(europe), c["c_nationkey"] == europe["nk"], "left_semi"
    ).select("c_custkey").unionByName(
        c.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    ).distinct()
    return (
        c.join(visible, "c_custkey", "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_visible"))
    )


def q_name_formatting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8/F10 name join + '"Name" <email>' formatting (member.rb:426-428,
    578-581) over synthesized first/last/email parts. Absorbs the former
    name_number_split query (F14, sms.rb:154,164-167) — same per-customer
    grain."""
    from osm_spark.functions import email_with_name, full_name, name_number_split

    c = _t(spark, sf_dir, "customer")
    first = F.lower(F.col("c_mktsegment"))
    last = F.col("c_name")
    email = F.concat(F.lower(F.regexp_replace(F.col("c_name"), "#", "-")), F.lit("@x.org"))
    nn = name_number_split(
        F.concat(F.col("c_mktsegment"), F.lit("  "), F.col("c_custkey").cast("string"))
    )
    return c.select(
        "c_custkey",
        full_name(first, last).alias("full_name"),
        email_with_name(first, last, email).alias("email_fmt"),
        nn["name"].alias("name"),
        nn["number"].alias("number"),
    )


def q_phone_age_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 phone normalize + F11 'yy / mm' age decompose (member.rb:413-421,
    610-612). Absorbs the former permission_decode query (F6) — same
    per-customer grain."""
    from osm_spark.functions import age_months, age_years, permission_array, phone_normalize

    c = _t(spark, sf_dir, "customer")
    age_str = F.concat(
        (F.col("c_custkey") % 90).cast("string"), F.lit(" / "),
        (F.col("c_custkey") % 12).cast("string"),
    )
    phone_raw = F.concat(
        F.lit("+"), F.col("c_nationkey").cast("string"), F.lit(" (0)"),
        (F.col("c_custkey") % 900 + 100).cast("string"), F.lit("-"),
        (F.col("c_custkey") % 10000).cast("string"), F.lit(" ext.9"),
    )
    level = (
        F.when(F.col("c_custkey") % 4 == 0, 100)
        .when(F.col("c_custkey") % 4 == 1, 20)
        .when(F.col("c_custkey") % 4 == 2, 10)
        .otherwise(0)
    )
    return c.select(
        "c_custkey",
        phone_normalize(phone_raw).alias("phone_norm"),
        age_years(age_str).alias("age_years"),
        age_months(age_str).alias("age_months"),
        # absorbed permission_decode (F6, lib/osm.rb:151-167)
        F.array_join(permission_array(level), ",").alias("grants"),
    )


def q_badge_status_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 badge-status display-string decode (badge.rb:206-231)."""
    from osm_spark.functions import badge_status_decode

    c = _t(spark, sf_dir, "customer")
    s = (
        F.when(F.col("c_custkey") % 6 == 0, F.lit("Started"))
        .when(F.col("c_custkey") % 6 == 1, F.lit("Due"))
        .when(F.col("c_custkey") % 6 == 2, F.lit("Due Lvl 2"))
        .when(F.col("c_custkey") % 6 == 3, F.lit("Awarded"))
        .when(F.col("c_custkey") % 6 == 4, F.lit("01/02/2016 (Lvl 3)"))
        .otherwise(F.lit("15/07/2020"))
    )
    d = badge_status_decode(s)
    return c.select(
        "c_custkey",
        d["status"].alias("status"),
        d["level"].alias("level"),
        d["date"].alias("date"),
    )


def q_sent_at_subject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15 'dd/MM/yyyy HH:mm - Subject' split (email.rb:127-130); subject
    may itself contain ' - '. Absorbs the former make_datetime query
    (F1, lib/osm.rb:93-111) — same per-orderkey grain: ``ts`` is the
    concat-parsed date+time with blank-time→midnight and epoch→NULL."""
    from osm_spark.functions import make_datetime, sent_at_subject_split

    o = _t(spark, sf_dir, "orders")
    s = F.concat(
        F.date_format("o_orderdate", "dd/MM/yyyy HH:mm"),
        F.lit(" - Order "),
        F.col("o_orderpriority"),
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(" - resent")).otherwise(F.lit("")),
    )
    parts = sent_at_subject_split(s)
    date_str = F.when(
        F.col("o_orderkey") % 13 == 0, F.lit("1970-01-01")
    ).otherwise(F.date_format("o_orderdate", "yyyy-MM-dd"))
    time_str = F.when(F.col("o_orderkey") % 11 == 0, F.lit("")).otherwise(
        F.concat(
            (F.col("o_orderkey") % 24).cast("string"),
            F.lit(":"),
            F.lpad((F.col("o_orderkey") % 60).cast("string"), 2, "0"),
        )
    )
    return o.select(
        "o_orderkey",
        parts["sent_at"].alias("sent_at"),
        parts["subject"].alias("subject"),
        make_datetime(date_str, time_str).alias("ts"),
    )


def q_earnt_cnf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 CNF badge-earnt logic (badge.rb:614-648): module combos
    [['click'], ['view','purchase']] — earnt iff every clause has a
    gained module (clause = OR, list = AND in reference; here the common
    [[a],[b,c]] shape: a OR (b AND c) truth-tabled)."""
    from osm_spark.functions import requirement_met

    e = _t(spark, sf_dir, "events")
    met = requirement_met(F.get_json_object(F.col("props"), "$.k"))
    gained = (
        e.select("user_id", "event_type", met.alias("met"))
        .groupBy("user_id", "event_type")
        .agg(F.sum(F.when(F.col("met"), 1).otherwise(0)).alias("n_met"))
        .withColumn("gained", F.col("n_met") >= 2)
    )
    per_user = gained.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "click", F.col("gained"))).alias("g_click"),
        F.max(F.when(F.col("event_type") == "view", F.col("gained"))).alias("g_view"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("gained"))).alias("g_purchase"),
    )
    earnt = (
        F.coalesce(F.col("g_click"), F.lit(False))
        | (
            F.coalesce(F.col("g_view"), F.lit(False))
            & F.coalesce(F.col("g_purchase"), F.lit(False))
        )
    )
    return per_user.select("user_id", earnt.alias("earnt"))


def q_audit_trail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 audit-trail parse (event.rb:889-897): 'Set X to Y' named-group
    split for detail rows, display→symbol attendance decode (incl. an
    unknown display value mapping to NULL). Also carries F22
    required-template-tag containment (myscout.rb:275-282) as
    ``has_required_tag`` — both are event-content predicates."""
    from osm_spark.functions import audit_trail_parse, template_tag_present

    e = _t(spark, sf_dir, "events")
    typ = (
        F.when(F.col("event_id") % 3 == 0, F.lit("detail"))
        .when(F.col("event_id") % 3 == 1, F.lit("attendance"))
        .otherwise(F.lit("note"))
    )
    att_disp = F.element_at(
        F.array(*[F.lit(s) for s in
                  ["Yes", "No", "Invited", "Show in My.SCOUT", "Reserved", "Maybe"]]),
        (F.col("event_id") % 6).cast("int") + 1,
    )
    desc = (
        F.when(
            F.col("event_id") % 3 == 0,
            F.concat(
                F.lit("Set 'f_"), (F.col("event_id") % 5).cast("string"),
                F.lit("' to '"), F.col("event_type"), F.lit("'"),
            ),
        )
        .when(F.col("event_id") % 3 == 1, F.concat(F.lit("Attendance: "), att_disp))
        .otherwise(F.lit("Updated record"))
    )
    p = audit_trail_parse(typ, desc)
    content = F.when(
        F.col("event_id") % 4 == 0, F.lit("Hi [FIRSTNAME], see [EVENT]")
    ).otherwise(F.lit("Hi there, see [EVENT]"))
    return e.select(
        "event_id",
        p["label"].alias("label"),
        p["value"].alias("value"),
        p["attendance"].alias("attendance"),
        template_tag_present(content, F.lit("FIRSTNAME")).alias("has_required_tag"),
    )


def q_sms_credits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 SMS credit accounting (sms.rb:13-69): recipients selected per
    section vs remaining credits parsed from the API's human-readable
    answer string; can_send is the reference's send guard."""
    from osm_spark.functions import credits_remaining

    e = _t(spark, sf_dir, "events")
    sel = (
        e.filter(F.col("event_type") == "click")
        .groupBy((F.col("user_id") % 50).alias("section_id"))
        .agg(F.count("*").alias("n_selected"))
    )
    msg = F.concat(
        F.lit("You have "),
        (F.col("section_id") * 7 % 100).cast("string"),
        F.lit(" credits remaining"),
    )
    credits = credits_remaining(msg)
    return sel.select(
        "section_id",
        "n_selected",
        credits.alias("credits"),
        (F.col("n_selected") <= credits).alias("can_send"),
        # A9 headroom: credits left after this send (floor 0, the
        # reference never reports negative balances)
        F.greatest(
            credits - F.col("n_selected"), F.lit(0)
        ).cast("int").alias("headroom"),
    )


def q_flexi_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 flexi-record column collation (flexi_record.rb:214-231):
    system columns sort before user columns (id ~ ^f_\\d+$), then by id;
    rank materialized so the order-insensitive hash checks the order."""
    o = _t(spark, sf_dir, "orders")
    colid = (
        F.when(F.col("o_orderkey") % 5 == 0,
               F.concat(F.lit("f_"), (F.col("o_orderkey") % 23).cast("string")))
        .when(F.col("o_orderkey") % 5 == 1, F.lit("firstname"))
        .when(F.col("o_orderkey") % 5 == 2, F.lit("lastname"))
        .when(F.col("o_orderkey") % 5 == 3, F.lit("dob"))
        .otherwise(F.concat(F.lit("f_"), (F.col("o_orderkey") % 7).cast("string")))
    )
    ids = o.select(colid.alias("col_id")).distinct()
    is_user = F.col("col_id").rlike(r"^f_\d+$").cast("int")
    w = Window.orderBy(is_user.asc(), F.col("col_id").asc())
    return ids.select("col_id", F.row_number().over(w).alias("sort_rank"))


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (§2.3 'absent in reference' row — engine provides):
    for each click event, the latest purchase by the same user at or
    before the click. Union + carry-forward plan (one exchange)."""
    from osm_spark.pipeline.temporal import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("purchase_id"))
    )
    return asof_join(
        clicks, purchases, "user_id", "ts", "ts", ["purchase_id"]
    )


def q_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V4 validation side-output (SURVEY §1.4: ActiveModel validations →
    CHECK predicates + a violations table): rows failing any rule emit
    one row per violation with the rule name."""
    o = _t(spark, sf_dir, "orders")
    rules = F.array(
        F.when(F.col("o_totalprice") > 450000, F.lit("price_out_of_range")),
        F.when(F.col("o_orderkey") % 97 == 0, F.lit("synthetic_bad_status")),
        F.when(F.col("o_orderdate").isNull(), F.lit("missing_date")),
    )
    return (
        o.select(
            "o_orderkey",
            F.explode(F.filter(rules, lambda r: r.isNotNull())).alias("violation"),
        )
    )


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile pyramid rollup: z10 density aggregated up to z8 and z6 via
    integer coordinate shifts (the hypertable/continuous-aggregate shape
    for raster layers)."""
    from osm_spark.geo.tiles import tile_xy

    c = _t(spark, sf_dir, "customer")
    lat = (F.col("c_custkey") * 2654435761 % 1700001) / 10000.0 - 85.0
    lon = (F.col("c_custkey") * 40503 % 3600001) / 10000.0 - 180.0
    t = tile_xy("lat", "lon", 10)
    base = (
        c.select(lat.alias("lat"), lon.alias("lon"))
        .select(t.alias("t"))
        .groupBy(F.col("t.x").alias("tx"), F.col("t.y").alias("ty"))
        .agg(F.count("*").alias("n"))
    )
    levels = []
    for z in (10, 8, 6):
        shift = 10 - z
        levels.append(
            base.groupBy(
                F.lit(z).alias("z"),
                F.shiftright(F.col("tx"), shift).alias("tx"),
                F.shiftright(F.col("ty"), shift).alias("ty"),
            ).agg(F.sum("n").cast("long").alias("n"))
        )
    out = levels[0]
    for l in levels[1:]:
        out = out.unionByName(l)
    return out


def q_way_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/J4 structure×data assembly, driver-gated: polygons decompose
    into normalized ways(node_ids)+way_nodes tables, then reassemble via
    posexplode → node equi-join → ordered array rebuild. The oracle
    states the round-trip fixed point over the same literal polygons —
    any ordering/join/ring-closure defect breaks the hash."""
    from osm_spark.pipeline.elements import assemble_way_polygons, synth_ways
    from osm_spark.pipeline.geometry import synth_polygons

    polygons = synth_polygons(spark)
    ways, nodes = synth_ways(spark, polygons)
    out = assemble_way_polygons(ways, nodes)
    vadd = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)  # noqa: E731
    return out.select(
        "way_id",
        F.size("vlat").alias("n_vertices"),
        F.round(F.element_at("vlat", 1), 6).alias("lat0"),
        F.round(F.element_at("vlon", 1), 6).alias("lon0"),
        F.round(vadd(F.col("vlat")) + vadd(F.col("vlon")), 6).alias("vsum"),
        F.col("tags")["name"].alias("name"),
    )


def q_diff_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replication-diff geometry maintenance (pipeline/diffs.py): every
    11th node moves by a closed-form offset; ONLY ways referencing a
    moved node re-assemble (broadcast semi-join on the diff), untouched
    ways carry forward from the materialized state. Oracle states the
    FULL post-diff recompute over the literal polygons + the same move
    formula — hash equality is the incremental-maintenance correctness
    statement (a missed affected way would surface stale stats)."""
    from osm_spark.pipeline.diffs import refresh_assembly
    from osm_spark.pipeline.elements import assemble_way_polygons, synth_ways
    from osm_spark.pipeline.geometry import synth_polygons

    polygons = synth_polygons(spark)
    ways, nodes = synth_ways(spark, polygons)
    prev = assemble_way_polygons(ways, nodes)
    nid = F.col("id")
    changes = nodes.filter(nid % 11 == 0).select(
        "id",
        (F.col("lat") + ((nid % 7) - 3) / 1000.0).alias("lat"),
        (F.col("lon") + ((nid % 5) - 2) / 1000.0).alias("lon"),
    )
    out = refresh_assembly(ways, nodes, changes, prev)
    vadd = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)  # noqa: E731
    return out.select(
        "way_id",
        F.size("vlat").alias("n_vertices"),
        F.round(F.element_at("vlat", 1), 6).alias("lat0"),
        F.round(F.element_at("vlon", 1), 6).alias("lon0"),
        F.round(vadd(F.col("vlat")) + vadd(F.col("vlon")), 6).alias("vsum"),
        F.col("tags")["name"].alias("name"),
    )


def _diff_assembly_oracle() -> str:
    """Full post-diff recompute: the same per-vertex move formula stated
    over the literal polygons (node_id = way_id·1000 + pos)."""
    from osm_spark.pipeline.geometry import synth_polygons_pdf

    rows = []
    for r in synth_polygons_pdf().itertuples():
        vlat = ", ".join(repr(float(v)) for v in r.vlat)
        vlon = ", ".join(repr(float(v)) for v in r.vlon)
        rows.append(f"({r.way_id}, '{r.tags['name']}', [{vlat}], [{vlon}])")
    values = ",\n                ".join(rows)
    nid = "(way_id * 1000 + i)"
    return f"""
        WITH poly0(way_id, name, vlat, vlon) AS (VALUES
                {values}),
        poly AS (
            SELECT CAST(way_id AS BIGINT) AS way_id, name,
                   CAST(vlat AS DOUBLE[]) AS vlat,
                   CAST(vlon AS DOUBLE[]) AS vlon
            FROM poly0
        ),
        mv AS (
            SELECT way_id, name,
                   list_transform(range(len(vlat)), i ->
                       CASE WHEN {nid} % 11 = 0
                            THEN vlat[i+1] + (({nid} % 7) - 3) / 1000.0
                            ELSE vlat[i+1] END) AS vlat,
                   list_transform(range(len(vlon)), i ->
                       CASE WHEN {nid} % 11 = 0
                            THEN vlon[i+1] + (({nid} % 5) - 2) / 1000.0
                            ELSE vlon[i+1] END) AS vlon
            FROM poly
        )
        SELECT way_id, CAST(len(vlat) AS INT) AS n_vertices,
               ROUND(vlat[1], 6) AS lat0, ROUND(vlon[1], 6) AS lon0,
               ROUND(list_sum(vlat) + list_sum(vlon), 6) AS vsum,
               name
        FROM mv
    """


# --- driver-gated twins of the flagship spatial operators ---
#
# The flagship pip_join/knn_join run over synth_pages, whose coordinates
# derive from xxhash64 — not reconstructible in DuckDB SQL. These twins run
# the SAME engine code paths (hex covering prejoin + codegen refine;
# two-phase kNN) over points derived closed-form from customer keys, so a
# DuckDB brute-force oracle can verify the full pipeline end-to-end by
# value hash. Polygon/node fixtures are injected into the oracle SQL as
# double literals (repr round-trips bit-exactly), so both engines see
# bit-identical geometry and the ray-cast decisions agree bit-for-bit.

_SQL_PT_SPREAD = 0.05  # degrees around each city center


def _sql_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """City-clustered points as a closed-form function of c_custkey.

    Every operation (int mul/mod, the single divide/multiply/add chain) is
    exactly mirrored in ``_sql_points_oracle`` with the same IEEE op
    order, so lat/lon are bit-identical across Spark and DuckDB."""
    from osm_spark.pipeline.pages import CITIES

    c = _t(spark, sf_dir, "customer")
    city = (F.col("c_custkey") % 10).cast("int")
    clat = F.element_at(F.array(*[F.lit(x[1]) for x in CITIES]), city + 1)
    clon = F.element_at(F.array(*[F.lit(x[2]) for x in CITIES]), city + 1)
    # 25% of each city's points collapse into a ~100 m hotspot at the
    # center (factor 0.001) — same skew design as the pages table, so
    # hot res-9 cells exist and the salted pip path genuinely splits keys
    hot = (
        F.when(F.col("c_custkey") * 7919 % 100 < 25, F.lit(0.001))
        .otherwise(F.lit(1.0))
    )
    lat = clat + (F.col("c_custkey") * 2654435761 % 2001 - 1000) / 1000.0 * _SQL_PT_SPREAD * hot
    lon = clon + (F.col("c_custkey") * 40503 % 2001 - 1000) / 1000.0 * _SQL_PT_SPREAD * hot
    return c.select(
        F.col("c_custkey").cast("string").alias("url"),
        lat.alias("lat"),
        lon.alias("lon"),
    )


def _sql_points_oracle() -> str:
    from osm_spark.pipeline.pages import CITIES

    lats = ", ".join(repr(float(x[1])) for x in CITIES)
    lons = ", ".join(repr(float(x[2])) for x in CITIES)
    sp = repr(float(_SQL_PT_SPREAD))
    hot = "(CASE WHEN c_custkey * 7919 % 100 < 25 THEN 0.001 ELSE 1.0 END)"
    return f"""
        SELECT c_custkey AS point_id,
               ([{lats}])[CAST(c_custkey % 10 AS INT) + 1]
                 + (c_custkey * 2654435761 % 2001 - 1000) / 1000.0 * {sp} * {hot} AS lat,
               ([{lons}])[CAST(c_custkey % 10 AS INT) + 1]
                 + (c_custkey * 40503 % 2001 - 1000) / 1000.0 * {sp} * {hot} AS lon
        FROM customer
    """


def _polygons_values_sql(n_per_city: int = 8, seed: int = 42) -> str:
    """way_polygons fixture rendered as SQL VALUES literals.

    Vertices are QUOTED strings: every consumer casts the arrays to
    DOUBLE[], and DuckDB's VARCHAR→DOUBLE cast is a correctly-rounded
    strtod that reproduces the Python float bit-for-bit, while a bare
    numeric literal parses as DECIMAL first and the DECIMAL→DOUBLE
    conversion can be off by an ulp (observed: 31.204551447689322).
    Pair-set oracles never noticed; the snap oracle exposes dist VALUES
    and does."""
    from osm_spark.pipeline.geometry import synth_polygons_pdf

    rows = []
    for r in synth_polygons_pdf(n_per_city, seed).itertuples():
        vlat = ", ".join(f"'{float(v)!r}'" for v in r.vlat)
        vlon = ", ".join(f"'{float(v)!r}'" for v in r.vlon)
        rows.append(f"({r.way_id}, [{vlat}], [{vlon}])")
    return ",\n                ".join(rows)


def _nodes_values_sql() -> str:
    from osm_spark.pipeline.geometry import synth_nodes_pdf

    rows = [
        f"({r.id}, {repr(float(r.lat))}, {repr(float(r.lon))})"
        for r in synth_nodes_pdf().itertuples()
    ]
    return ",\n                ".join(rows)


def _s2_chain_sql(base: str, carry: list[str], level: int = 13) -> str:
    """DuckDB replay of ``s2_cell_cols`` — face selection, gnomonic (u,v),
    quadratic ST, then the Hilbert xy→d loop unrolled as one CTE pair per
    bit (integer ops, bit-exact across engines). ``base`` must yield
    ``carry`` columns plus lat/lon; the result CTE ``s2out`` yields carry
    + ``s2_13``."""
    n = 1 << level
    carry_csv = ", ".join(carry)
    parts = [
        f"sb AS ({base})",
        "s1 AS (SELECT *, cos(radians(lat))*cos(radians(lon)) AS cx,"
        " cos(radians(lat))*sin(radians(lon)) AS cy, sin(radians(lat)) AS cz FROM sb)",
        "s2f AS (SELECT *, CASE WHEN abs(cx) >= greatest(abs(cy), abs(cz)) THEN 0"
        " WHEN abs(cy) >= abs(cz) THEN 1 ELSE 2 END AS f0 FROM s1)",
        "s3 AS (SELECT *, CASE WHEN (CASE f0 WHEN 0 THEN cx WHEN 1 THEN cy ELSE cz END) < 0"
        " THEN f0 + 3 ELSE f0 END AS face FROM s2f)",
        "s4 AS (SELECT *,"
        " CASE face WHEN 0 THEN cy/cx WHEN 1 THEN -cx/cy WHEN 2 THEN -cx/cz"
        " WHEN 3 THEN cz/cx WHEN 4 THEN cz/cy ELSE -cy/cz END AS u,"
        " CASE face WHEN 0 THEN cz/cx WHEN 1 THEN cz/cy WHEN 2 THEN -cy/cz"
        " WHEN 3 THEN cy/cx WHEN 4 THEN -cx/cy ELSE -cx/cz END AS v FROM s3)",
        "s5 AS (SELECT *,"
        " CASE WHEN u >= 0 THEN 0.5*sqrt(1.0+3.0*u) ELSE 1.0-0.5*sqrt(1.0-3.0*u) END AS stu,"
        " CASE WHEN v >= 0 THEN 0.5*sqrt(1.0+3.0*v) ELSE 1.0-0.5*sqrt(1.0-3.0*v) END AS stv"
        " FROM s4)",
        f"h0 AS (SELECT {carry_csv}, face,"
        f" LEAST(GREATEST(CAST(trunc(stu*{n}.0) AS BIGINT), 0), {n - 1}) AS hx,"
        f" LEAST(GREATEST(CAST(trunc(stv*{n}.0) AS BIGINT), 0), {n - 1}) AS hy,"
        " CAST(0 AS BIGINT) AS hd FROM s5)",
    ]
    k, s = 0, n >> 1
    while s > 0:
        k += 1
        parts.append(
            f"p{k} AS (SELECT *, CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END AS rx,"
            f" CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END AS ry FROM h{k - 1})"
        )
        parts.append(
            f"q{k} AS (SELECT *, CASE WHEN ry = 0 AND rx = 1 THEN {s - 1} - hx ELSE hx END AS xf,"
            f" CASE WHEN ry = 0 AND rx = 1 THEN {s - 1} - hy ELSE hy END AS yf FROM p{k})"
        )
        parts.append(
            f"h{k} AS (SELECT {carry_csv}, face,"
            f" CASE WHEN ry = 0 THEN yf ELSE xf END AS hx,"
            f" CASE WHEN ry = 0 THEN xf ELSE yf END AS hy,"
            f" hd + {s} * {s} * xor(3 * rx, ry) AS hd FROM q{k})"
        )
        s >>= 1
    parts.append(
        f"s2out AS (SELECT {carry_csv},"
        f" ((face * {n * n} + hd) << 5) | {level} AS s2_13 FROM h{k})"
    )
    return ",\n        ".join(parts)


def _haversine_s2_oracle() -> str:
    base = """
        SELECT c_custkey,
               (c_custkey * 2654435761 % 1700001) / 10000.0 - 85.0 AS lat,
               (c_custkey * 40503 % 3600001) / 10000.0 - 180.0 AS lon
        FROM customer
    """
    chain = _s2_chain_sql(base, ["c_custkey", "lat", "lon"], 13)
    return f"""
        WITH {chain}
        SELECT c_custkey,
               ROUND(2.0 * 6371000.0 * asin(sqrt(
                   pow(sin(radians(51.5074 - lat) / 2.0), 2)
                   + cos(radians(lat)) * cos(radians(51.5074))
                   * pow(sin(radians(-0.1278 - lon) / 2.0), 2)
               )) / 1000.0, 3) AS dist_km,
               s2_13
        FROM s2out
    """


def _way_assembly_oracle() -> str:
    """Round-trip fixed point: the assembled polygons must equal the
    literal source polygons (vertex count, first vertex, coordinate sum,
    name) — stated directly over the same VALUES the Spark side
    decomposes into ways+nodes and reassembles."""
    from osm_spark.pipeline.geometry import synth_polygons_pdf

    rows = []
    for r in synth_polygons_pdf().itertuples():
        vlat = ", ".join(repr(float(v)) for v in r.vlat)
        vlon = ", ".join(repr(float(v)) for v in r.vlon)
        rows.append(f"({r.way_id}, '{r.tags['name']}', [{vlat}], [{vlon}])")
    values = ",\n                ".join(rows)
    return f"""
        WITH poly0(way_id, name, vlat, vlon) AS (VALUES
                {values}),
        poly AS (
            -- literals parse as DECIMAL/INT32; all arithmetic must be
            -- DOUBLE and ids BIGINT to match Spark bit-for-bit (repr
            -- strings round-trip exactly)
            SELECT CAST(way_id AS BIGINT) AS way_id, name,
                   CAST(vlat AS DOUBLE[]) AS vlat,
                   CAST(vlon AS DOUBLE[]) AS vlon
            FROM poly0
        )
        SELECT way_id, CAST(len(vlat) AS INT) AS n_vertices,
               ROUND(vlat[1], 6) AS lat0, ROUND(vlon[1], 6) AS lon0,
               ROUND(list_sum(vlat) + list_sum(vlon), 6) AS vsum,
               name
        FROM poly
    """


def _contours_oracle(z: int = 12, threshold: float = 1.0, tile_size: int = 256) -> str:
    """Marching-squares replay: Web-Mercator pixel rasterization of the
    closed-form points, candidate 2×2 blocks around lit pixels, case
    index from the four corners, and the segment lookup generated from
    the SAME case table the engine uses (geo/contours.py)."""
    from osm_spark.geo.contours import _CASES, _EDGE_XY

    n = float(1 << z)
    seg_rows = []
    for case, segs in _CASES.items():
        for e_from, e_to in segs:
            p1, p2 = _EDGE_XY[e_from], _EDGE_XY[e_to]
            seg_rows.append(f"({case}, {p1[0]}, {p1[1]}, {p2[0]}, {p2[1]})")
    seg_values = ", ".join(seg_rows)
    thr = repr(float(threshold))
    clat = "LEAST(GREATEST(lat, -85.05112878), 85.05112878)"
    return f"""
        WITH pts AS ({_sql_points_oracle()}),
        fxy AS (
            SELECT (lon + 180.0) / 360.0 * {n!r} AS fx,
                   (1.0 - ln(tan(radians({clat}))
                             + sqrt(tan(radians({clat})) * tan(radians({clat})) + 1.0))
                         / pi()) / 2.0 * {n!r} AS fy
            FROM pts
        ), pix AS (
            SELECT {z} AS z,
                   LEAST(GREATEST(CAST(floor(fx) AS BIGINT), 0), {(1 << z) - 1}) AS x,
                   LEAST(GREATEST(CAST(floor(fy) AS BIGINT), 0), {(1 << z) - 1}) AS y,
                   fx, fy
            FROM fxy
        ), raster AS (
            SELECT z, x, y,
                   LEAST(CAST(floor((fx - x) * {tile_size}) AS INT), {tile_size - 1}) AS px,
                   LEAST(CAST(floor((fy - y) * {tile_size}) AS INT), {tile_size - 1}) AS py,
                   count(*) AS cnt
            FROM pix GROUP BY ALL
        ), lit AS (
            SELECT * FROM raster WHERE cnt >= {thr}
        ), cand AS (
            SELECT DISTINCT z, x, y, px + dx AS bx, py + dy AS by
            FROM lit, (VALUES (-1, -1), (-1, 0), (0, -1), (0, 0)) AS o(dx, dy)
            WHERE px + dx BETWEEN 0 AND {tile_size - 2}
              AND py + dy BETWEEN 0 AND {tile_size - 2}
        ), cases AS (
            SELECT c.z, c.x, c.y, c.bx, c.by,
                   CASE WHEN tl.cnt >= {thr} THEN 1 ELSE 0 END
                 + CASE WHEN tr.cnt >= {thr} THEN 2 ELSE 0 END
                 + CASE WHEN br.cnt >= {thr} THEN 4 ELSE 0 END
                 + CASE WHEN bl.cnt >= {thr} THEN 8 ELSE 0 END AS cse
            FROM cand c
            LEFT JOIN raster tl ON tl.z = c.z AND tl.x = c.x AND tl.y = c.y
                               AND tl.px = c.bx AND tl.py = c.by
            LEFT JOIN raster tr ON tr.z = c.z AND tr.x = c.x AND tr.y = c.y
                               AND tr.px = c.bx + 1 AND tr.py = c.by
            LEFT JOIN raster br ON br.z = c.z AND br.x = c.x AND br.y = c.y
                               AND br.px = c.bx + 1 AND br.py = c.by + 1
            LEFT JOIN raster bl ON bl.z = c.z AND bl.x = c.x AND bl.y = c.y
                               AND bl.px = c.bx AND bl.py = c.by + 1
        ), segs(cse, x1o, y1o, x2o, y2o) AS (VALUES {seg_values})
        SELECT ca.z, ca.x, ca.y,
               CAST(2 * ca.bx + s.x1o AS BIGINT) AS x1,
               CAST(2 * ca.by + s.y1o AS BIGINT) AS y1,
               CAST(2 * ca.bx + s.x2o AS BIGINT) AS x2,
               CAST(2 * ca.by + s.y2o AS BIGINT) AS y2
        FROM cases ca JOIN segs s ON s.cse = ca.cse
    """


def _pip_pairs_oracle() -> str:
    """Brute-force even-odd ray cast + boundary-eps test in DuckDB, same
    IEEE op order as ``pip_cover_expr`` (spatial_join.py), over every
    (point, polygon) pair — verifying that the engine's covering prejoin
    never drops a true pair and the refine keeps exactly the right ones."""
    eps2 = repr(1e-12 * 1e-12)
    return f"""
        WITH poly0(way_id, vlat, vlon) AS (VALUES
                {_polygons_values_sql()}),
        poly AS (
            -- literals parse as DECIMAL/INT32; force DOUBLE so every
            -- product (notably the segment-distance d = abx²+aby²) rounds
            -- exactly as Spark's double arithmetic does, and BIGINT ids to
            -- match Spark's long schema
            SELECT CAST(way_id AS BIGINT) AS way_id,
                   CAST(vlat AS DOUBLE[]) AS vlat,
                   CAST(vlon AS DOUBLE[]) AS vlon
            FROM poly0
        ),
        pts AS ({_sql_points_oracle()}),
        ed AS (
            SELECT way_id, vlat, vlon, unnest(range(len(vlat))) AS i FROM poly
        ), e AS (
            SELECT way_id,
                   vlat[CAST(i AS INT) + 1] AS ay, vlon[CAST(i AS INT) + 1] AS ax,
                   vlat[CAST((i + 1) % len(vlat) AS INT) + 1] AS by,
                   vlon[CAST((i + 1) % len(vlat) AS INT) + 1] AS bx
            FROM ed
        ), c1 AS (
            SELECT p.point_id, p.lat, p.lon, e.way_id, e.ax, e.ay, e.bx, e.by,
                   e.bx - e.ax AS abx, e.by - e.ay AS aby,
                   p.lon - e.ax AS apx, p.lat - e.ay AS apy
            FROM pts p CROSS JOIN e
        ), c2 AS (
            SELECT *, abx * abx + aby * aby AS d,
                   ((ay > lat) <> (by > lat))
                   AND lon < abx * apy
                       / (CASE WHEN aby = 0 THEN 1.0 ELSE aby END) + ax AS crossed
            FROM c1
        ), c3 AS (
            SELECT *, CASE WHEN d > 0
                           THEN (apx * abx + apy * aby)
                                / (CASE WHEN d = 0 THEN 1.0 ELSE d END)
                           ELSE 0.0 END AS t0
            FROM c2
        ), c4 AS (
            SELECT *, LEAST(GREATEST(t0, 0.0), 1.0) AS t FROM c3
        ), c5 AS (
            SELECT *, apx - t * abx AS dx, apy - t * aby AS dy FROM c4
        ), hit AS (
            SELECT point_id, way_id,
                   SUM(CASE WHEN crossed THEN 1 ELSE 0 END) AS crossings,
                   MAX(CASE WHEN dx * dx + dy * dy <= {eps2} THEN 1 ELSE 0 END) AS on_edge
            FROM c5 GROUP BY point_id, way_id
        )
        SELECT point_id, way_id FROM hit WHERE crossings % 2 = 1 OR on_edge = 1
    """


def _knn_pairs_oracle(k: int = 3) -> str:
    """Brute-force top-k by haversine (same formula/op order as
    ``haversine_m``) with the engine's (dist, node_id) tie-break."""
    return f"""
        WITH nodes0(node_id, nlat, nlon) AS (VALUES
                {_nodes_values_sql()}),
        nodes AS (
            SELECT CAST(node_id AS BIGINT) AS node_id,
                   CAST(nlat AS DOUBLE) AS nlat,
                   CAST(nlon AS DOUBLE) AS nlon
            FROM nodes0
        ),
        pts AS ({_sql_points_oracle()}),
        d AS (
            SELECT p.point_id, n.node_id,
                   2.0 * 6371000.0 * asin(sqrt(
                       pow(sin(radians(n.nlat - p.lat) / 2.0), 2)
                     + cos(radians(p.lat)) * cos(radians(n.nlat))
                       * pow(sin(radians(n.nlon - p.lon) / 2.0), 2))) AS dist
            FROM pts p CROSS JOIN nodes n
        )
        SELECT point_id, node_id, CAST(rn AS INT) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY point_id
                       ORDER BY dist ASC, node_id ASC) AS rn
            FROM d
        ) WHERE rn <= {k}
    """


def _tile_clip_oracle(z: int = 13) -> str:
    """Full replay of the Liang-Barsky slab clip (clip_tiles_sql) over
    the polygon fixture rendered as VALUES."""
    from osm_spark.geo.cliptiles import clip_tiles_sql

    ways = (
        "(SELECT CAST(way_id AS BIGINT) AS way_id,"
        " CAST(vlat AS DOUBLE[]) AS vlat, CAST(vlon AS DOUBLE[]) AS vlon"
        f" FROM (VALUES {_polygons_values_sql()})"
        " poly0(way_id, vlat, vlon)) w"
    )
    return clip_tiles_sql(ways, z, closed=True)


def q_tile_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 vector-tile segment clipping, driver-gated: way rings →
    per-tile clipped sub-segments in integer extent units
    (geo/cliptiles.py — zero shuffle, zero UDF, one codegen pipeline) vs
    a DuckDB replay of the identical projection + slab-clip arithmetic."""
    _prep(spark)
    from osm_spark.geo.cliptiles import clip_segments_to_tiles
    from osm_spark.pipeline.geometry import synth_polygons

    ways = synth_polygons(spark).select("way_id", "vlat", "vlon")
    return clip_segments_to_tiles(ways, z=13, closed=True)


def _route_density_oracle(z: int = 13) -> str:
    """tile_clip's slab-clip replay wrapped with the identical
    rounded-integer length + per-tile sum (geo/cliptiles.py
    route_density)."""
    return f"""
        WITH clipped AS ({_tile_clip_oracle(z)})
        SELECT z, tx, ty, count(*) AS n_segments,
               CAST(sum(CAST(round(sqrt(
                    CAST(x1 - x0 AS DOUBLE) * CAST(x1 - x0 AS DOUBLE)
                    + CAST(y1 - y0 AS DOUBLE) * CAST(y1 - y0 AS DOUBLE)))
                    AS BIGINT)) AS BIGINT) AS length_eu
        FROM clipped GROUP BY z, tx, ty
    """


def q_route_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile way-network line density (geo/cliptiles.py
    route_density): zero-shuffle clip + exact rounded-length sums — vs
    the wrapped slab-clip replay."""
    _prep(spark)
    from osm_spark.geo.cliptiles import route_density
    from osm_spark.pipeline.geometry import synth_polygons

    ways = synth_polygons(spark).select("way_id", "vlat", "vlon")
    return route_density(ways, z=13, closed=True)


def _way_crossings_oracle(
    scale: int = 100_000, pair_pred: str = "s.way_id < t.way_id"
) -> str:
    """Brute-force segment-intersection replay: the same quantization
    (round(deg·scale) → BIGINT) and the same four-orientation int64
    test as geo/crossings.py, over every segment pair admitted by
    ``pair_pred`` (the self-join uses ``s < t``; the streaming
    conflation gate uses the stream×static split) — integer output
    only, exact by construction (no float parity needed)."""
    sc = repr(float(scale))
    return f"""
        WITH poly0(way_id, vlat, vlon) AS (VALUES
                {_polygons_values_sql()}),
        poly AS (
            SELECT CAST(way_id AS BIGINT) AS way_id,
                   CAST(vlat AS DOUBLE[]) AS vlat,
                   CAST(vlon AS DOUBLE[]) AS vlon
            FROM poly0
        ),
        segs AS (
            SELECT way_id, CAST(i AS INT) AS seg_idx,
                   CAST(round(vlon[i] * {sc}) AS BIGINT) AS x0,
                   CAST(round(vlat[i] * {sc}) AS BIGINT) AS y0,
                   CAST(round(vlon[(i % len(vlat)) + 1] * {sc}) AS BIGINT) AS x1,
                   CAST(round(vlat[(i % len(vlat)) + 1] * {sc}) AS BIGINT) AS y1
            FROM poly, UNNEST(range(1, len(vlat) + 1)) AS t(i)
        ),
        cand AS (
            SELECT s.way_id AS way_a, s.seg_idx AS seg_a,
                   t.way_id AS way_b, t.seg_idx AS seg_b,
                   CASE WHEN (s.x1-s.x0)*(t.y0-s.y0) - (s.y1-s.y0)*(t.x0-s.x0) > 0 THEN 1
                        WHEN (s.x1-s.x0)*(t.y0-s.y0) - (s.y1-s.y0)*(t.x0-s.x0) < 0 THEN -1 ELSE 0 END AS d1,
                   CASE WHEN (s.x1-s.x0)*(t.y1-s.y0) - (s.y1-s.y0)*(t.x1-s.x0) > 0 THEN 1
                        WHEN (s.x1-s.x0)*(t.y1-s.y0) - (s.y1-s.y0)*(t.x1-s.x0) < 0 THEN -1 ELSE 0 END AS d2,
                   CASE WHEN (t.x1-t.x0)*(s.y0-t.y0) - (t.y1-t.y0)*(s.x0-t.x0) > 0 THEN 1
                        WHEN (t.x1-t.x0)*(s.y0-t.y0) - (t.y1-t.y0)*(s.x0-t.x0) < 0 THEN -1 ELSE 0 END AS d3,
                   CASE WHEN (t.x1-t.x0)*(s.y1-t.y0) - (t.y1-t.y0)*(s.x1-t.x0) > 0 THEN 1
                        WHEN (t.x1-t.x0)*(s.y1-t.y0) - (t.y1-t.y0)*(s.x1-t.x0) < 0 THEN -1 ELSE 0 END AS d4,
                   s.x0 AS ax0, s.y0 AS ay0, s.x1 AS ax1, s.y1 AS ay1,
                   t.x0 AS bx0, t.y0 AS by0, t.x1 AS bx1, t.y1 AS by1
            FROM segs s JOIN segs t ON {pair_pred}
        )
        SELECT way_a, seg_a, way_b, seg_b FROM cand
        WHERE (d1 * d2 < 0 AND d3 * d4 < 0)
           OR (d1 = 0 AND bx0 BETWEEN least(ax0,ax1) AND greatest(ax0,ax1)
                      AND by0 BETWEEN least(ay0,ay1) AND greatest(ay0,ay1))
           OR (d2 = 0 AND bx1 BETWEEN least(ax0,ax1) AND greatest(ax0,ax1)
                      AND by1 BETWEEN least(ay0,ay1) AND greatest(ay0,ay1))
           OR (d3 = 0 AND ax0 BETWEEN least(bx0,bx1) AND greatest(bx0,bx1)
                      AND ay0 BETWEEN least(by0,by1) AND greatest(by0,by1))
           OR (d4 = 0 AND ax1 BETWEEN least(bx0,bx1) AND greatest(bx0,bx1)
                      AND ay1 BETWEEN least(by0,by1) AND greatest(by0,by1))
    """


_RESAMPLE_STEP_M = 250.0


def _way_resample_oracle() -> str:
    """Replay of geo/resample.py: per-segment mm lengths (trip_stats'
    quantize-early idiom, same haversine op order), window exclusive
    prefix sums (integer-exact), identical double-floor k-ranges and
    the identical single-division interpolation before micro-degree
    rounding."""
    s = int(round(_RESAMPLE_STEP_M * 1000.0))
    return f"""
        WITH poly0(way_id, vlat, vlon) AS (VALUES
                {_polygons_values_sql()}),
        poly AS (
            SELECT CAST(way_id AS BIGINT) AS way_id,
                   CAST(vlat AS DOUBLE[]) AS vlat,
                   CAST(vlon AS DOUBLE[]) AS vlon
            FROM poly0
        ),
        segs AS (
            SELECT way_id, CAST(i AS INT) AS i,
                   vlat[i] AS alat, vlon[i] AS alon,
                   vlat[(i % len(vlat)) + 1] AS blat,
                   vlon[(i % len(vlat)) + 1] AS blon,
                   CAST(round(2.0 * 6371000.0 * asin(sqrt(
                        pow(sin(radians(vlat[(i % len(vlat)) + 1] - vlat[i]) / 2.0), 2)
                      + cos(radians(vlat[i])) * cos(radians(vlat[(i % len(vlat)) + 1]))
                        * pow(sin(radians(vlon[(i % len(vlat)) + 1] - vlon[i]) / 2.0), 2)))
                        * 1000.0) AS BIGINT) AS seg_mm
            FROM poly, UNNEST(range(1, len(vlat) + 1)) AS t(i)
        ),
        cum AS (
            SELECT *, COALESCE(SUM(seg_mm) OVER (
                PARTITION BY way_id ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
            FROM segs
        ),
        ks AS (
            SELECT way_id, alat, alon, blat, blon, seg_mm, cum_prev, k
            FROM cum, UNNEST(generate_series(
                CAST(floor(CAST(cum_prev + {s} - 1 AS DOUBLE) / {s}) AS BIGINT),
                CAST(floor(CAST(cum_prev + seg_mm + {s} - 1 AS DOUBLE) / {s}) AS BIGINT) - 1
            )) AS g(k)
        )
        SELECT way_id, k,
               CAST(round((alat + (CAST(k * {s} - cum_prev AS DOUBLE)
                    / CAST(seg_mm AS DOUBLE)) * (blat - alat)) * 1000000.0)
                    AS BIGINT) AS qlat,
               CAST(round((alon + (CAST(k * {s} - cum_prev AS DOUBLE)
                    / CAST(seg_mm AS DOUBLE)) * (blon - alon)) * 1000000.0)
                    AS BIGINT) AS qlon
        FROM ks
    """


def q_way_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 polyline densification (geo/resample.py resample_ways):
    way rings → per-segment mm lengths → shuffle-free array prefix sums
    → k-range Generate → interpolated micro-degree points, vs a DuckDB
    window replay of the identical quantize-early arithmetic. The map-
    matching preprocessor: evenly-spaced vertices along every way."""
    _prep(spark)
    from osm_spark.geo.resample import resample_ways
    from osm_spark.pipeline.geometry import synth_polygons

    ways = synth_polygons(spark).select("way_id", "vlat", "vlon")
    return resample_ways(ways, _RESAMPLE_STEP_M, closed=True)


def q_way_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 line×line conflation join (geo/crossings.py
    segment_crossings): way rings → quantized segments → bbox grid-cell
    cover → shuffle_hash cell equi-join → exact int64 four-orientation
    refine → distinct pairs, vs a DuckDB brute-force replay of the
    identical integer predicate. The OSM use: road×river crossings
    without a shared node (missing-bridge QA) / two-layer conflation."""
    _prep(spark)
    from osm_spark.geo.crossings import segment_crossings
    from osm_spark.pipeline.geometry import synth_polygons

    ways = synth_polygons(spark).select("way_id", "vlat", "vlon")
    return segment_crossings(ways)


def _orientation_oracle(scale: int = 100_000) -> str:
    """Replay of geo/orientation.py: same quantized segments, same
    folded-orientation bin ladder as a CASE with the IDENTICAL tangent
    literals (one shared-literal multiply + compare per rung — no
    atan2, whose last-ulp engine divergence this design exists to
    avoid), same mm-quantized haversine weights."""
    from osm_spark.geo.orientation import TAN_LITERALS

    sc = repr(float(scale))
    pos = " ".join(
        f"WHEN fx < fy * {TAN_LITERALS[k - 1]!r} THEN {k - 1}"
        for k in range(1, 9)
    )
    neg = " ".join(
        f"WHEN fx < fy * {-TAN_LITERALS[8 - k]!r} THEN {9 + k - 1}"
        for k in range(1, 9)
    )
    return f"""
        WITH poly0(way_id, vlat, vlon) AS (VALUES
                {_polygons_values_sql()}),
        poly AS (
            SELECT CAST(way_id AS BIGINT) AS way_id,
                   CAST(vlat AS DOUBLE[]) AS vlat,
                   CAST(vlon AS DOUBLE[]) AS vlon
            FROM poly0
        ),
        segs AS (
            SELECT way_id,
                   CAST(round(vlon[i] * {sc}) AS BIGINT) AS x0,
                   CAST(round(vlat[i] * {sc}) AS BIGINT) AS y0,
                   CAST(round(vlon[(i % len(vlat)) + 1] * {sc}) AS BIGINT) AS x1,
                   CAST(round(vlat[(i % len(vlat)) + 1] * {sc}) AS BIGINT) AS y1
            FROM poly, UNNEST(range(1, len(vlat) + 1)) AS t(i)
        ),
        folded AS (
            SELECT way_id, x0, y0, x1, y1,
                   CASE WHEN (y1 - y0) < 0
                             OR ((y1 - y0) = 0 AND (x1 - x0) < 0)
                        THEN CAST(-(x1 - x0) AS DOUBLE)
                        ELSE CAST(x1 - x0 AS DOUBLE) END AS fx,
                   CASE WHEN (y1 - y0) < 0
                             OR ((y1 - y0) = 0 AND (x1 - x0) < 0)
                        THEN CAST(-(y1 - y0) AS DOUBLE)
                        ELSE CAST(y1 - y0 AS DOUBLE) END AS fy
            FROM segs
            WHERE NOT (x1 = x0 AND y1 = y0)
        ),
        binned AS (
            SELECT ((way_id - 1000) // 8) AS region,
                   CASE WHEN fy = 0 THEN 9
                        WHEN fx >= 0 THEN CASE {pos} ELSE 8 END
                        ELSE CASE {neg} ELSE 17 END
                   END AS bin,
                   CAST(round(2.0 * 6371000.0 * asin(sqrt(
                        pow(sin(radians(y1 / {sc} - y0 / {sc}) / 2.0), 2)
                      + cos(radians(y0 / {sc})) * cos(radians(y1 / {sc}))
                        * pow(sin(radians(x1 / {sc} - x0 / {sc}) / 2.0), 2)))
                        * 1000.0) AS BIGINT) AS len_mm
            FROM folded
        )
        SELECT region, CAST(bin AS INT) AS bin,
               count(*) AS n_segments, CAST(sum(len_mm) AS BIGINT) AS len_mm
        FROM binned GROUP BY region, bin
    """


def q_street_orientation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Urban-form analytics (geo/orientation.py orientation_histogram):
    per-city length-weighted 18-bin street-orientation rose, with bins
    decided by shared-literal slope comparisons instead of atan2 (whose
    last-ulp divergence between engines is measured, not hypothetical)
    — vs a DuckDB CASE-ladder replay with the identical literals."""
    _prep(spark)
    from osm_spark.geo.orientation import orientation_histogram
    from osm_spark.pipeline.geometry import synth_polygons

    ways = synth_polygons(spark).select("way_id", "vlat", "vlon")
    region = ((F.col("way_id") - 1000) / 8).cast("long").alias("region")
    return orientation_histogram(ways, region)


def _orientation_entropy_oracle() -> str:
    """The histogram oracle wrapped with text/entropy.py's micro-nat
    recipe over integer-meter weights: per-bin w·ln(w) quantized to
    micro-nats first (exact long sum), identical single-shot closing
    float, identical rounding."""
    return f"""
        WITH hist AS ({_orientation_oracle()}),
        binned AS (
            SELECT region, len_mm // 1000 AS w FROM hist
            WHERE len_mm // 1000 > 0
        ),
        agg AS (
            SELECT region,
                   CAST(sum(w) AS BIGINT) AS total_m,
                   count(*) AS n_bins,
                   CAST(sum(CAST(round(CAST(w AS DOUBLE)
                        * ln(CAST(w AS DOUBLE)) * 1000000.0, 0) AS BIGINT))
                        AS BIGINT) AS s
            FROM binned GROUP BY region
        )
        SELECT region, total_m, n_bins,
               CAST(round(ln(CAST(total_m AS DOUBLE)) * 1000000.0
                    - CAST(s AS DOUBLE) / CAST(total_m AS DOUBLE), 0)
                    AS BIGINT) AS entropy_micro
        FROM agg
    """


def q_orientation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-order metric (geo/orientation.py orientation_entropy):
    per-city Shannon entropy of the length-weighted orientation rose in
    micro-nats — low = gridded, high = organic — composed over the
    atan2-free histogram and gated against the wrapped replay."""
    _prep(spark)
    from osm_spark.geo.orientation import orientation_entropy
    from osm_spark.pipeline.geometry import synth_polygons

    ways = synth_polygons(spark).select("way_id", "vlat", "vlon")
    region = ((F.col("way_id") - 1000) / 8).cast("long").alias("region")
    return orientation_entropy(ways, region)


def q_stream_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming geometry conflation (streaming/conflation.py): odd
    way ids arrive as a two-drop edit STREAM and are crossing-checked
    against the static even-id layer on ingest — stream-static cell
    equi-join + the batch operator's exact int64 refine + stateful
    pair dedup, run availableNow into a memory sink. The oracle is the
    batch integer-exact replay restricted to stream×static pairs:
    stream ≡ batch, the engine's streaming contract."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile
    import uuid as _uuid

    _prep(spark)
    from osm_spark.pipeline.geometry import synth_polygons
    from osm_spark.streaming.conflation import stream_crossings

    ways = synth_polygons(spark).select("way_id", "vlat", "vlon")
    stream_ways = ways.where(F.col("way_id") % 2 == 1)
    static_ways = ways.where(F.col("way_id") % 2 == 0)

    base = _tempfile.mkdtemp(prefix="osm_spark_xing_")
    drops = _os.path.join(base, "drops")
    _os.makedirs(drops)
    for i, part in enumerate(
        (
            stream_ways.where(F.col("way_id") % 4 == 1),
            stream_ways.where(F.col("way_id") % 4 == 3),
        )
    ):
        stage = _os.path.join(base, f"stage{i}")
        part.coalesce(1).write.parquet(stage)
        f = _glob.glob(_os.path.join(stage, "part-*.parquet"))[0]
        dst = _os.path.join(drops, f"d{i}.parquet")
        _shutil.move(f, dst)
        _os.utime(dst, (1_000_000 + 100 * i,) * 2)
    stream = (
        spark.readStream.schema(
            "way_id long, vlat array<double>, vlon array<double>"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    out = stream_crossings(stream, static_ways)
    sink = f"xing_{_uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", _os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


def _radius_pairs_oracle(radius_m: float = 1500.0) -> str:
    """Brute-force DWithin (same haversine formula/op order as
    ``haversine_m``). Pair-set output only — no float rides the hash."""
    return f"""
        WITH nodes0(node_id, nlat, nlon) AS (VALUES
                {_nodes_values_sql()}),
        nodes AS (
            SELECT CAST(node_id AS BIGINT) AS node_id,
                   CAST(nlat AS DOUBLE) AS nlat,
                   CAST(nlon AS DOUBLE) AS nlon
            FROM nodes0
        ),
        pts AS ({_sql_points_oracle()})
        SELECT p.point_id, n.node_id
        FROM pts p CROSS JOIN nodes n
        WHERE 2.0 * 6371000.0 * asin(sqrt(
                  pow(sin(radians(n.nlat - p.lat) / 2.0), 2)
                + cos(radians(p.lat)) * cos(radians(n.nlat))
                  * pow(sin(radians(n.nlon - p.lon) / 2.0), 2))) <= {radius_m!r}
    """


def q_radius_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 radius (DWithin) join, driver-gated: node K-disk covering →
    cell equi-join → exact haversine refine (geo/radius.py) vs a DuckDB
    brute-force oracle. Runs the SHUFFLE path (the planet-scale form —
    the broadcast path is pytest-proven identical); ring/res are planned
    from the radius and the node-table latitude bound."""
    _prep(spark)
    from osm_spark.geo.radius import radius_join
    from osm_spark.pipeline.geometry import synth_nodes

    out = radius_join(
        _sql_points(spark, sf_dir), synth_nodes(spark), 1500.0, strategy="shuffle"
    )
    return out.select(F.col("url").cast("long").alias("point_id"), "node_id")


_DBSCAN_EPS_M = 1500.0
_DBSCAN_MIN_PTS = 20


def _dbscan_oracle() -> str:
    """Brute-force DBSCAN: all-pairs haversine (same formula/op order as
    ``haversine_m``), degree counts, core flags, then a recursive-CTE
    min-label closure over the core-core eps-graph — exactly the
    convergence target of the Spark side's pointer-jumping components.
    Border points take the MIN cluster over their core neighbors (the
    deterministic tie-break dbscan() pins). Integer output only — no
    float rides the value hash."""
    eps = repr(float(_DBSCAN_EPS_M))
    return f"""
        WITH RECURSIVE pts AS MATERIALIZED ({_sql_points_oracle()}),
        prs AS MATERIALIZED (
            SELECT a.point_id AS a_id, b.point_id AS b_id
            FROM pts a JOIN pts b ON a.point_id < b.point_id
            WHERE 2.0 * 6371000.0 * asin(sqrt(
                      pow(sin(radians(b.lat - a.lat) / 2.0), 2)
                    + cos(radians(a.lat)) * cos(radians(b.lat))
                      * pow(sin(radians(b.lon - a.lon) / 2.0), 2))) <= {eps}
        ),
        deg AS MATERIALIZED (
            SELECT id, count(*) AS deg FROM (
                SELECT a_id AS id FROM prs
                UNION ALL SELECT b_id FROM prs
            ) GROUP BY id
        ),
        core AS MATERIALIZED (
            SELECT p.point_id AS id
            FROM pts p LEFT JOIN deg ON deg.id = p.point_id
            WHERE coalesce(deg.deg, 0) + 1 >= {_DBSCAN_MIN_PTS}
        ),
        ce AS MATERIALIZED (
            SELECT a_id, b_id FROM prs
            WHERE a_id IN (SELECT id FROM core)
              AND b_id IN (SELECT id FROM core)
        ),
        sym AS MATERIALIZED (SELECT a_id AS u, b_id AS v FROM ce
                UNION SELECT b_id, a_id FROM ce),
        reach(id, r) AS (
            SELECT id, id FROM core
            UNION
            SELECT s.u, reach.r FROM sym s JOIN reach ON reach.id = s.v
        ),
        comp AS MATERIALIZED (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
        border AS MATERIALIZED (
            SELECT t.id, MIN(c.cluster) AS cluster FROM (
                SELECT a_id AS id, b_id AS cid FROM prs
                UNION ALL SELECT b_id, a_id FROM prs
            ) t JOIN comp c ON c.id = t.cid
            WHERE t.id NOT IN (SELECT id FROM comp)
            GROUP BY t.id
        )
        SELECT id AS point_id, cluster, 'core' AS role FROM comp
        UNION ALL
        SELECT id AS point_id, cluster, 'border' AS role FROM border
        UNION ALL
        SELECT p.point_id, CAST(NULL AS BIGINT) AS cluster, 'noise' AS role
        FROM pts p
        WHERE p.point_id NOT IN (SELECT id FROM comp)
          AND p.point_id NOT IN (SELECT id FROM border)
    """


# min_pts 5 leaves ~300 core points and ~740 core-core pairs at sf0.01
# (10 left one core and no pair), so the gate runs connected components
# on a real graph.
_ST_EPS_M, _ST_EPS_T, _ST_MIN_PTS = 1500.0, 1800, 5


def q_st_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 family: ST-DBSCAN (geo/dbscan.py st_dbscan, Birant & Kut
    2007) — the spatiotemporal burst clusterer: (cell, time-bucket)
    blocked pairs within 1500 m AND 1800 s, min_pts 5, then the shared
    labels_from_pairs core/border/noise labeling — vs the brute-force +
    recursive-closure oracle with the time predicate added. Timestamps
    are a deterministic integer function of the key (replayed exactly)."""
    _prep(spark)
    from osm_spark.geo.dbscan import st_dbscan

    pts = _sql_points(spark, sf_dir).select(
        F.col("url").cast("long").alias("id"),
        "lat",
        "lon",
        (F.col("url").cast("long") * 7451 % 36000).alias("ts"),
    )
    out = st_dbscan(pts, _ST_EPS_M, _ST_EPS_T, _ST_MIN_PTS)
    return out.select(F.col("id").alias("point_id"), "cluster", "role")


def _st_dbscan_oracle() -> str:
    """The dbscan oracle with the spatiotemporal neighborhood: same
    haversine, plus |Δts| ≤ eps_t with ts = point_id·7451 mod 36000."""
    eps = repr(float(_ST_EPS_M))
    return f"""
        WITH RECURSIVE pts AS MATERIALIZED (
            SELECT point_id, lat, lon, point_id * 7451 % 36000 AS ts
            FROM ({_sql_points_oracle()})
        ),
        prs AS MATERIALIZED (
            SELECT a.point_id AS a_id, b.point_id AS b_id
            FROM pts a JOIN pts b ON a.point_id < b.point_id
            WHERE abs(a.ts - b.ts) <= {_ST_EPS_T}
              AND 2.0 * 6371000.0 * asin(sqrt(
                      pow(sin(radians(b.lat - a.lat) / 2.0), 2)
                    + cos(radians(a.lat)) * cos(radians(b.lat))
                      * pow(sin(radians(b.lon - a.lon) / 2.0), 2))) <= {eps}
        ),
        deg AS MATERIALIZED (
            SELECT id, count(*) AS deg FROM (
                SELECT a_id AS id FROM prs
                UNION ALL SELECT b_id FROM prs
            ) GROUP BY id
        ),
        core AS MATERIALIZED (
            SELECT p.point_id AS id
            FROM pts p LEFT JOIN deg ON deg.id = p.point_id
            WHERE coalesce(deg.deg, 0) + 1 >= {_ST_MIN_PTS}
        ),
        ce AS MATERIALIZED (
            SELECT a_id, b_id FROM prs
            WHERE a_id IN (SELECT id FROM core)
              AND b_id IN (SELECT id FROM core)
        ),
        sym AS MATERIALIZED (SELECT a_id AS u, b_id AS v FROM ce
                UNION SELECT b_id, a_id FROM ce),
        reach(id, r) AS (
            SELECT id, id FROM core
            UNION
            SELECT s.u, reach.r FROM sym s JOIN reach ON reach.id = s.v
        ),
        comp AS MATERIALIZED (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
        border AS MATERIALIZED (
            SELECT t.id, MIN(c.cluster) AS cluster FROM (
                SELECT a_id AS id, b_id AS cid FROM prs
                UNION ALL SELECT b_id, a_id FROM prs
            ) t JOIN comp c ON c.id = t.cid
            WHERE t.id NOT IN (SELECT id FROM comp)
            GROUP BY t.id
        )
        SELECT id AS point_id, cluster, 'core' AS role FROM comp
        UNION ALL
        SELECT id AS point_id, cluster, 'border' AS role FROM border
        UNION ALL
        SELECT p.point_id, CAST(NULL AS BIGINT) AS cluster, 'noise' AS role
        FROM pts p
        WHERE p.point_id NOT IN (SELECT id FROM comp)
          AND p.point_id NOT IN (SELECT id FROM border)
    """


_SNAP_RADIUS_M = 3000.0


def _snap_oracle() -> str:
    """Brute-force nearest-segment snap: every (point, ring segment)
    pair scored with the identical equirectangular point-to-segment
    arithmetic as ``seg_dist_m`` (geo/snap.py), ROW_NUMBER argmin with
    the same (dist, way_id, seg_idx) tie-break. VALUES literals are CAST
    to DOUBLE[] up front — DuckDB otherwise parses them as DECIMAL and
    the subtraction bits diverge from float64. The gated distance is
    quantized to integer MILLIMETERS: JVM ``cos`` and libm ``cos``
    disagree by 1 ulp on some latitudes (measured — 3 of 1474 rows), so
    raw float values cannot hash-match; 3e-10 m of ulp noise cannot
    flip a 0.5 mm rounding boundary."""
    return f"""
        WITH poly0(way_id, vlat, vlon) AS (VALUES
                {_polygons_values_sql()}),
        poly AS (
            SELECT CAST(way_id AS BIGINT) AS way_id,
                   CAST(vlat AS DOUBLE[]) AS vlat,
                   CAST(vlon AS DOUBLE[]) AS vlon
            FROM poly0
        ),
        seg0 AS (
            SELECT way_id, vlat, vlon, unnest(range(len(vlat))) AS i FROM poly
        ),
        seg AS (
            SELECT way_id, CAST(i AS INT) AS seg_idx,
                   vlat[CAST(i AS INT) + 1] AS ay, vlon[CAST(i AS INT) + 1] AS ax,
                   vlat[CAST((i + 1) % len(vlat) AS INT) + 1] AS by,
                   vlon[CAST((i + 1) % len(vlat) AS INT) + 1] AS bx
            FROM seg0
        ),
        pts AS ({_sql_points_oracle()}),
        c1 AS (
            SELECT p.point_id, s.way_id, s.seg_idx,
                   (s.bx - s.ax) * cos(radians(p.lat)) AS abx,
                   s.by - s.ay AS aby,
                   (p.lon - s.ax) * cos(radians(p.lat)) AS apx,
                   p.lat - s.ay AS apy
            FROM pts p CROSS JOIN seg s
        ),
        c2 AS (SELECT *, abx * abx + aby * aby AS d FROM c1),
        c3 AS (SELECT *, CASE WHEN d > 0 THEN (apx * abx + apy * aby) / d
                              ELSE 0.0 END AS t0 FROM c2),
        c4 AS (SELECT *, LEAST(GREATEST(t0, 0.0), 1.0) AS t FROM c3),
        c5 AS (SELECT point_id, way_id, seg_idx,
                      apx - t * abx AS dx, apy - t * aby AS dy FROM c4),
        hits AS (
            SELECT point_id, way_id, seg_idx,
                   sqrt(dx * dx + dy * dy) * 111320.0 AS dist_m
            FROM c5
            WHERE sqrt(dx * dx + dy * dy) * 111320.0 <= {_SNAP_RADIUS_M!r}
        )
        SELECT point_id, way_id, seg_idx,
               CAST(round(dist_m * 1000.0) AS BIGINT) AS dist_mm
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY point_id
                ORDER BY dist_m, way_id, seg_idx) AS rn
            FROM hits
        ) WHERE rn = 1
    """


def q_snap_roads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 family: nearest-segment snap / map matching (geo/snap.py) —
    segment sample covering → cell equi-join → exact equirectangular
    point-to-segment refine → struct-min argmin — vs a DuckDB
    brute-force replay with identical IEEE arithmetic. Runs the SHUFFLE
    path (planet-scale form; broadcast is pytest-proven identical)."""
    _prep(spark)
    from osm_spark.geo.snap import snap_join
    from osm_spark.pipeline.geometry import synth_polygons

    ways = synth_polygons(spark).select("way_id", "vlat", "vlon")
    out = snap_join(
        _sql_points(spark, sf_dir), ways, _SNAP_RADIUS_M,
        closed=True, strategy="shuffle",
    )
    return out.select(
        F.col("url").cast("long").alias("point_id"),
        "way_id",
        "seg_idx",
        F.round(F.col("dist_m") * 1000.0, 0).cast("long").alias("dist_mm"),
    )


_MM_RADIUS_M = 3000.0
_MM_SIGMA_MM = 500_000
_MM_BETA_MM = 1_000_000
_MM_K = 3
_MM_TRIPS = 40
_MM_MAX_PINGS = 4


def _hmm_oracle() -> str:
    """Full replay of geo/mapmatch.py hmm_map_match: brute-force
    candidates (the gated-snap arithmetic + clamped projection),
    quantized (dist_mm, way_id, seg_idx)-ordered top-k, then the
    Viterbi min-plus DP UNROLLED one CTE per trajectory step (the
    sssp/kcore unrolled-oracle idiom) with the identical integer cost
    model — ecost/tcost quantized via floor(x+0.5) in BOTH engines
    (numpy round() is half-even, SQL round() half-away; floor(x+0.5)
    is the spelling they agree on) — path strings carried through the
    DP and split back to rows at the end. Tie rule everywhere:
    (cost, way_id, seg_idx)."""
    sig2 = 2.0 * (_MM_SIGMA_MM / 1000.0) ** 2
    beta = float(_MM_BETA_MM)
    npts = _MM_TRIPS * _MM_MAX_PINGS

    def smm(plat: str) -> str:
        return (
            "CAST(floor(sqrt("
            f"((c.sx - p.sx) * cos(radians({plat})))"
            f" * ((c.sx - p.sx) * cos(radians({plat})))"
            " + (c.sy - p.sy) * (c.sy - p.sy)"
            ") * 111320.0 * 1000.0 + 0.5) AS BIGINT)"
        )

    tcost = (
        f"CAST(floor(abs({smm('g.plat')} - g.pmm) / {beta!r} * 1e6 + 0.5)"
        " AS BIGINT)"
    )
    stages = []
    for s in range(1, _MM_MAX_PINGS):
        stages.append(f"""
        v{s} AS (
            SELECT trip_id, r, way_id, seg_idx, sy, sx,
                   tot + ecost AS score,
                   ppath || '>' || CAST(way_id AS VARCHAR) || ':'
                         || CAST(seg_idx AS VARCHAR) AS path
            FROM (
                SELECT t.*, ROW_NUMBER() OVER (
                    PARTITION BY trip_id, way_id, seg_idx
                    ORDER BY tot, pway, pseg) AS rn
                FROM (
                    SELECT c.trip_id, c.r, c.way_id, c.seg_idx, c.sy,
                           c.sx, c.ecost, p.way_id AS pway,
                           p.seg_idx AS pseg, p.path AS ppath,
                           p.score + {tcost} AS tot
                    FROM ec c
                    JOIN v{s - 1} p ON p.trip_id = c.trip_id
                    JOIN gaps g ON g.trip_id = c.trip_id AND g.r = {s}
                    WHERE c.r = {s}
                ) t
            ) WHERE rn = 1
        )""")
    allv = " UNION ALL ".join(
        f"SELECT trip_id, r, way_id, seg_idx, score, path FROM v{s}"
        for s in range(_MM_MAX_PINGS)
    )
    return f"""
        WITH poly0(way_id, vlat, vlon) AS (VALUES
                {_polygons_values_sql()}),
        poly AS (
            SELECT CAST(way_id AS BIGINT) AS way_id,
                   CAST(vlat AS DOUBLE[]) AS vlat,
                   CAST(vlon AS DOUBLE[]) AS vlon
            FROM poly0
        ),
        seg0 AS (
            SELECT way_id, vlat, vlon, unnest(range(len(vlat))) AS i FROM poly
        ),
        seg AS (
            SELECT way_id, CAST(i AS INT) AS seg_idx,
                   vlat[CAST(i AS INT) + 1] AS ay, vlon[CAST(i AS INT) + 1] AS ax,
                   vlat[CAST((i + 1) % len(vlat) AS INT) + 1] AS by,
                   vlon[CAST((i + 1) % len(vlat) AS INT) + 1] AS bx
            FROM seg0
        ),
        ap AS ({_sql_points_oracle()}),
        pts AS (
            SELECT CAST(point_id % {_MM_TRIPS} AS BIGINT) AS trip_id,
                   CAST(point_id // {_MM_TRIPS} AS INT) AS seq, lat, lon
            FROM ap WHERE point_id < {npts}
        ),
        c1 AS (
            SELECT p.trip_id, p.seq, p.lat, p.lon, s.way_id, s.seg_idx,
                   s.ay, s.ax, s.by, s.bx,
                   (s.bx - s.ax) * cos(radians(p.lat)) AS abx,
                   s.by - s.ay AS aby,
                   (p.lon - s.ax) * cos(radians(p.lat)) AS apx,
                   p.lat - s.ay AS apy
            FROM pts p CROSS JOIN seg s
        ),
        c2 AS (SELECT *, abx * abx + aby * aby AS d FROM c1),
        c3 AS (SELECT *, CASE WHEN d > 0 THEN (apx * abx + apy * aby) / d
                              ELSE 0.0 END AS t0 FROM c2),
        c4 AS (SELECT *, LEAST(GREATEST(t0, 0.0), 1.0) AS t FROM c3),
        c5 AS (
            SELECT trip_id, seq, lat, lon, way_id, seg_idx,
                   apx - t * abx AS dx, apy - t * aby AS dy,
                   ay + t * (by - ay) AS sy, ax + t * (bx - ax) AS sx
            FROM c4
        ),
        hits AS (
            SELECT trip_id, seq, lat, lon, way_id, seg_idx, sy, sx,
                   CAST(round(sqrt(dx * dx + dy * dy) * 111320.0 * 1000.0)
                        AS BIGINT) AS dist_mm
            FROM c5
            WHERE sqrt(dx * dx + dy * dy) * 111320.0 <= {_MM_RADIUS_M!r}
        ),
        cand AS (
            SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY trip_id, seq
                    ORDER BY dist_mm, way_id, seg_idx) AS krn
                FROM hits
            ) WHERE krn <= {_MM_K}
        ),
        rnk2 AS (
            SELECT trip_id, seq, CAST(ROW_NUMBER() OVER (
                       PARTITION BY trip_id ORDER BY seq) - 1 AS INT) AS r
            FROM (SELECT DISTINCT trip_id, seq FROM cand)
        ),
        cr AS (
            SELECT c.*, r.r FROM cand c
            JOIN rnk2 r ON r.trip_id = c.trip_id AND r.seq = c.seq
        ),
        pngs AS (SELECT DISTINCT trip_id, r, lat, lon FROM cr),
        gaps AS (
            SELECT b.trip_id, b.r, a.lat AS plat,
                   CAST(floor(sqrt(
                       ((b.lon - a.lon) * cos(radians(a.lat)))
                     * ((b.lon - a.lon) * cos(radians(a.lat)))
                     + (b.lat - a.lat) * (b.lat - a.lat)
                   ) * 111320.0 * 1000.0 + 0.5) AS BIGINT) AS pmm
            FROM pngs a JOIN pngs b
              ON b.trip_id = a.trip_id AND b.r = a.r + 1
        ),
        ec AS (
            SELECT *, CAST(floor((dist_mm / 1000.0) * (dist_mm / 1000.0)
                           / {sig2!r} * 1e6 + 0.5) AS BIGINT) AS ecost
            FROM cr
        ),
        v0 AS (
            SELECT trip_id, r, way_id, seg_idx, sy, sx, ecost AS score,
                   CAST(way_id AS VARCHAR) || ':'
                       || CAST(seg_idx AS VARCHAR) AS path
            FROM ec WHERE r = 0
        ),{",".join(stages)},
        allv AS ({allv}),
        mx AS (SELECT trip_id, MAX(r) AS mr FROM cr GROUP BY trip_id),
        fin AS (
            SELECT trip_id, path FROM (
                SELECT a.*, ROW_NUMBER() OVER (
                    PARTITION BY a.trip_id
                    ORDER BY a.score, a.way_id, a.seg_idx) AS rn
                FROM allv a JOIN mx ON mx.trip_id = a.trip_id
                                   AND mx.mr = a.r
            ) WHERE rn = 1
        ),
        prs AS (
            SELECT trip_id,
                   CAST(i AS INT) AS r,
                   str_split(path, '>')[CAST(i AS INT) + 1] AS ws
            FROM (
                SELECT trip_id, path,
                       unnest(range(len(str_split(path, '>')))) AS i
                FROM fin
            )
        )
        SELECT o.trip_id, r2.seq,
               CAST(str_split(o.ws, ':')[1] AS BIGINT) AS way_id,
               CAST(str_split(o.ws, ':')[2] AS INT) AS seg_idx,
               c.dist_mm
        FROM prs o
        JOIN rnk2 r2 ON r2.trip_id = o.trip_id AND r2.r = o.r
        JOIN cand c ON c.trip_id = o.trip_id AND c.seq = r2.seq
                   AND c.way_id = CAST(str_split(o.ws, ':')[1] AS BIGINT)
                   AND c.seg_idx = CAST(str_split(o.ws, ':')[2] AS INT)
    """


def q_hmm_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 family capstone: HMM map matching (geo/mapmatch.py) —
    Newson–Krumm emission/transition model over the gated snap's
    candidate machinery, all-integer Viterbi (micro-quantized costs,
    floor(x+0.5) both engines), per-trip grouped-map DP — vs a DuckDB
    replay whose DP is UNROLLED one CTE per trajectory step with the
    identical integer arithmetic and (cost, way_id, seg_idx) tie rule.
    Trips: 40 trajectories of ≤4 same-city pings carved from the
    bit-identical _sql_points synthesis; ways: the closed polygon
    rings; shuffle candidate path (planet-scale form)."""
    _prep(spark)
    from osm_spark.geo.mapmatch import hmm_map_match
    from osm_spark.pipeline.geometry import synth_polygons

    pts = _sql_points(spark, sf_dir)
    pid = F.col("url").cast("long")
    trips = pts.where(pid < _MM_TRIPS * _MM_MAX_PINGS).select(
        (pid % _MM_TRIPS).alias("trip_id"),
        F.expr(f"CAST(url AS BIGINT) div {_MM_TRIPS}")
        .cast("int")
        .alias("seq"),
        "lat",
        "lon",
    )
    ways = synth_polygons(spark).select("way_id", "vlat", "vlon")
    return hmm_map_match(
        trips,
        ways,
        _MM_RADIUS_M,
        sigma_mm=_MM_SIGMA_MM,
        beta_mm=_MM_BETA_MM,
        k=_MM_K,
        closed=True,
        strategy="shuffle",
    )


def q_hmm_match_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HMM map matching (streaming/mapmatch.py): the same
    40-trip fixture as hmm_match arrives as TWO crawl-drop files split
    MID-TRIP (seqs 0-1, then 2-3 with the trip-final markers) at
    maxFilesPerTrigger=1, so every trip's Viterbi frontier must carry
    through applyInPandasWithState state across micro-batches; trips
    close on the seq-3 marker. The emitted rows must equal the batch
    DP — same DuckDB unrolled-Viterbi oracle as hmm_match."""
    _prep(spark)
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile
    import uuid as _uuid

    from osm_spark.pipeline.geometry import synth_polygons
    from osm_spark.streaming.mapmatch import hmm_map_match_stream

    pts = _sql_points(spark, sf_dir)
    pid = F.col("url").cast("long")
    trips = pts.where(pid < _MM_TRIPS * _MM_MAX_PINGS).select(
        (pid % _MM_TRIPS).alias("trip_id"),
        F.expr(f"CAST(url AS BIGINT) div {_MM_TRIPS}")
        .cast("int")
        .alias("seq"),
        "lat",
        "lon",
        (
            F.expr(f"CAST(url AS BIGINT) div {_MM_TRIPS}")
            == _MM_MAX_PINGS - 1
        ).alias("is_final"),
    )
    base = _tempfile.mkdtemp(prefix="osm_spark_mms_")
    drops = _os.path.join(base, "drops")
    _os.makedirs(drops)
    for i, part in enumerate(
        (trips.where(F.col("seq") <= 1), trips.where(F.col("seq") >= 2))
    ):
        stage = _os.path.join(base, f"stage{i}")
        part.coalesce(1).write.parquet(stage)
        f = _glob.glob(_os.path.join(stage, "part-*.parquet"))[0]
        dst = _os.path.join(drops, f"d{i}.parquet")
        _shutil.move(f, dst)
        _os.utime(dst, (1_000_000 + 100 * i,) * 2)
    stream = (
        spark.readStream.schema(
            "trip_id long, seq int, lat double, lon double, "
            "is_final boolean"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    ways = synth_polygons(spark).select("way_id", "vlat", "vlon")
    out = hmm_map_match_stream(
        stream,
        ways,
        _MM_RADIUS_M,
        sigma_mm=_MM_SIGMA_MM,
        beta_mm=_MM_BETA_MM,
        k=_MM_K,
        closed=True,
        strategy="shuffle",
    )
    sink = f"mms_{_uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", _os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


_TRIP_STAY_M = 3000.0


def _trip_stats_oracle() -> str:
    """LAG-window replay of trip_steps/trip_stats: same position synth
    (user-keyed city, event-keyed jitter), same haversine op order, same
    mm rounding, same (ts, event_id) ordering tie-break."""
    from osm_spark.pipeline.pages import CITIES

    lats = ", ".join(repr(float(x[1])) for x in CITIES)
    lons = ", ".join(repr(float(x[2])) for x in CITIES)
    sp = repr(float(_SQL_PT_SPREAD))
    stay_mm = int(round(_TRIP_STAY_M * 1000.0))
    return f"""
        WITH pts AS (
            SELECT user_id, event_id, ts,
                   ([{lats}])[CAST(user_id % 10 AS INT) + 1]
                     + (event_id * 2654435761 % 2001 - 1000) / 1000.0 * {sp} AS lat,
                   ([{lons}])[CAST(user_id % 10 AS INT) + 1]
                     + (event_id * 40503 % 2001 - 1000) / 1000.0 * {sp} AS lon
            FROM events
        ),
        lagd AS (
            SELECT user_id, lat, lon,
                   LAG(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plat,
                   LAG(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plon
            FROM pts
        ),
        steps AS (
            SELECT user_id,
                   CAST(round(2.0 * 6371000.0 * asin(sqrt(
                        pow(sin(radians(lat - plat) / 2.0), 2)
                      + cos(radians(plat)) * cos(radians(lat))
                        * pow(sin(radians(lon - plon) / 2.0), 2))) * 1000.0)
                        AS BIGINT) AS step_mm
            FROM lagd
        )
        SELECT user_id,
               count(*) AS n_pings,
               count(CASE WHEN step_mm >= {stay_mm} THEN 1 END) AS n_moves,
               CAST(coalesce(sum(step_mm), 0) AS BIGINT) AS total_mm,
               max(step_mm) AS max_step_mm
        FROM steps GROUP BY user_id
    """


def q_trip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 window × §2.10 geo composition: per-user trajectory stats
    (geo/trips.py) — one user-keyed LAG window, integer-millimeter
    steps, exact integer aggregates — vs a DuckDB LAG replay."""
    _prep(spark)
    from osm_spark.geo.trips import trip_stats
    from osm_spark.pipeline.pages import CITIES

    ev = _t(spark, sf_dir, "events")
    city = (F.col("user_id") % 10).cast("int")
    clat = F.element_at(F.array(*[F.lit(x[1]) for x in CITIES]), city + 1)
    clon = F.element_at(F.array(*[F.lit(x[2]) for x in CITIES]), city + 1)
    did = F.col("event_id")
    pts = ev.select(
        "user_id", "event_id", "ts",
        (clat + (did * 2654435761 % 2001 - 1000) / 1000.0 * _SQL_PT_SPREAD).alias("lat"),
        (clon + (did * 40503 % 2001 - 1000) / 1000.0 * _SQL_PT_SPREAD).alias("lon"),
    )
    return trip_stats(pts, stay_m=_TRIP_STAY_M)


_HAUS_D_M = 2500.0
_HAUS_SAMPLE = 7  # event subsample modulus — keeps the brute-force oracle small


def _hausdorff_oracle() -> str:
    """Brute-force symmetric Hausdorff over all user-trajectory pairs:
    same position synth as the trip family, same haversine op order as
    ``haversine_m`` (the cross-engine-exact form every radius/DBSCAN
    oracle replays), min→max→greatest exact selections, mm rounding."""
    from osm_spark.pipeline.pages import CITIES

    lats = ", ".join(repr(float(x[1])) for x in CITIES)
    lons = ", ".join(repr(float(x[2])) for x in CITIES)
    sp = repr(float(_SQL_PT_SPREAD))
    d = repr(float(_HAUS_D_M))
    return f"""
        WITH pts AS (
            SELECT user_id, event_id,
                   ([{lats}])[CAST(user_id % 10 AS INT) + 1]
                     + (event_id * 2654435761 % 2001 - 1000) / 1000.0 * {sp} AS lat,
                   ([{lons}])[CAST(user_id % 10 AS INT) + 1]
                     + (event_id * 40503 % 2001 - 1000) / 1000.0 * {sp} AS lon
            FROM events WHERE event_id % {_HAUS_SAMPLE} = 0
        ),
        mind AS (
            SELECT p.user_id AS ua, q.user_id AS ub, p.event_id AS pe,
                   min(2.0 * 6371000.0 * asin(sqrt(
                        pow(sin(radians(q.lat - p.lat) / 2.0), 2)
                      + cos(radians(p.lat)) * cos(radians(q.lat))
                        * pow(sin(radians(q.lon - p.lon) / 2.0), 2)))) AS md
            FROM pts p JOIN pts q ON p.user_id <> q.user_id
            GROUP BY 1, 2, 3
        ),
        dirh AS (SELECT ua, ub, max(md) AS dh FROM mind GROUP BY ua, ub),
        sym AS (
            SELECT d1.ua AS trip_a, d1.ub AS trip_b,
                   greatest(d1.dh, d2.dh) AS h
            FROM dirh d1 JOIN dirh d2 ON d1.ua = d2.ub AND d1.ub = d2.ua
            WHERE d1.ua < d1.ub
        )
        SELECT trip_a, trip_b, CAST(round(h * 1000.0) AS BIGINT) AS h_mm
        FROM sym WHERE h <= {d}
    """


def q_hausdorff_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 trajectory-similarity join (geo/trajsim.py hausdorff_join):
    per-trip distinct cell sets → K-disk candidate equi-join → codegen
    max-min Hausdorff fold over per-trip point arrays, vs a DuckDB
    brute-force replay over every user-trajectory pair. The probe-data
    use: which users' tracks cover the same ground (route conflation /
    GPS-track dedup)."""
    _prep(spark)
    from osm_spark.geo.trajsim import hausdorff_join
    from osm_spark.pipeline.pages import CITIES

    ev = _t(spark, sf_dir, "events").where(f"event_id % {_HAUS_SAMPLE} = 0")
    city = (F.col("user_id") % 10).cast("int")
    clat = F.element_at(F.array(*[F.lit(x[1]) for x in CITIES]), city + 1)
    clon = F.element_at(F.array(*[F.lit(x[2]) for x in CITIES]), city + 1)
    did = F.col("event_id")
    pts = ev.select(
        F.col("user_id").alias("trip_id"),
        (clat + (did * 2654435761 % 2001 - 1000) / 1000.0 * _SQL_PT_SPREAD).alias("lat"),
        (clon + (did * 40503 % 2001 - 1000) / 1000.0 * _SQL_PT_SPREAD).alias("lon"),
    )
    return hausdorff_join(pts, _HAUS_D_M)


_CONT_T = 0.98
_CONT_DF = 0.9
_CONT_MIN_SET = 5


def _containment_oracle() -> str:
    """Brute-ish replay of text/containment.py: same tokenizer policy,
    same df-cut and min-set floor, exact integer intersections from the
    term-keyed self-join, identical ppm rounding — the threshold
    compares the ROUNDED value in both engines (the simjoin boundary
    idiom)."""
    t_ppm = int(round(_CONT_T * 1e6))
    return f"""
        WITH base AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        toks AS (
            SELECT DISTINCT doc_id, t AS term
            FROM base, UNNEST(list_filter(string_split(lower(text), ' '),
                 w -> len(w) > 0)) AS u(t)
        ),
        dfed AS (
            SELECT term FROM toks GROUP BY term
            HAVING CAST(count(*) AS DOUBLE)
                   <= {_CONT_DF!r} * (SELECT CAST(count(*) AS DOUBLE) FROM base)
        ),
        kept0 AS (SELECT toks.doc_id, toks.term FROM toks JOIN dfed USING (term)),
        sizes AS (
            SELECT doc_id, count(*) AS n FROM kept0
            GROUP BY doc_id HAVING count(*) >= {_CONT_MIN_SET}
        ),
        kept AS (SELECT k.* FROM kept0 k SEMI JOIN sizes s ON s.doc_id = k.doc_id),
        inter AS (
            SELECT a.doc_id AS contained, b.doc_id AS container,
                   count(*) AS n_shared
            FROM kept a JOIN kept b
              ON a.term = b.term AND a.doc_id <> b.doc_id
            GROUP BY 1, 2
        )
        SELECT i.contained, i.container, i.n_shared, s.n AS n_contained,
               CAST(round(CAST(i.n_shared AS DOUBLE) / CAST(s.n AS DOUBLE)
                    * 1000000.0) AS BIGINT) AS c_ppm
        FROM inter i JOIN sizes s ON s.doc_id = i.contained
        WHERE CAST(round(CAST(i.n_shared AS DOUBLE) / CAST(s.n AS DOUBLE)
                   * 1000000.0) AS BIGINT) >= {t_ppm}
    """


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-containment join (text/containment.py containment_join):
    Broder containment over post-df-cut token sets via the exact
    inverted-index self-join — the size-skew case (doc quoted inside a
    container page) the whole Jaccard stack misses — vs a DuckDB replay
    of the identical cut/floor/intersection/rounding chain."""
    _prep(spark)
    from osm_spark.text.containment import containment_join

    d = _t(spark, sf_dir, "documents")
    return containment_join(
        d, _CONT_T, max_df_ratio=_CONT_DF, min_set=_CONT_MIN_SET
    )


_TOKQ_QS = [0.25, 0.5, 0.75, 0.95, 0.99]


def _token_quantiles_oracle() -> str:
    """Histogram-cumulative replay of text/quantiles.py: the engine's
    word_frequencies tokenizer policy (space split, zero-length tokens
    dropped), per-(lang, count) histogram, window cumulative sums over
    the histogram only, identical rank arithmetic floor(q·(n−1)) + 1.
    Integer values in and out; the q column is the same literal double
    in both engines."""
    # explicit DOUBLE casts: bare 0.5 literals type as DECIMAL(x,y) in
    # DuckDB, whose canonical string ('0.50') diverges from the Spark
    # double ('0.5') under fetchall-based comparators
    qs = ", ".join(f"CAST({float(q)!r} AS DOUBLE)" for q in _TOKQ_QS)
    return f"""
        WITH toks AS (
            SELECT lang,
                   CAST(len(list_filter(string_split(lower(text), ' '),
                        w -> len(w) > 0)) AS BIGINT) AS v
            FROM documents WHERE text IS NOT NULL
        ),
        hist AS (SELECT lang, v, count(*) AS c FROM toks GROUP BY 1, 2),
        cum AS (
            SELECT lang, v, c,
                   SUM(c) OVER (PARTITION BY lang ORDER BY v) AS cm,
                   SUM(c) OVER (PARTITION BY lang) AS n
            FROM hist
        )
        SELECT lang, q, v AS value
        FROM cum, (SELECT unnest([{qs}]) AS q) qs
        WHERE cm - c < CAST(floor(q * (n - 1)) AS BIGINT) + 1
          AND CAST(floor(q * (n - 1)) AS BIGINT) + 1 <= cm
    """


def q_token_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation quantile dashboard (text/quantiles.py
    histogram_quantiles): exact per-language token-count disc-quantiles
    WITHOUT sorting the corpus — the big axis collapses to a
    map-side-combined (lang, count) histogram and the window runs over
    the histogram only, vs a DuckDB replay of the identical rank
    arithmetic."""
    _prep(spark)
    from osm_spark.text.quantiles import histogram_quantiles

    d = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = d.select(
        "lang",
        F.size(
            F.filter(
                F.split(F.lower("text"), " "), lambda w: F.length(w) > 0
            )
        )
        .cast("long")
        .alias("n_tokens"),
    )
    return histogram_quantiles(toks, "lang", "n_tokens", _TOKQ_QS).select(
        "lang", "q", F.col("n_tokens").alias("value")
    )


_FRECHET_D_M = 6000.0
_FRECHET_SAMPLE = 11  # event subsample modulus — bounds the DP oracle


def _frechet_oracle() -> str:
    """Brute-force discrete Fréchet over all user-trajectory pairs via
    a recursive CTE that advances the Eiter-Mannila DP one A-point per
    iteration, carrying the row as a LIST column. The row update uses
    the closed form new[j] = min_{k≤j} max(window-max d over k..j,
    prev-entry_k) — sequential-dependence-free, so it is expressible as
    nested list lambdas. Exactness needs NO evaluation-order match: the
    DP is pure min/max selection over the shared haversine leaves, so
    this recursion and the engine's sequential codegen fold pick
    bit-identical doubles."""
    from osm_spark.pipeline.pages import CITIES

    lats = ", ".join(repr(float(x[1])) for x in CITIES)
    lons = ", ".join(repr(float(x[2])) for x in CITIES)
    sp = repr(float(_SQL_PT_SPREAD))
    d = repr(float(_FRECHET_D_M))
    hav = (
        "2.0 * 6371000.0 * asin(sqrt("
        " pow(sin(radians({q}.lat - {p}.lat) / 2.0), 2)"
        " + cos(radians({p}.lat)) * cos(radians({q}.lat))"
        " * pow(sin(radians({q}.lon - {p}.lon) / 2.0), 2)))"
    )
    d_row1 = hav.format(p="A[1]", q="B[t]")
    d_step = hav.format(p="p.A[dp.i + 1]", q="p.B[t]")
    return f"""
        WITH RECURSIVE raw AS (
            SELECT user_id, event_id,
                   ([{lats}])[CAST(user_id % 10 AS INT) + 1]
                     + (event_id * 2654435761 % 2001 - 1000) / 1000.0 * {sp} AS lat,
                   ([{lons}])[CAST(user_id % 10 AS INT) + 1]
                     + (event_id * 40503 % 2001 - 1000) / 1000.0 * {sp} AS lon
            FROM events WHERE event_id % {_FRECHET_SAMPLE} = 0
        ),
        trips AS (
            SELECT user_id,
                   list(struct_pack(lat := lat, lon := lon)
                        ORDER BY event_id) AS pts
            FROM raw GROUP BY user_id
        ),
        pairs AS (
            SELECT a.user_id AS ua, b.user_id AS ub, a.pts AS A, b.pts AS B
            FROM trips a JOIN trips b ON a.user_id < b.user_id
        ),
        dp(ua, ub, i, row) AS (
            SELECT ua, ub, 1,
              list_transform(range(1, len(B) + 1), j ->
                list_max(list_transform(range(1, j + 1), t -> {d_row1})))
            FROM pairs
            UNION ALL
            SELECT dp.ua, dp.ub, dp.i + 1,
              list_transform(range(1, len(p.B) + 1), j ->
                list_min(list_transform(range(1, j + 1), k ->
                  greatest(
                    list_max(list_transform(range(k, j + 1), t -> {d_step})),
                    CASE WHEN k = 1 THEN dp.row[1]
                         ELSE least(dp.row[k], dp.row[k - 1]) END))))
            FROM dp JOIN pairs p ON p.ua = dp.ua AND p.ub = dp.ub
            WHERE dp.i < len(p.A)
        )
        SELECT dp.ua AS trip_a, dp.ub AS trip_b,
               CAST(round(dp.row[len(p.B)] * 1000.0) AS BIGINT) AS f_mm
        FROM dp JOIN pairs p ON p.ua = dp.ua AND p.ub = dp.ub
        WHERE dp.i = len(p.A) AND dp.row[len(p.B)] <= {d}
    """


def q_frechet_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 order-aware trajectory similarity (geo/trajsim.py
    frechet_join): cell-disk candidates → discrete Fréchet DP as nested
    codegen `aggregate` folds over ordered point arrays, vs a DuckDB
    recursive-CTE DP replay over every pair. Direction matters: the
    same ground walked in reverse is Hausdorff-close but Fréchet-far —
    the route-conflation discriminator hausdorff_pairs can't express."""
    _prep(spark)
    from osm_spark.geo.trajsim import frechet_join
    from osm_spark.pipeline.pages import CITIES

    ev = _t(spark, sf_dir, "events").where(f"event_id % {_FRECHET_SAMPLE} = 0")
    city = (F.col("user_id") % 10).cast("int")
    clat = F.element_at(F.array(*[F.lit(x[1]) for x in CITIES]), city + 1)
    clon = F.element_at(F.array(*[F.lit(x[2]) for x in CITIES]), city + 1)
    did = F.col("event_id")
    pts = ev.select(
        F.col("user_id").alias("trip_id"),
        F.col("event_id").alias("ord"),
        (clat + (did * 2654435761 % 2001 - 1000) / 1000.0 * _SQL_PT_SPREAD).alias("lat"),
        (clon + (did * 40503 % 2001 - 1000) / 1000.0 * _SQL_PT_SPREAD).alias("lon"),
    )
    return frechet_join(pts, _FRECHET_D_M)


_FUNNEL_STEPS = ["signup", "view", "click", "purchase"]


def _cohort_oracle() -> str:
    """Replay of pipeline/cohorts.py: Monday-start date_trunc weeks in
    both engines, integer day-diff div 7, per-user distinct weeks."""
    return """
        WITH wk AS (
            SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
            FROM events
        ),
        cohorts AS (SELECT user_id, min(w) AS cohort_week
                    FROM wk GROUP BY user_id),
        active AS (SELECT DISTINCT user_id, w AS active_week FROM wk)
        SELECT c.cohort_week,
               CAST(datediff('day', c.cohort_week, a.active_week) // 7
                    AS BIGINT) AS week_offset,
               count(*) AS n_users
        FROM active a JOIN cohorts c USING (user_id)
        GROUP BY c.cohort_week, week_offset
    """


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle (pipeline/cohorts.py): first-seen week
    × week offset × exact distinct-user counts — vs a DuckDB replay."""
    _prep(spark)
    from osm_spark.pipeline.cohorts import cohort_retention

    return cohort_retention(_t(spark, sf_dir, "events"))


def _funnel_oracle() -> str:
    """Min-chaining replay of pipeline/funnel.py (greedy-earliest ≡
    earliest-after-previous): per-user ROW_NUMBER over (ts, event_id),
    each step's match = min rn strictly after the previous match."""
    s = _FUNNEL_STEPS
    chain = [
        f"""t1 AS (SELECT user_id, min(rn) AS rn1 FROM o
                 WHERE event_type = '{s[0]}' GROUP BY user_id)"""
    ]
    for k in range(2, len(s) + 1):
        chain.append(f"""
            t{k} AS (SELECT o.user_id, min(o.rn) AS rn{k}
                     FROM o JOIN t{k - 1} USING (user_id)
                     WHERE o.event_type = '{s[k - 1]}'
                       AND o.rn > t{k - 1}.rn{k - 1}
                     GROUP BY o.user_id)""")
    selects = " UNION ALL ".join(
        f"""SELECT {k} AS step, '{s[k - 1]}' AS step_name,
                   (SELECT count(*) FROM t{k}) AS n_users"""
        for k in range(1, len(s) + 1)
    )
    types = ", ".join(f"'{x}'" for x in s)
    return f"""
        WITH o AS (
            SELECT user_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
            WHERE event_type IN ({types})
              AND event_id % 11 < 2  -- deterministic thinning: step gaps
        ),
        {", ".join(chain)}
        {selects}
    """


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (pipeline/funnel.py): signup → view → click →
    purchase completion counts via ONE per-user array fold (no K-pass
    self-joins) — vs the DuckDB min-chaining replay. Events are
    deterministically thinned (event_id % 11 < 2) so users drop out at
    every step and the gate discriminates ordering, not just presence."""
    _prep(spark)
    from osm_spark.pipeline.funnel import funnel_counts

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") % 11 < 2)
    return funnel_counts(ev, _FUNNEL_STEPS)


def _markov_oracle() -> str:
    """LAG replay of pipeline/markov.py: same (ts, event_id) ordering,
    same integer counts, identical closing division + quantization."""
    return """
        WITH lagd AS (
            SELECT LAG(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev,
                   event_type AS cur
            FROM events
        ),
        trans AS (
            SELECT prev, cur, count(*) AS n
            FROM lagd WHERE prev IS NOT NULL GROUP BY prev, cur
        )
        SELECT prev, cur, n,
               CAST(SUM(n) OVER (PARTITION BY prev) AS BIGINT)
                   AS n_from_prev,
               CAST(round(CAST(n AS DOUBLE)
                    / CAST(SUM(n) OVER (PARTITION BY prev) AS DOUBLE)
                    * 1e6) AS BIGINT) AS p_micro
        FROM trans
    """


def _trending_oracle(k: int = 5) -> str:
    """Batch replay of the streaming trending plan: same synthetic
    arrival minutes, hour-truncated tumbling windows (the stream oracle
    precedent), same tokenization, rank on exact integer counts with
    the term tie-break."""
    return f"""
        WITH docs AS (
            SELECT TIMESTAMP '2024-01-01 00:00:00'
                       + to_minutes(doc_id) AS ts,
                   text
            FROM documents
        ),
        terms AS (
            SELECT date_trunc('hour', ts) AS window_start,
                   unnest(string_split(lower(text), ' ')) AS term
            FROM docs
        ),
        counts AS (
            SELECT window_start, term, count(*) AS n
            FROM terms GROUP BY window_start, term
        )
        SELECT window_start, term, n, rank
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY window_start
                ORDER BY n DESC, term ASC) AS rank
            FROM counts
        ) WHERE rank <= {k}
    """


def q_trending_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trending terms (streaming/trending.py): watermarked
    tumbling-window term counts run as an availableNow bounded backfill
    (the SAME streaming plan a live feed runs), then per-window top-5 on
    exact counts — vs the batch SQL replay (stream ≡ batch)."""
    _prep(spark)
    import os

    from osm_spark.streaming.trending import run_trending_batchlike

    return run_trending_batchlike(
        spark, os.path.join(sf_dir, "documents.parquet"), k=5
    )


_FRONTIER_WORKERS = 8
_FRONTIER_CAP = 5


def _frontier_oracle() -> str:
    """Ground-truth replay of pipeline/frontier.py on synthetic URLs
    whose host is known by construction (the url_dedup oracle idiom —
    Spark must REPRODUCE it through the real url_host extraction):
    identical salted-md5 worker assignment (the sharding.py idiom),
    identical (priority DESC, url ASC) per-host sequencing and cap."""
    return f"""
        WITH urls AS (
            SELECT 'http://h' || CAST(doc_id % 37 AS VARCHAR)
                       || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url,
                   'h' || CAST(doc_id % 37 AS VARCHAR) || '.example.com' AS host,
                   doc_id % 11 AS priority
            FROM documents
        ),
        assigned AS (
            SELECT url, host,
                   CAST(CAST('0x' || substr(md5('fr1:' || host), 1, 8)
                        AS BIGINT) % {_FRONTIER_WORKERS} AS INT) AS worker,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY host
                       ORDER BY priority DESC, url ASC) AS BIGINT) AS fetch_seq
            FROM urls
        )
        SELECT url, host, worker, fetch_seq
        FROM assigned WHERE fetch_seq <= {_FRONTIER_CAP}
    """


def _linkage_name_sql() -> str:
    """The deterministic synthetic-name expression shared (as identical
    arithmetic) by q_fuzzy_pairs and its oracle: ids come in groups of
    four where member 3 clones member 0's name with exactly one letter
    substituted, so true edit-distance-1 twins are planted on top of
    whatever incidental near pairs the low-entropy alphabet produces.
    Lengths vary 7-9 so cross-length candidates exercise the blocked
    join's ±k length window."""
    parts = []
    for j in range(9):
        base = f"(b * {j + 3} + {j * j})"
        ch = (
            f"chr(CAST(97 + (CASE WHEN mut AND m = {j} "
            f"THEN {base} + 13 ELSE {base} END) % 26 AS INT))"
        )
        parts.append(f"CASE WHEN {j} < len THEN {ch} ELSE '' END")
    return " || ".join(parts)


def _fuzzy_pairs_oracle() -> str:
    """Brute-force ground truth for the blocked fuzzy join: EVERY
    ordered pair within levenshtein distance 2 (DuckDB's levenshtein is
    the same classic edit distance Spark's is — parity spot-checked in
    tests). The blocked join must reproduce this exactly, which is the
    PassJoin completeness guarantee under test."""
    return f"""
        WITH base AS (
            SELECT doc_id AS id,
                   CASE WHEN doc_id % 4 = 3 THEN doc_id - 3
                        ELSE doc_id END AS b,
                   doc_id % 4 = 3 AS mut
            FROM documents
        ),
        named AS (
            SELECT id, {_linkage_name_sql()} AS s
            FROM (SELECT id, b, mut, 7 + b % 3 AS len, b % 7 AS m FROM base)
        )
        SELECT a.id AS id_a, c.id AS id_b,
               CAST(levenshtein(a.s, c.s) AS INT) AS dist
        FROM named a JOIN named c ON a.id < c.id
        WHERE levenshtein(a.s, c.s) <= 2
    """


def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage blocked fuzzy join (text/linkage.py
    fuzzy_self_pairs): PassJoin segment blocking + exact levenshtein
    refine, checked against the BRUTE-FORCE cross join in DuckDB — the
    gate therefore attests blocking completeness, not just refine
    correctness. Names are synthesized deterministically from doc_id
    with planted distance-1 twins (see _linkage_name_sql)."""
    _prep(spark)
    from osm_spark.text.linkage import fuzzy_self_pairs

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    b = F.when(i % 4 == 3, i - 3).otherwise(i)
    mut = i % 4 == 3
    ln = (F.lit(7) + b % 3).cast("int")
    m = (b % 7).cast("int")
    chars = []
    for j in range(9):
        code = b * (j + 3) + j * j
        code = F.when(mut & (m == j), code + 13).otherwise(code)
        ch = F.char((F.lit(97) + code % 26).cast("int"))
        chars.append(F.when(F.lit(j) < ln, ch).otherwise(F.lit("")))
    names = d.select(i.alias("id"), F.concat(*chars).alias("s"))
    return fuzzy_self_pairs(names, max_dist=2)


def _neighborhood_oracle(
    max_hops: int = 3, final_select: str | None = None
) -> str:
    """Generated unrolled BFS replay of graph/neighborhood.py
    neighborhood_function over the shared _link_graph arithmetic:
    r0 = identity pairs, each round joins the frontier through the
    (deduplicated) edge set and re-distincts — converged per-hop
    reachable counts are iteration-order independent, so the iterative
    operator IS SQL-checkable (the connected_components oracle idiom)."""
    rounds = []
    hops = []
    for k in range(max_hops):
        rounds.append(f"""
            r{k + 1} AS (SELECT DISTINCT id, dst FROM (
                SELECT r.id, e.dst FROM r{k} r JOIN edges e ON e.src = r.dst
                UNION ALL SELECT id, dst FROM r{k}))
        """)
        hops.append(
            f"SELECT id, {k + 1} AS hops, count(*) AS n_reachable "
            f"FROM r{k + 1} GROUP BY id"
        )
    body = ",".join(rounds)
    union = " UNION ALL ".join(hops)
    final = final_select if final_select is not None else f"""
        SELECT id, CAST(hops AS INT) AS hops,
               CAST(n_reachable AS BIGINT) AS n_reachable
        FROM ({union})
    """
    final = final.replace("__HOPS_UNION__", union)
    return f"""
        WITH nn AS (SELECT count(*) AS n_docs FROM documents),
        e0 AS (
            SELECT doc_id AS src, (doc_id * 7 + 1) % n_docs AS dst
            FROM documents, nn
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 5) % n_docs FROM documents, nn
            UNION ALL
            SELECT doc_id, (doc_id * 31 + 11) % n_docs FROM documents, nn
        ),
        edges AS (SELECT DISTINCT src, dst FROM e0),
        verts AS (SELECT DISTINCT src AS id FROM edges
                  UNION SELECT dst FROM edges),
        r0 AS (SELECT id, id AS dst FROM verts),
        {body}
        {final}
    """


def _eff_diameter_oracle(max_hops: int = 3, q: float = 0.9) -> str:
    """Effective diameter from the same unrolled BFS rounds: per-hop
    pair totals, smallest hop at ≥ q × the max-hop total."""
    final = f"""
        SELECT CAST(t.hops AS INT) AS eff_diameter,
               CAST(t.pairs AS BIGINT) AS pairs_at_h,
               CAST(m.pairs AS BIGINT) AS pairs_at_max
        FROM (SELECT hops, CAST(sum(n_reachable) AS BIGINT) AS pairs
              FROM (__HOPS_UNION__) GROUP BY hops) t,
             (SELECT CAST(sum(n_reachable) AS BIGINT) AS pairs
              FROM (__HOPS_UNION__) WHERE hops = {max_hops}) m
        WHERE CAST(t.pairs AS DOUBLE) >= {q} * CAST(m.pairs AS DOUBLE)
        ORDER BY t.hops LIMIT 1
    """
    return _neighborhood_oracle(max_hops, final_select=final)


def q_eff_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q=0.9 effective diameter (graph/neighborhood.py
    effective_diameter) of the synthetic link graph — the integer-exact
    distance summary closed over the gated neighborhood rounds."""
    _prep(spark)
    from osm_spark.graph.neighborhood import effective_diameter

    return effective_diameter(_link_graph(spark, sf_dir), q=0.9, max_hops=3)


def q_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact neighborhood function (graph/neighborhood.py) over the
    synthetic link graph: per-vertex reachable-set sizes at hops 1..3,
    vs the unrolled DuckDB BFS replay. The HyperBall variant (constant
    per-vertex HLL state — the 100 TB path) is pinned to this exact
    operator by tests/test_neighborhood.py sparse-mode parity."""
    _prep(spark)
    from osm_spark.graph.neighborhood import neighborhood_function

    return neighborhood_function(_link_graph(spark, sf_dir), max_hops=3)


def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN majority-vote classification — the spatial-ML composition
    over the two-phase grid kNN (geo/knn.py): each point takes the
    modal class of its k=3 nearest amenity nodes (class = node_id % 3,
    closed-form so the oracle reproduces it), ties broken by class
    ascending. One map-side-combined count + one argmax per point on
    top of the gated kNN join — vs the brute-force DuckDB top-k replay
    with the same vote."""
    _prep(spark)
    from osm_spark.geo.knn import knn_join
    from osm_spark.pipeline.geometry import synth_nodes

    out = knn_join(_sql_points(spark, sf_dir), synth_nodes(spark), k=3)
    votes = out.select(
        F.col("url").cast("long").alias("point_id"),
        (F.col("node_id") % 3).alias("cls"),
    )
    counted = votes.groupBy("point_id", "cls").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        counted.groupBy("point_id")
        .agg(
            F.max(
                F.struct(
                    F.col("n"),
                    (-F.col("cls")).alias("_negcls"),
                    F.col("cls"),
                )
            ).alias("_top")
        )
        .select(
            "point_id",
            F.col("_top.cls").alias("cls"),
            F.col("_top.n").alias("votes"),
        )
    )


def _knn_classify_oracle() -> str:
    return f"""
        WITH knn AS ({_knn_pairs_oracle()}),
        votes AS (
            SELECT point_id, node_id % 3 AS cls, count(*) AS n
            FROM knn GROUP BY point_id, node_id % 3
        )
        SELECT point_id, cls, n AS votes FROM (
            SELECT point_id, cls, n,
                   row_number() OVER (PARTITION BY point_id
                                      ORDER BY n DESC, cls ASC) AS rn
            FROM votes
        ) WHERE rn = 1
    """


def q_destination_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical direct geodesic (geo/measure.py destination_point) —
    each fixture point projected along a closed-form bearing/distance,
    output micro-degree quantized, vs a DuckDB replay with the
    identical op order (the inverse companion of the gated haversine)."""
    _prep(spark)
    from osm_spark.geo.measure import destination_point

    pts = _sql_points(spark, sf_dir)
    bearing = (F.col("url").cast("long") * 37 % 360).cast("double")
    dist = (F.lit(500) + F.col("url").cast("long") % 1500).cast("double")
    d = destination_point(F.col("lat"), F.col("lon"), bearing, dist)
    return pts.select(
        F.col("url").cast("long").alias("point_id"),
        F.round(d["lat"] * 1e6, 0).cast("long").alias("dlat_micro"),
        F.round(d["lon"] * 1e6, 0).cast("long").alias("dlon_micro"),
    )


def _destination_points_oracle() -> str:
    from osm_spark.geo.measure import _EARTH_R_M

    r = repr(_EARTH_R_M)
    return f"""
        WITH pts AS ({_sql_points_oracle()}),
        g AS (
            SELECT point_id,
                   radians(lat) AS phi1,
                   radians(CAST(point_id * 37 % 360 AS DOUBLE)) AS theta,
                   (500 + point_id % 1500) / CAST('{r}' AS DOUBLE) AS delta,
                   radians(lon) AS lam1
            FROM pts
        ),
        s AS (
            SELECT point_id, phi1, theta, delta, lam1,
                   sin(phi1) * cos(delta)
                   + cos(phi1) * sin(delta) * cos(theta) AS sin_phi2
            FROM g
        )
        SELECT point_id,
               CAST(round(degrees(asin(sin_phi2)) * 1e6) AS BIGINT)
                   AS dlat_micro,
               CAST(round(degrees(lam1 + atan2(
                        sin(theta) * sin(delta) * cos(phi1),
                        cos(delta) - sin(phi1) * sin_phi2)) * 1e6)
                    AS BIGINT) AS dlon_micro
        FROM s
    """


def q_spherical_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic ring area (geo/measure.py spherical_area_m2 —
    Chamberlain-Duquette closed form, the high-latitude-correct
    companion to the planar equirect shoelake) over the polygon
    fixture, rounded to whole m² and replayed in DuckDB with the
    identical left-fold op order."""
    _prep(spark)
    from osm_spark.geo.measure import spherical_area_m2
    from osm_spark.pipeline.geometry import synth_polygons

    return synth_polygons(spark).select(
        "way_id",
        F.round(spherical_area_m2("vlat", "vlon"), 0)
        .cast("long")
        .alias("area_sph_m2"),
    )


def _spherical_area_oracle() -> str:
    from osm_spark.geo.measure import _EARTH_R_M

    c = repr(_EARTH_R_M * _EARTH_R_M / 2.0)
    return f"""
        WITH poly0(way_id, vlat0, vlon0) AS (VALUES
                {_polygons_values_sql()}),
        poly AS (
            SELECT CAST(way_id AS BIGINT) AS way_id,
                   CAST(vlat0 AS DOUBLE[]) AS vlat,
                   CAST(vlon0 AS DOUBLE[]) AS vlon
            FROM poly0
        ),
        t AS (
            SELECT way_id, len(vlat) AS n,
                   list_transform(range(1, len(vlat) + 1),
                       i -> (radians(vlon[(i % len(vlat)) + 1])
                             - radians(vlon[i]))
                            * (2.0 + sin(radians(vlat[i]))
                               + sin(radians(vlat[(i % len(vlat)) + 1]))))
                       AS terms
            FROM poly
        )
        SELECT way_id,
               CAST(round(CASE WHEN n >= 3 THEN
                   abs(list_reduce(list_prepend(0.0, terms),
                                   (a, b) -> a + b))
                   * CAST('{c}' AS DOUBLE)
               ELSE 0.0 END) AS BIGINT) AS area_sph_m2
        FROM t
    """


def q_ring_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGC ring-simplicity validation (geo/crossings.py ring_validity):
    the polygon fixture with vertices 2 and 4 swapped on every 5th ring
    (a closed-form bowtie injection both engines reproduce), validated
    per ring by the int64 non-adjacent-segment-intersection count vs a
    DuckDB brute-force pair replay."""
    _prep(spark)
    from osm_spark.geo.crossings import ring_validity
    from osm_spark.pipeline.geometry import synth_polygons

    polys = synth_polygons(spark)
    swap = lambda c: F.transform(  # noqa: E731
        F.sequence(F.lit(1), F.size(c)),
        lambda i: F.element_at(
            c,
            F.when(i == 2, F.lit(4))
            .when(i == 4, F.lit(2))
            .otherwise(i)
            .cast("int"),
        ),
    )
    bent = polys.select(
        "way_id",
        F.when(F.col("way_id") % 5 == 0, swap(F.col("vlat")))
        .otherwise(F.col("vlat"))
        .alias("vlat"),
        F.when(F.col("way_id") % 5 == 0, swap(F.col("vlon")))
        .otherwise(F.col("vlon"))
        .alias("vlon"),
    )
    return ring_validity(bent)


def _ring_validity_oracle(scale: int = 100_000) -> str:
    """Brute-force replay: same vertex swap, same quantization and
    orientation arithmetic as the way_crossings oracle, pairs limited
    to same-ring non-adjacent (j ≥ i+2, wrap pair (1, n) excluded),
    counted per ring with valid rings kept via LEFT join."""
    sc = repr(float(scale))
    return f"""
        WITH poly0(way_id, vlat0, vlon0) AS (VALUES
                {_polygons_values_sql()}),
        poly1 AS (
            SELECT CAST(way_id AS BIGINT) AS way_id,
                   CAST(vlat0 AS DOUBLE[]) AS vlat,
                   CAST(vlon0 AS DOUBLE[]) AS vlon
            FROM poly0
        ),
        poly AS (
            SELECT way_id,
                   CASE WHEN way_id % 5 = 0 THEN
                       list_transform(range(1, len(vlat) + 1),
                           i -> vlat[CASE WHEN i = 2 THEN 4
                                          WHEN i = 4 THEN 2
                                          ELSE i END])
                   ELSE vlat END AS vlat,
                   CASE WHEN way_id % 5 = 0 THEN
                       list_transform(range(1, len(vlon) + 1),
                           i -> vlon[CASE WHEN i = 2 THEN 4
                                          WHEN i = 4 THEN 2
                                          ELSE i END])
                   ELSE vlon END AS vlon
            FROM poly1
        ),
        segs AS (
            SELECT way_id, CAST(i AS INT) AS seg_idx,
                   CAST(len(vlat) AS INT) AS nseg,
                   CAST(round(vlon[i] * {sc}) AS BIGINT) AS x0,
                   CAST(round(vlat[i] * {sc}) AS BIGINT) AS y0,
                   CAST(round(vlon[(i % len(vlat)) + 1] * {sc}) AS BIGINT) AS x1,
                   CAST(round(vlat[(i % len(vlat)) + 1] * {sc}) AS BIGINT) AS y1
            FROM poly, UNNEST(range(1, len(vlat) + 1)) AS t(i)
        ),
        cand AS (
            SELECT s.way_id,
                   CASE WHEN (s.x1-s.x0)*(t.y0-s.y0) - (s.y1-s.y0)*(t.x0-s.x0) > 0 THEN 1
                        WHEN (s.x1-s.x0)*(t.y0-s.y0) - (s.y1-s.y0)*(t.x0-s.x0) < 0 THEN -1 ELSE 0 END AS d1,
                   CASE WHEN (s.x1-s.x0)*(t.y1-s.y0) - (s.y1-s.y0)*(t.x1-s.x0) > 0 THEN 1
                        WHEN (s.x1-s.x0)*(t.y1-s.y0) - (s.y1-s.y0)*(t.x1-s.x0) < 0 THEN -1 ELSE 0 END AS d2,
                   CASE WHEN (t.x1-t.x0)*(s.y0-t.y0) - (t.y1-t.y0)*(s.x0-t.x0) > 0 THEN 1
                        WHEN (t.x1-t.x0)*(s.y0-t.y0) - (t.y1-t.y0)*(s.x0-t.x0) < 0 THEN -1 ELSE 0 END AS d3,
                   CASE WHEN (t.x1-t.x0)*(s.y1-t.y0) - (t.y1-t.y0)*(s.x1-t.x0) > 0 THEN 1
                        WHEN (t.x1-t.x0)*(s.y1-t.y0) - (t.y1-t.y0)*(s.x1-t.x0) < 0 THEN -1 ELSE 0 END AS d4,
                   s.x0 AS ax0, s.y0 AS ay0, s.x1 AS ax1, s.y1 AS ay1,
                   t.x0 AS bx0, t.y0 AS by0, t.x1 AS bx1, t.y1 AS by1
            FROM segs s JOIN segs t
              ON s.way_id = t.way_id
             AND t.seg_idx >= s.seg_idx + 2
             AND NOT (s.seg_idx = 1 AND t.seg_idx = s.nseg)
        ),
        hits AS (
            SELECT way_id, CAST(count(*) AS BIGINT) AS n_bad_pairs
            FROM cand
            WHERE (d1 * d2 < 0 AND d3 * d4 < 0)
               OR (d1 = 0 AND bx0 BETWEEN least(ax0,ax1) AND greatest(ax0,ax1)
                          AND by0 BETWEEN least(ay0,ay1) AND greatest(ay0,ay1))
               OR (d2 = 0 AND bx1 BETWEEN least(ax0,ax1) AND greatest(ax0,ax1)
                          AND by1 BETWEEN least(ay0,ay1) AND greatest(ay0,ay1))
               OR (d3 = 0 AND ax0 BETWEEN least(bx0,bx1) AND greatest(bx0,bx1)
                          AND ay0 BETWEEN least(by0,by1) AND greatest(by0,by1))
               OR (d4 = 0 AND ax1 BETWEEN least(bx0,bx1) AND greatest(bx0,bx1)
                          AND ay1 BETWEEN least(by0,by1) AND greatest(by0,by1))
            GROUP BY way_id
        )
        SELECT p.way_id,
               CAST(len(p.vlat) AS BIGINT) AS n_vertices,
               coalesce(h.n_bad_pairs, 0) AS n_bad_pairs,
               coalesce(h.n_bad_pairs, 0) = 0 AND len(p.vlat) >= 3
                   AS is_valid
        FROM poly p LEFT JOIN hits h USING (way_id)
    """


def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-random walks (graph/walks.py) over the
    synthetic link graph — DeepWalk-style sampling with md5-argmin next
    hops, so the DuckDB unrolled replay reproduces every step exactly."""
    _prep(spark)
    from osm_spark.graph.walks import random_walks

    return random_walks(
        _link_graph(spark, sf_dir), walk_len=3, walks_per_node=2
    )


def _random_walks_oracle(walk_len: int = 3, walks_per_node: int = 2) -> str:
    """Unrolled replay: per step, row_number over (md5(start:w:s:dst),
    dst) picks the same neighbor Spark's min(struct(h, dst)) picks."""
    vals = ", ".join(f"({w})" for w in range(walks_per_node))
    steps_sql = []
    rows = [
        "SELECT start_id, walk_no, CAST(0 AS INT) AS step, node FROM w0"
    ]
    for s in range(1, walk_len + 1):
        steps_sql.append(f"""
        w{s} AS (
            SELECT start_id, walk_no, node FROM (
                SELECT w.start_id, w.walk_no, e.dst AS node,
                       row_number() OVER (
                           PARTITION BY w.start_id, w.walk_no
                           ORDER BY md5(concat_ws(':', w.start_id,
                                        w.walk_no, {s}, e.dst)), e.dst
                       ) AS rn
                FROM w{s - 1} w JOIN edges e ON e.src = w.node
            ) WHERE rn = 1
        )""")
        rows.append(
            f"SELECT start_id, walk_no, CAST({s} AS INT) AS step, node "
            f"FROM w{s}"
        )
    body = ",".join(steps_sql)
    union = " UNION ALL ".join(rows)
    return f"""
        WITH nn AS (SELECT count(*) AS n_docs FROM documents),
        e0 AS (
            SELECT doc_id AS src, (doc_id * 7 + 1) % n_docs AS dst
            FROM documents, nn
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 5) % n_docs FROM documents, nn
            UNION ALL
            SELECT doc_id, (doc_id * 31 + 11) % n_docs FROM documents, nn
        ),
        edges AS (SELECT DISTINCT src, dst FROM e0),
        verts AS (SELECT DISTINCT src AS id FROM edges
                  UNION SELECT dst FROM edges),
        w0 AS (SELECT id AS start_id, CAST(w AS INT) AS walk_no, id AS node
               FROM verts CROSS JOIN (VALUES {vals}) t(w)),
        {body}
        SELECT * FROM ({union})
    """


def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-horizon harmonic centrality (graph/neighborhood.py) —
    the Boldi-Vigna geometric centrality folded from per-hop reachable
    deltas in micro-units, exact path gated vs the unrolled BFS replay
    plus a harmonic fold; the HyperBall variant is pinned equal by
    tests/test_neighborhood.py sparse-mode parity."""
    _prep(spark)
    from osm_spark.graph.neighborhood import harmonic_centrality

    return harmonic_centrality(_link_graph(spark, sf_dir), max_hops=3)


def _bpe_oracle(n_merges: int = 3, final_select: str | None = None) -> str:
    """Generated unrolled replay of text/bpe.py bpe_train. DuckDB can't
    fold lists, so each round's greedy left-to-right merge replays
    POSITIONALLY: adjacent-pair counts by LEAD, the (cnt DESC, l, r)
    argmax, match flags, maximal match streaks by gaps-and-islands
    (overlap only exists when left == right, so merges start at even
    streak offsets), then drop-and-renumber. CTEs are MATERIALIZED —
    the kcore oracle lesson: DuckDB inlines CTEs and re-opens the whole
    round chain exponentially otherwise."""
    rounds = []
    bests = []
    for k in range(n_merges):
        rounds.append(f"""
        p{k} AS MATERIALIZED (
            SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
                SELECT word, freq, sym AS l,
                       LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS r
                FROM s{k})
            WHERE r IS NOT NULL GROUP BY 1, 2
        ),
        b{k} AS MATERIALIZED (
            SELECT l, r, cnt FROM p{k}
            ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
        ),
        m{k} AS MATERIALIZED (
            SELECT word, freq, pos, sym, b.l, b.r,
                   (sym = b.l AND COALESCE(
                        LEAD(sym) OVER (PARTITION BY word ORDER BY pos)
                            = b.r, FALSE)) AS mt
            FROM s{k}, b{k} b
        ),
        g{k} AS MATERIALIZED (
            SELECT *, CASE WHEN mt THEN pos - ROW_NUMBER() OVER (
                       PARTITION BY word, mt ORDER BY pos) END AS streak
            FROM m{k}
        ),
        t{k} AS MATERIALIZED (
            SELECT *, (mt AND (pos - MIN(pos) OVER (
                       PARTITION BY word, mt, streak)) % 2 = 0) AS is_start
            FROM g{k}
        ),
        s{k + 1} AS MATERIALIZED (
            SELECT word, freq,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY word ORDER BY pos) AS BIGINT) AS pos,
                   CASE WHEN is_start THEN l || r ELSE sym END AS sym
            FROM (SELECT *, COALESCE(LAG(is_start) OVER (
                      PARTITION BY word ORDER BY pos), FALSE) AS skip
                  FROM t{k})
            WHERE NOT skip
        )""")
        bests.append(
            f'SELECT CAST({k + 1} AS INT) AS step, l AS "left", '
            f'r AS "right", cnt AS pair_count FROM b{k}'
        )
    body = ",".join(rounds)
    union = " UNION ALL ".join(bests)
    final = final_select if final_select is not None else union
    return f"""
        WITH wf AS MATERIALIZED (
            SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
                SELECT unnest(string_split(lower(text), ' ')) AS word
                FROM documents WHERE text IS NOT NULL)
            WHERE len(word) > 0 GROUP BY word
        ),
        s0 AS MATERIALIZED (
            SELECT word, freq, CAST(pos AS BIGINT) AS pos,
                   substr(word, CAST(pos AS INT), 1) AS sym
            FROM (SELECT word, freq,
                         unnest(generate_series(1, len(word))) AS pos
                  FROM wf)
        ),
        {body}
        {final}
    """


_ROBOTS_RULES = [
    # h5 deliberately gets NO '/' catch-all: its rule set is prefix-only,
    # so h5 URLs whose path matches no prefix exercise the
    # ruled-host-no-match default-allow branch (ADVICE r4: previously
    # every ruled host carried '/', leaving that branch ungated).
    (f"h{k}.example.com", "/", k % 2 == 0) for k in range(7) if k != 5
] + [
    (f"h{k}.example.com", "/s0", True) for k in range(7)
] + [
    (f"h{k}.example.com", "/s0/t2", False) for k in range(7)
] + [
    # equal-length conflicting pair on one host: allow must win
    ("h3.example.com", "/s1", True),
    ("h3.example.com", "/s2", False),
]


def _robots_oracle() -> str:
    values = ", ".join(
        f"('{h}', '{p}', {str(bool(a)).upper()})" for h, p, a in _ROBOTS_RULES
    )
    return f"""
        WITH u AS (
            SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
                       AS host,
                   doc_id % 4 AS d,
                   's' || CAST(doc_id % 3 AS VARCHAR) AS s1,
                   't' || CAST(doc_id % 5 AS VARCHAR) AS s2
            FROM documents
        ),
        urls AS (
            SELECT DISTINCT 'http://' || host ||
                   CASE WHEN d = 0 THEN ''
                        WHEN d = 1 THEN '/' || s1
                        ELSE '/' || s1 || '/' || s2 END AS url,
                   host,
                   CASE WHEN d = 0 THEN '/'
                        WHEN d = 1 THEN '/' || s1
                        ELSE '/' || s1 || '/' || s2 END AS path
            FROM u
        ),
        rules(host, prefix, allow) AS (VALUES {values}),
        j AS (
            SELECT u.url, r.prefix, r.allow
            FROM urls u LEFT JOIN rules r
              ON r.host = u.host AND starts_with(u.path, r.prefix)
        )
        SELECT url, COALESCE(allow, TRUE) AS allowed,
               prefix AS matched_prefix
        FROM (SELECT url, prefix, allow, ROW_NUMBER() OVER (
                  PARTITION BY url
                  ORDER BY (prefix IS NOT NULL) DESC, len(prefix) DESC,
                           allow DESC, prefix ASC) AS rk
              FROM j)
        WHERE rk = 1
    """


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-style longest-prefix URL rule filter (pipeline/robots.py):
    broadcast rule dim, pure-Column prefix match, most-specific rule
    with the allow-wins tie — vs the DuckDB window replay. URLs span
    depth 0-3 so the '/' fallback, both conflict pairs and the default
    allow (unruled host paths) are all exercised."""
    _prep(spark)
    from osm_spark.pipeline.robots import apply_url_rules

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    s1 = F.concat(F.lit("s"), (i % 3).cast("string"))
    s2 = F.concat(F.lit("t"), (i % 5).cast("string"))
    dd = i % 4
    path = (
        F.when(dd == 0, F.lit(""))
        .when(dd == 1, F.concat(F.lit("/"), s1))
        .otherwise(F.concat(F.lit("/"), s1, F.lit("/"), s2))
    )
    urls = d.select(
        F.concat(
            F.lit("http://h"), (i % 7).cast("string"),
            F.lit(".example.com"), path,
        ).alias("url")
    ).distinct()
    rules = spark.createDataFrame(
        _ROBOTS_RULES, "host string, prefix string, allow boolean"
    )
    return apply_url_rules(urls, rules)


_CP_RULES = [
    ("h0.example.com", "/", True),
    ("h0.example.com", "/page/1", False),   # denies slots 1, 10-19
    ("h0.example.com", "/page/3", True),    # equal-length conflict pair:
    ("h0.example.com", "/page/3", False),   #   allow wins for 3, 30-39
    ("h1.example.com", "/", False),
    ("h1.example.com", "/page/2", True),    # allow islands in deny-all
    ("h1.example.com", "/page/4", True),
    ("h1.example.com", "/page/b", True),    # fresh ingest slots island
    # prefix-only host (no '/'): unmatched paths take the default allow
    ("h2.example.com", "/page/5", False),
    ("h2.example.com", "/page/b2", False),  # denies an ingest fresh slot
]
_CP_QUALITY_MIN, _CP_LM_MIN = 0.5, -3.405
# the synthetic corpus's tiny shared vocabulary makes unigram-token
# jaccard pathologically high (median candidate-pair similarity 0.87),
# so the pipeline's near-dup cut sits at the distribution's tail —
# every stage then removes a meaningful but non-degenerate fraction
# (sf0.01: 500 docs -> 250 url-keepers -> 150 allowed -> 140 quality
# -> 101 LM -> 101 lined -> 61 near-dup keepers -> quota -> pack)
_CP_JACCARD = 0.95  # lsh_tune(32, 0.95) = 2 bands of 16 rows
# the ingest LM cut is looser than the batch pipeline's: the batch is
# scored under the CORPUS model where OOV words take the Laplace floor
# (~-10 nats), which shifts the whole batch distribution down (measured
# median -3.408 vs the self-model's -3.402)
_CI_LM_MIN = -3.412


def _corpus_pipeline_oracle() -> str:
    """Full-chain DuckDB replay of pipeline/corpus.py: every stage's
    existing exact oracle (url_dedup ground-truth canon, robots
    longest-prefix window, quality formula, corpus-trained LM micro-nat
    sums, CCNet line-window dedup, minhash/band/jaccard, recursive-CTE
    components + min-keeper, quota rank, pack prefix sum) chained as
    CTEs, each reading the previous stage's survivors — the composition
    IS what this oracle attests.

    Every non-recursive CTE is ``AS MATERIALIZED``: DuckDB inlines plain
    CTEs, so without it the whole minhash/band/jaccard chain behind
    ``sym`` re-runs inside the recursive ``reach`` join and the replay
    runs out of memory even at sf0.001."""
    rule_values = ", ".join(
        f"('{h}', '{p}', {str(bool(a)).upper()})" for h, p, a in _CP_RULES
    )
    return rf"""
        WITH RECURSIVE base AS MATERIALIZED (
            SELECT doc_id, source, text,
                   'http://h' || ((doc_id // 2) % 3) || '.example.com/page/'
                       || (doc_id // 2) AS canon_url,
                   'h' || ((doc_id // 2) % 3) || '.example.com' AS host,
                   '/page/' || (doc_id // 2) AS path
            FROM documents
        ),
        kept AS MATERIALIZED (
            SELECT * FROM (
                SELECT base.*, ROW_NUMBER() OVER (
                    PARTITION BY canon_url
                    ORDER BY length(text) DESC, doc_id) AS rn
                FROM base) WHERE rn = 1
        ),
        rules(rhost, prefix, allow) AS MATERIALIZED (VALUES {rule_values}),
        rbest AS MATERIALIZED (
            SELECT doc_id, allow FROM (
                SELECT k.doc_id, r.allow, ROW_NUMBER() OVER (
                    PARTITION BY k.doc_id
                    ORDER BY len(r.prefix) DESC, r.allow DESC, r.prefix) AS rk
                FROM kept k JOIN rules r
                  ON r.rhost = k.host AND starts_with(k.path, r.prefix)
            ) WHERE rk = 1
        ),
        allowed AS MATERIALIZED (
            SELECT k.* FROM kept k LEFT JOIN rbest USING (doc_id)
            WHERE COALESCE(rbest.allow, TRUE)
        ),
        qcut AS MATERIALIZED (
            SELECT doc_id FROM (
                SELECT doc_id, round(
                    least(len(string_split(lower(text), ' ')) / 100.0, 1.0) * 0.25
                  + len(list_filter(string_split(lower(text), ' '),
                        t -> t IN ('the','a','of','and','to','is','in')))
                    / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) * 0.25
                  + len(list_distinct(string_split(lower(text), ' ')))
                    / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) * 0.25
                  + (1.0 - (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                           / CAST(length(text) AS DOUBLE)) * 0.125
                  + (1.0 - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
                           / CAST(length(text) AS DOUBLE)) * 0.125, 6) AS qs
                FROM allowed
            ) WHERE qs >= {_CP_QUALITY_MIN}
        ),
        qa AS MATERIALIZED (SELECT a.* FROM allowed a JOIN qcut USING (doc_id)),
        t_ AS MATERIALIZED (
            SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS word
            FROM qa
        ),
        tk AS MATERIALIZED (SELECT doc_id, word FROM t_ WHERE word <> ''),
        v AS MATERIALIZED (SELECT word, count(*) AS c FROM tk GROUP BY word),
        s AS MATERIALIZED (SELECT CAST(sum(c) AS BIGINT) AS total, count(*) AS v_size FROM v),
        lw AS MATERIALIZED (
            SELECT tk.doc_id,
                   CAST(round(ln((v.c + 1)::DOUBLE / (s.total + s.v_size)::DOUBLE)
                              * 1000000.0) AS BIGINT) AS lw
            FROM tk JOIN v USING (word) CROSS JOIN s
        ),
        lmcut AS MATERIALIZED (
            SELECT doc_id FROM (
                SELECT doc_id,
                       round(CAST(sum(lw) AS DOUBLE) / 1000000.0 / count(*), 6) AS m
                FROM lw GROUP BY doc_id
            ) WHERE m >= {_CP_LM_MIN}
        ),
        la AS MATERIALIZED (SELECT qa.* FROM qa JOIN lmcut USING (doc_id)),
        w_ AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS ws FROM la),
        l_ AS MATERIALIZED (
            SELECT doc_id, i::BIGINT AS line_no,
                   array_to_string(ws[(i*8+1):(i*8+8)], ' ') AS line
            FROM w_, UNNEST(range(greatest(1, (len(ws)+7)//8))) AS t(i)
        ),
        k_ AS MATERIALIZED (
            SELECT doc_id, line_no, line, row_number() OVER (
                PARTITION BY md5(line) ORDER BY doc_id, line_no) AS rn
            FROM l_
        ),
        agg AS MATERIALIZED (
            SELECT doc_id,
                   string_agg(line, chr(10) ORDER BY line_no)
                       FILTER (WHERE rn = 1) AS clean_text,
                   count(*) FILTER (WHERE rn = 1) AS n_kept
            FROM k_ GROUP BY doc_id
        ),
        ld AS MATERIALIZED (
            SELECT la.doc_id, la.source, la.canon_url, agg.clean_text,
                   replace(agg.clean_text, chr(10), ' ') AS flat_text
            FROM la JOIN agg USING (doc_id) WHERE agg.n_kept > 0
        ),
        tok AS MATERIALIZED (
            SELECT doc_id,
                   unnest(list_distinct(string_split(lower(flat_text), ' '))) AS tok
            FROM ld
        ),
        seeded AS MATERIALIZED (
            SELECT doc_id, seed, tok
            FROM tok CROSS JOIN (SELECT unnest(range(32)) AS seed) sx
        ),
        sig AS MATERIALIZED (
            SELECT doc_id, seed, min(md5(seed::VARCHAR || ':' || tok)) AS minhash
            FROM seeded GROUP BY doc_id, seed
        ),
        band AS MATERIALIZED (
            SELECT doc_id, seed % 2 AS band,
                   md5(string_agg(minhash, ',' ORDER BY seed)) AS band_hash
            FROM sig GROUP BY doc_id, seed % 2
        ),
        prs AS MATERIALIZED (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM band a JOIN band b
              ON a.band = b.band AND a.band_hash = b.band_hash
            WHERE a.doc_id < b.doc_id
        ),
        sizes AS MATERIALIZED (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
        inter AS MATERIALIZED (
            SELECT p.doc_a, p.doc_b, count(*) AS n_inter
            FROM prs p
            JOIN tok ta ON ta.doc_id = p.doc_a
            JOIN tok tb ON tb.doc_id = p.doc_b AND tb.tok = ta.tok
            GROUP BY p.doc_a, p.doc_b
        ),
        jp AS MATERIALIZED (
            SELECT doc_a, doc_b FROM (
                SELECT i.doc_a, i.doc_b,
                       round(n_inter / CAST(sa.sz + sb.sz - n_inter AS DOUBLE), 6) AS j
                FROM inter i
                JOIN sizes sa ON sa.doc_id = i.doc_a
                JOIN sizes sb ON sb.doc_id = i.doc_b
            ) WHERE j >= {_CP_JACCARD}
        ),
        sym AS MATERIALIZED (
            SELECT doc_a AS u, doc_b AS v FROM jp
            UNION SELECT doc_b, doc_a FROM jp
        ),
        reach(id, r) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM sym)
            UNION
            SELECT s2.u, reach.r FROM sym s2 JOIN reach ON reach.id = s2.v
        ),
        comp AS MATERIALIZED (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
        keepers AS MATERIALIZED (
            SELECT ld.* FROM ld LEFT JOIN comp ON comp.id = ld.doc_id
            WHERE comp.id IS NULL OR comp.component = ld.doc_id
        ),
        qs_ AS MATERIALIZED (
            SELECT *, CAST(ROW_NUMBER() OVER (
                PARTITION BY source
                ORDER BY md5('cp:' || CAST(doc_id AS VARCHAR)), doc_id
            ) AS INT) AS rk
            FROM keepers
        ),
        qk AS MATERIALIZED (SELECT * FROM qs_ WHERE rk <= 20),
        pt AS MATERIALIZED (
            SELECT doc_id,
                   CAST(len(string_split(flat_text, ' ')) AS BIGINT) AS n_tok
            FROM qk
        ),
        pc AS MATERIALIZED (
            SELECT doc_id, n_tok,
                   SUM(n_tok) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM pt
        )
        SELECT qk.doc_id, qk.source, qk.canon_url, qk.clean_text, qk.rk,
               pc.n_tok, CAST(pc.cum AS BIGINT) AS cum_tokens,
               CAST((pc.cum - pc.n_tok) // 256 AS BIGINT) AS pack_id,
               CAST((pc.cum - pc.n_tok) % 256 AS BIGINT) AS pack_offset
        FROM qk JOIN pc USING (doc_id)
    """


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE composed end-to-end LLM-corpus job (pipeline/corpus.py):
    canonical-URL crawl dedup → robots filter → quality cut → LM cut →
    corpus-global line dedup → minhash/LSH/jaccard near-dup clusters
    with keeper election → per-source quota → sequence packing, every
    stage the already-gated operator, chained — vs a full-chain DuckDB
    replay. Messy URLs synthesized from doc_id (4 variants per target:
    uppercase host + default port + fragment, tracking params, mixed);
    the rule table exercises longest-prefix, allow-wins ties AND the
    ruled-host-no-match default allow in composition."""
    _prep(spark)
    from osm_spark.pipeline.corpus import corpus_pipeline

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    # pairs (2k, 2k+1) share a canonical URL at EVERY scale factor (a
    # modulo slot space would freeze the canonical-URL count at the
    # modulus, collapsing the corpus to a constant 249 docs at sf>=0.1
    # and turning the bench row into pure overhead)
    pair = F.expr("doc_id div 2")
    host = F.concat(
        F.lit("h"), (pair % 3).cast("string"), F.lit(".example.com")
    )
    slot = pair.cast("string")
    tailp = F.concat(F.lit("/page/"), slot)
    raw = (
        F.when(
            i % 4 == 0,
            F.concat(
                F.lit("HTTP://"), F.upper(host), F.lit(":80"), tailp,
                F.lit("#frag"),
            ),
        )
        .when(
            i % 4 == 1,
            F.concat(F.lit("http://"), host, tailp, F.lit("?utm_source=x")),
        )
        .when(
            i % 4 == 2,
            F.concat(
                F.lit("http://"), host, tailp, F.lit("?utm_campaign=y#sec")
            ),
        )
        .otherwise(F.concat(F.lit("http://"), host, tailp))
    )
    rules = spark.createDataFrame(
        _CP_RULES, "host string, prefix string, allow boolean"
    )
    return corpus_pipeline(
        d.select("doc_id", "source", "text", raw.alias("url")),
        rules,
        quality_min=_CP_QUALITY_MIN,
        lm_min=_CP_LM_MIN,
        jaccard_threshold=_CP_JACCARD,
        n_rules=len(_CP_RULES),
    )


def _corpus_ingest_oracle() -> str:
    """Full-chain replay of pipeline/corpus.py corpus_ingest: batch
    keep-best → corpus-URL anti join → robots → quality → LM scored
    against the CORPUS model (OOV Laplace floor via LEFT JOIN +
    coalesce) → corpus-priority union line dedup → incremental
    minhash/band cross+within candidate pairs → jaccard ≥ threshold
    rejection. Batch ids ride offset by 10^6 (the ingest-reality
    precondition: new ids allocate after the standing corpus's)."""
    rule_values = ", ".join(
        f"('{h}', '{p}', {str(bool(a)).upper()})" for h, p, a in _CP_RULES
    )
    return rf"""
        WITH corp AS (
            SELECT doc_id,
                   'http://h' || ((doc_id // 2) % 3) || '.example.com/page/'
                       || (doc_id // 2) AS canon_url,
                   text
            FROM documents WHERE doc_id % 10 <> 0
        ),
        b0 AS (
            SELECT doc_id + 1000000 AS doc_id, source, text,
                   'h' || (CASE WHEN doc_id % 20 = 0
                                THEN (doc_id // 2) % 3
                                ELSE (doc_id // 40) % 3 END)
                       || '.example.com' AS host,
                   CASE WHEN doc_id % 20 = 0
                        THEN '/page/' || (doc_id // 2)
                        ELSE '/page/b' || (doc_id // 40) END AS path
            FROM documents WHERE doc_id % 10 = 0
        ),
        b1 AS (
            SELECT doc_id, source, text, host, path,
                   'http://' || host || path AS canon_url
            FROM b0
        ),
        bk AS (
            SELECT * FROM (
                SELECT b1.*, ROW_NUMBER() OVER (
                    PARTITION BY canon_url
                    ORDER BY length(text) DESC, doc_id) AS rn
                FROM b1) WHERE rn = 1
        ),
        bu AS (
            SELECT bk.* FROM bk
            WHERE NOT EXISTS (SELECT 1 FROM corp c
                              WHERE c.canon_url = bk.canon_url)
        ),
        rules(rhost, prefix, allow) AS (VALUES {rule_values}),
        rbest AS (
            SELECT doc_id, allow FROM (
                SELECT k.doc_id, r.allow, ROW_NUMBER() OVER (
                    PARTITION BY k.doc_id
                    ORDER BY len(r.prefix) DESC, r.allow DESC, r.prefix) AS rk
                FROM bu k JOIN rules r
                  ON r.rhost = k.host AND starts_with(k.path, r.prefix)
            ) WHERE rk = 1
        ),
        allowed AS (
            SELECT k.* FROM bu k LEFT JOIN rbest USING (doc_id)
            WHERE COALESCE(rbest.allow, TRUE)
        ),
        qcut AS (
            SELECT doc_id FROM (
                SELECT doc_id, round(
                    least(len(string_split(lower(text), ' ')) / 100.0, 1.0) * 0.25
                  + len(list_filter(string_split(lower(text), ' '),
                        t -> t IN ('the','a','of','and','to','is','in')))
                    / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) * 0.25
                  + len(list_distinct(string_split(lower(text), ' ')))
                    / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) * 0.25
                  + (1.0 - (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                           / CAST(length(text) AS DOUBLE)) * 0.125
                  + (1.0 - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
                           / CAST(length(text) AS DOUBLE)) * 0.125, 6) AS qs
                FROM allowed
            ) WHERE qs >= {_CP_QUALITY_MIN}
        ),
        qa AS (SELECT a.* FROM allowed a JOIN qcut USING (doc_id)),
        v AS (
            SELECT word, count(*) AS c FROM (
                SELECT unnest(string_split_regex(text, '\s+')) AS word
                FROM corp) WHERE word <> '' GROUP BY word
        ),
        s AS (SELECT CAST(sum(c) AS BIGINT) AS total, count(*) AS v_size FROM v),
        btok AS (
            SELECT doc_id, word FROM (
                SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS word
                FROM qa) WHERE word <> ''
        ),
        lw AS (
            SELECT btok.doc_id,
                   CAST(round(ln((COALESCE(v.c, 0) + 1)::DOUBLE
                                 / (s.total + s.v_size)::DOUBLE)
                              * 1000000.0) AS BIGINT) AS lw
            FROM btok LEFT JOIN v USING (word) CROSS JOIN s
        ),
        lmcut AS (
            SELECT doc_id FROM (
                SELECT doc_id,
                       round(CAST(sum(lw) AS DOUBLE) / 1000000.0 / count(*), 6) AS m
                FROM lw GROUP BY doc_id
            ) WHERE m >= {_CI_LM_MIN}
        ),
        la AS (SELECT qa.* FROM qa JOIN lmcut USING (doc_id)),
        uni AS (
            SELECT doc_id, text FROM corp
            UNION ALL
            SELECT doc_id, text FROM la
        ),
        w_ AS (SELECT doc_id, string_split(text, ' ') AS ws FROM uni),
        l_ AS (
            SELECT doc_id, i::BIGINT AS line_no,
                   array_to_string(ws[(i*8+1):(i*8+8)], ' ') AS line
            FROM w_, UNNEST(range(greatest(1, (len(ws)+7)//8))) AS t(i)
        ),
        k_ AS (
            SELECT doc_id, line_no, line, row_number() OVER (
                PARTITION BY md5(line) ORDER BY doc_id, line_no) AS rn
            FROM l_
        ),
        agg AS (
            SELECT doc_id,
                   string_agg(line, chr(10) ORDER BY line_no)
                       FILTER (WHERE rn = 1) AS clean_text,
                   count(*) FILTER (WHERE rn = 1) AS n_kept
            FROM k_ GROUP BY doc_id
        ),
        bclean AS (
            SELECT la.doc_id, la.source, la.canon_url, agg.clean_text,
                   replace(agg.clean_text, chr(10), ' ') AS flat_text
            FROM la JOIN agg USING (doc_id) WHERE agg.n_kept > 0
        ),
        cclean AS (
            SELECT corp.doc_id,
                   replace(agg.clean_text, chr(10), ' ') AS flat_text
            FROM corp JOIN agg USING (doc_id) WHERE agg.n_kept > 0
        ),
        tokb AS (
            SELECT doc_id,
                   unnest(list_distinct(string_split(lower(flat_text), ' '))) AS tok
            FROM bclean
        ),
        tokc AS (
            SELECT doc_id,
                   unnest(list_distinct(string_split(lower(flat_text), ' '))) AS tok
            FROM cclean
        ),
        sigb AS (
            SELECT doc_id, seed, min(md5(seed::VARCHAR || ':' || tok)) AS minhash
            FROM tokb CROSS JOIN (SELECT unnest(range(32)) AS seed) sx
            GROUP BY doc_id, seed
        ),
        sigc AS (
            SELECT doc_id, seed, min(md5(seed::VARCHAR || ':' || tok)) AS minhash
            FROM tokc CROSS JOIN (SELECT unnest(range(32)) AS seed) sx
            GROUP BY doc_id, seed
        ),
        bandb AS (
            SELECT doc_id, seed % 2 AS band,
                   md5(string_agg(minhash, ',' ORDER BY seed)) AS band_hash
            FROM sigb GROUP BY doc_id, seed % 2
        ),
        bandc AS (
            SELECT doc_id, seed % 2 AS band,
                   md5(string_agg(minhash, ',' ORDER BY seed)) AS band_hash
            FROM sigc GROUP BY doc_id, seed % 2
        ),
        prs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bandc a JOIN bandb b
              ON a.band = b.band AND a.band_hash = b.band_hash
            UNION
            SELECT DISTINCT a.doc_id, b.doc_id
            FROM bandb a JOIN bandb b
              ON a.band = b.band AND a.band_hash = b.band_hash
            WHERE a.doc_id < b.doc_id
        ),
        alltok AS (
            SELECT * FROM tokb UNION ALL SELECT * FROM tokc
        ),
        sizes AS (SELECT doc_id, count(*) AS sz FROM alltok GROUP BY doc_id),
        inter AS (
            SELECT p.doc_a, p.doc_b, count(*) AS n_inter
            FROM prs p
            JOIN alltok ta ON ta.doc_id = p.doc_a
            JOIN alltok tb ON tb.doc_id = p.doc_b AND tb.tok = ta.tok
            GROUP BY p.doc_a, p.doc_b
        ),
        rejected AS (
            SELECT DISTINCT doc_b AS doc_id FROM (
                SELECT i.doc_a, i.doc_b,
                       round(n_inter / CAST(sa.sz + sb.sz - n_inter AS DOUBLE), 6) AS j
                FROM inter i
                JOIN sizes sa ON sa.doc_id = i.doc_a
                JOIN sizes sb ON sb.doc_id = i.doc_b
            ) WHERE j >= {_CP_JACCARD}
        )
        SELECT b.doc_id, b.source, b.canon_url, b.clean_text,
               CAST(len(string_split(b.flat_text, ' ')) AS BIGINT) AS n_tok
        FROM bclean b
        WHERE NOT EXISTS (SELECT 1 FROM rejected r
                          WHERE r.doc_id = b.doc_id)
    """


def _ci_corpus_fixture(d: DataFrame) -> DataFrame:
    """The standing corpus side of the ingest fixture: every doc with
    doc_id % 10 != 0, canonical URL from its keep-best slot."""
    i = F.col("doc_id")
    return d.where(i % 10 != 0).select(
        "doc_id",
        F.concat(
            F.lit("http://h"),
            (F.expr("doc_id div 2") % 3).cast("string"),
            F.lit(".example.com/page/"),
            F.expr("doc_id div 2").cast("string"),
        ).alias("canon_url"),
        "text",
    )


def _ci_batch_fixture(d: DataFrame) -> DataFrame:
    """The incoming-batch side of the ingest fixture (shared by the
    batch-gated corpus_ingest and its streaming twin so the two gates
    can never drift): doc_id % 10 == 0, ids offset by 10^6 (the
    ingest-reality new-ids-after-old precondition); half the batch
    collides with corpus URLs (doc_id % 20 == 0 shares the sibling's
    canonical slot) and fresh-slot docs pair up within the batch
    (slot b{doc_id div 40}). Works on a batch OR streaming frame
    (stateless projections only)."""
    i = F.col("doc_id")
    hidx = F.when(
        i % 20 == 0, F.expr("doc_id div 2") % 3
    ).otherwise(F.expr("doc_id div 40") % 3)
    host = F.concat(
        F.lit("h"), hidx.cast("string"), F.lit(".example.com")
    )
    path = F.when(
        i % 20 == 0,
        F.concat(F.lit("/page/"), F.expr("doc_id div 2").cast("string")),
    ).otherwise(
        F.concat(F.lit("/page/b"), F.expr("doc_id div 40").cast("string"))
    )
    tailq = F.when(i % 4 == 1, F.lit("?utm_source=x")).otherwise(F.lit(""))
    return d.where(i % 10 == 0).select(
        (i + 1_000_000).alias("doc_id"),
        "source",
        "text",
        F.concat(F.lit("http://"), host, path, tailq).alias("url"),
    )


def q_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion composition (pipeline/corpus.py
    corpus_ingest): an incoming batch (doc_id % 10 == 0, ids offset by
    10^6 — the ingest-reality new-ids-after-old precondition) admitted
    against the standing corpus (the rest) through batch keep-best →
    corpus-URL anti join → robots → quality → LM-against-corpus-model
    (OOV Laplace floor) → corpus-priority line dedup → incremental
    near-dup rejection — vs the full-chain DuckDB replay. Half the
    batch collides with corpus URLs by construction (doc_id % 20 == 0
    shares the sibling's canonical slot) and fresh-slot batch docs pair
    up within the batch (slot b{doc_id div 40}), so the anti join, the
    within-batch keep-best AND the corpus-vs-batch near-dup paths all
    do real work."""
    _prep(spark)
    from osm_spark.pipeline.corpus import corpus_ingest

    d = _t(spark, sf_dir, "documents")
    corpus = _ci_corpus_fixture(d)
    batch = _ci_batch_fixture(d)
    rules = spark.createDataFrame(
        _CP_RULES, "host string, prefix string, allow boolean"
    )
    return corpus_ingest(
        corpus,
        batch,
        rules,
        quality_min=_CP_QUALITY_MIN,
        lm_min=_CI_LM_MIN,
        jaccard_threshold=_CP_JACCARD,
        n_rules=len(_CP_RULES),
    )


def q_corpus_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-ingestion composition driven by Structured
    Streaming (streaming/ingest.py): the SAME batch fixture as
    corpus_ingest arrives through the file source and is admitted via
    foreachBatch against the standing corpus, availableNow, one epoch
    — so the epoch-keyed sink must equal the batch admission row for
    row (same oracle). The multi-epoch growth/replay semantics are
    pinned in tests/test_streaming_ingest.py."""
    _prep(spark)
    import os as _os
    import tempfile as _tempfile

    from osm_spark.streaming.ingest import (
        corpus_ingest_stream,
        read_accepted,
        stream_docs,
    )

    d = _t(spark, sf_dir, "documents")
    corpus = _ci_corpus_fixture(d)
    rules = spark.createDataFrame(
        _CP_RULES, "host string, prefix string, allow boolean"
    )

    base = _tempfile.mkdtemp(prefix="osm_spark_cis_")
    corpus_path = _os.path.join(base, "corpus")
    corpus.write.parquet(corpus_path)
    q = corpus_ingest_stream(
        _ci_batch_fixture(
            stream_docs(
                spark,
                _os.path.join(sf_dir, "documents.parquet"),
                max_files_per_trigger=64,
            )
        ),
        corpus_path,
        rules,
        _os.path.join(base, "accepted"),
        _os.path.join(base, "ckpt"),
        growth_path=_os.path.join(base, "growth"),
        quality_min=_CP_QUALITY_MIN,
        lm_min=_CI_LM_MIN,
        jaccard_threshold=_CP_JACCARD,
        n_rules=len(_CP_RULES),
    )
    q.awaitTermination()
    # the epoch-keyed sink IS the result table (production: the
    # accepted Iceberg table) — return its scan, never a collect
    # (an accepted crawl batch is not driver-bounded at scale);
    # the temp dir lives for the session, like any sink table
    return read_accepted(spark, _os.path.join(base, "accepted")).select(
        "doc_id", "source", "canon_url", "clean_text", "n_tok"
    )


def _weighted_sample_oracle() -> str:
    """Key-by-key replay of the A-ES weighted sample: the 52-bit digest
    uniform (exactly representable in a double), -ln(u)/w exponential
    keys, nano-quantized rank with the doc_id tie-break, top 5 per
    source. Weight = n_chars, so long documents win proportionally."""
    two52 = float(16**13)
    return f"""
        WITH w AS (
            SELECT doc_id, source, n_chars,
                   -ln((CAST(CAST('0x' || substr(
                           md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 13)
                        AS BIGINT) AS DOUBLE) + 1.0) / {two52!r})
                     / CAST(n_chars AS DOUBLE) AS key
            FROM documents
            WHERE n_chars IS NOT NULL AND n_chars > 0
        )
        SELECT doc_id, source, n_chars, rk FROM (
            SELECT doc_id, source, n_chars,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY CAST(LEAST(round(key * 1e9), 9e18)
                                     AS BIGINT), doc_id)
                   AS INT) AS rk
            FROM w
        ) WHERE rk <= 5
    """


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (text/sampling.py weighted_sample, Efraimidis–Spirakis): top 5 docs
    per source, weight-proportional by n_chars, byte-stable across
    partitionings — vs the DuckDB key replay."""
    _prep(spark)
    from osm_spark.text.sampling import weighted_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return weighted_sample(
        d, "n_chars", 5, "doc_id", group_col="source", salt="ws"
    )


# DSIR hashed-feature space: small enough that the sf0.01 corpus
# (hundreds of distinct unigrams, thousands of bigrams) folds with real
# collisions — the hashing trick's collision path is exercised, not
# just the identity case.
_DSIR_BUCKETS = 512


def _dsir_weights_cte() -> str:
    """Shared WITH-chain replaying text/dsir.py dsir_weights over the
    documents table (target = the English slice): engine tokenizer as
    an ordered list, unigram+bigram grams, 52-bit md5 bucket fold,
    Laplace micro-nat per-bucket log-ratio (each term rounded
    separately, the lm_score idiom), exact long per-doc sums."""
    b = _DSIR_BUCKETS
    return rf"""
        WITH tk AS (
            SELECT doc_id, lang,
                   list_filter(string_split(lower(text), ' '),
                               x -> len(x) > 0) AS toks
            FROM documents
        ),
        grams AS (
            SELECT doc_id, lang, unnest(toks) AS gram FROM tk
            UNION ALL
            SELECT doc_id, lang,
                   unnest(list_transform(
                       range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i + 1])) AS gram
            FROM tk
        ),
        gb AS (
            SELECT doc_id, lang,
                   CAST('0x' || substr(md5(gram), 1, 13) AS BIGINT)
                       % {b} AS bucket
            FROM grams
        ),
        db AS (
            SELECT doc_id, bucket, count(*) AS cnt
            FROM gb GROUP BY doc_id, bucket
        ),
        rb AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS rc
               FROM db GROUP BY bucket),
        tb AS (SELECT bucket, count(*) AS tc
               FROM gb WHERE lang = 'en' GROUP BY bucket),
        tot AS (
            SELECT (SELECT CAST(sum(rc) AS BIGINT) FROM rb) AS r_total,
                   (SELECT CAST(COALESCE(sum(tc), 0) AS BIGINT) FROM tb)
                       AS t_total
        ),
        ratio AS (
            SELECT rb.bucket,
                   CAST(round(ln((COALESCE(tb.tc, 0) + 1)::DOUBLE
                                 / (tot.t_total + {b})::DOUBLE)
                              * 1000000.0) AS BIGINT)
                 - CAST(round(ln((rb.rc + 1)::DOUBLE
                                 / (tot.r_total + {b})::DOUBLE)
                              * 1000000.0) AS BIGINT) AS lr
            FROM rb LEFT JOIN tb USING (bucket) CROSS JOIN tot
        ),
        w AS (
            SELECT db.doc_id,
                   CAST(sum(db.cnt) AS BIGINT) AS n_grams,
                   CAST(sum(db.cnt * ratio.lr) AS BIGINT) AS logw_micro,
                   round(CAST(sum(db.cnt * ratio.lr) AS DOUBLE) / 1e6, 6)
                       AS log_ratio
            FROM db JOIN ratio USING (bucket)
            GROUP BY db.doc_id
        )
    """


def _dsir_weights_oracle() -> str:
    return _dsir_weights_cte() + "SELECT doc_id, n_grams, logw_micro, log_ratio FROM w"


def _dsir_sample_oracle() -> str:
    """dsir_weights chain + the Gumbel top-k replay: 52-bit salted
    digest uniform offset +0.5 (strictly inside (0,1) so both logs are
    finite), micro-quantized Gumbel added to the exact long weight,
    top 5 per source on the descending key with the doc_id tie-break."""
    two52 = float(16**13)
    return _dsir_weights_cte() + rf""",
        g AS (
            SELECT w.*, d.source,
                   w.logw_micro + CAST(round(-ln(-ln(
                       (CAST(CAST('0x' || substr(
                            md5('dsir:' || CAST(w.doc_id AS VARCHAR)),
                            1, 13) AS BIGINT) AS DOUBLE) + 0.5)
                       / {two52!r})) * 1000000.0) AS BIGINT) AS gkey
            FROM w JOIN documents d USING (doc_id)
        )
        SELECT doc_id, source, n_grams, logw_micro, log_ratio, rk FROM (
            SELECT g.*, CAST(ROW_NUMBER() OVER (
                PARTITION BY source ORDER BY gkey DESC, doc_id
            ) AS INT) AS rk
            FROM g
        ) WHERE rk <= 5
    """


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights (text/dsir.py dsir_weights, Xie et
    al. 2023): hashed unigram+bigram bucket counts, Laplace-smoothed
    target/raw micro-nat log-ratio per bucket, exact long per-doc sums.
    Target = the corpus's English slice, raw = the whole corpus — vs a
    full-chain DuckDB replay (512 buckets, real hash collisions)."""
    _prep(spark)
    from osm_spark.text.dsir import dsir_weights

    d = _t(spark, sf_dir, "documents")
    return dsir_weights(
        d.select("doc_id", "text"),
        d.where(F.col("lang") == "en").select("doc_id", "text"),
        num_buckets=_DSIR_BUCKETS,
    )


def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel top-k importance resampling (text/dsir.py dsir_sample):
    top 5 docs per source by exact-long DSIR weight + micro-quantized
    salted Gumbel — membership byte-stable across runs and engines, vs
    the DuckDB key replay."""
    _prep(spark)
    from osm_spark.text.dsir import dsir_sample, dsir_weights

    d = _t(spark, sf_dir, "documents")
    w = dsir_weights(
        d.select("doc_id", "text"),
        d.where(F.col("lang") == "en").select("doc_id", "text"),
        num_buckets=_DSIR_BUCKETS,
    )
    return dsir_sample(
        w.join(d.select("doc_id", "source"), "doc_id"),
        5,
        group_col="source",
        salt="dsir",
    )


_SPLIT_FRACTIONS = {"train": 0.7, "val": 0.2, "test": 0.05}


def _corpus_split_oracle() -> str:
    """Threshold-by-threshold replay of text/sampling.py split_assign:
    same salted md5, same cumulative hex-prefix thresholds (rendered by
    the SAME sample_threshold helper), consecutive CASE intervals, NULL
    tail for the unassigned 5% (fractions sum to 0.95 on purpose — the
    discard-holdout branch is part of the gate)."""
    from osm_spark.text.sampling import sample_threshold

    arms = []
    cum = 0.0
    for name, frac in _SPLIT_FRACTIONS.items():
        cum += frac
        arms.append(
            f"WHEN d < '{sample_threshold(min(cum, 1.0))}' THEN '{name}'"
        )
    case = "CASE " + " ".join(arms) + " END"
    return f"""
        SELECT doc_id, source, {case} AS split
        FROM (
            SELECT doc_id, source,
                   md5('split:' || CAST(doc_id AS VARCHAR)) AS d
            FROM documents
        )
    """


def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratum-stable train/val/test assignment
    (text/sampling.py split_assign): consecutive digest intervals,
    zero-shuffle CASE, 5% discard tail — vs the DuckDB threshold
    replay."""
    _prep(spark)
    from osm_spark.text.sampling import split_assign

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return split_assign(d, "doc_id", _SPLIT_FRACTIONS)


def _corpus_drift_oracle() -> str:
    """Full-bucket-space replay of text/drift.py corpus_drift: same
    gram/bucket fold as the DSIR oracle, Laplace log-probs micro-nat
    quantized per bucket (each direction's term rounded separately),
    exact long numerators, one double division per direction."""
    b = _DSIR_BUCKETS
    return rf"""
        WITH tk AS (
            SELECT doc_id, lang,
                   list_filter(string_split(lower(text), ' '),
                               x -> len(x) > 0) AS toks
            FROM documents
        ),
        grams AS (
            SELECT lang, unnest(toks) AS gram FROM tk
            UNION ALL
            SELECT lang,
                   unnest(list_transform(
                       range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i + 1])) AS gram
            FROM tk
        ),
        gb AS (
            SELECT lang,
                   CAST('0x' || substr(md5(gram), 1, 13) AS BIGINT)
                       % {b} AS bucket
            FROM grams
        ),
        rcs AS (SELECT bucket, CAST(count(*) AS BIGINT) AS rc
                FROM gb WHERE lang = 'en' GROUP BY bucket),
        ccs AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cc
                FROM gb WHERE lang <> 'en' GROUP BY bucket),
        space AS (SELECT range AS bucket FROM range({b})),
        bth AS (
            SELECT space.bucket, COALESCE(rcs.rc, 0) AS rc,
                   COALESCE(ccs.cc, 0) AS cc
            FROM space LEFT JOIN rcs USING (bucket)
                       LEFT JOIN ccs USING (bucket)
        ),
        tot AS (
            SELECT CAST(sum(rc) AS BIGINT) AS r_total,
                   CAST(sum(cc) AS BIGINT) AS c_total
            FROM bth
        ),
        lp AS (
            SELECT rc, cc,
                   CAST(round(ln((rc + 1)::DOUBLE
                                 / (tot.r_total + {b})::DOUBLE)
                              * 1000000.0) AS BIGINT) AS lpr,
                   CAST(round(ln((cc + 1)::DOUBLE
                                 / (tot.c_total + {b})::DOUBLE)
                              * 1000000.0) AS BIGINT) AS lpc
            FROM bth CROSS JOIN tot
        ),
        s AS (
            SELECT CAST(sum((cc + 1) * (lpc - lpr)) AS BIGINT) AS kl_cur,
                   CAST(sum((rc + 1) * (lpr - lpc)) AS BIGINT) AS kl_ref
            FROM lp
        )
        SELECT 'cur_vs_ref' AS direction, tot.c_total AS n_grams,
               s.kl_cur AS kl_sum_micro,
               round(CAST(s.kl_cur AS DOUBLE)
                     / CAST(tot.c_total + {b} AS DOUBLE)
                     / 1000000.0, 6) AS kl_nats
        FROM s CROSS JOIN tot
        UNION ALL
        SELECT 'ref_vs_cur', tot.r_total, s.kl_ref,
               round(CAST(s.kl_ref AS DOUBLE)
                     / CAST(tot.r_total + {b} AS DOUBLE)
                     / 1000000.0, 6)
        FROM s CROSS JOIN tot
    """


def q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-gram KL drift between corpus slices (text/drift.py
    corpus_drift): reference = the English slice, current = everything
    else — both directions, exact long micro-nat numerators over the
    full 512-bucket Laplace space, vs the DuckDB replay."""
    _prep(spark)
    from osm_spark.text.drift import corpus_drift

    d = _t(spark, sf_dir, "documents")
    return corpus_drift(
        d.where(F.col("lang") == "en").select("doc_id", "text"),
        d.where(F.col("lang") != "en").select("doc_id", "text"),
        num_buckets=_DSIR_BUCKETS,
    )


_RIPLEY_RADII = [500.0, 1000.0, 2000.0]
_RIPLEY_AREA_M2 = 1.0e9


def _ripley_k_oracle() -> str:
    """Brute-force ordered-pair replay of geo/ripley.py ripley_k: same
    haversine formula/op order as the radius oracle, one conditional
    count per ladder radius, K̂ = A·c/(n(n−1)) and L̂ = sqrt(K̂/π) with
    the identical multiply-divide order."""
    a = _RIPLEY_AREA_M2
    conds = ", ".join(
        f"CAST(sum(CASE WHEN d <= {r!r} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS c{i}"
        for i, r in enumerate(_RIPLEY_RADII)
    )
    arms = " UNION ALL ".join(
        f"SELECT CAST({r!r} AS DOUBLE) AS r_m, c{i} AS n_pairs, "
        f"{a!r} * CAST(c{i} AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE) AS k "
        f"FROM c CROSS JOIN n"
        for i, r in enumerate(_RIPLEY_RADII)
    )
    return f"""
        WITH pts AS ({_sql_points_oracle()}),
        prs AS (
            SELECT 2.0 * 6371000.0 * asin(sqrt(
                       pow(sin(radians(b.lat - a.lat) / 2.0), 2)
                     + cos(radians(a.lat)) * cos(radians(b.lat))
                       * pow(sin(radians(b.lon - a.lon) / 2.0), 2))) AS d
            FROM pts a JOIN pts b ON a.point_id <> b.point_id
        ),
        c AS (SELECT {conds} FROM prs),
        n AS (SELECT count(*) AS n FROM pts)
        SELECT r_m, n_pairs, round(k, 6) AS k_hat,
               round(sqrt(k / pi()), 6) AS l_hat
        FROM ({arms})
    """


def q_ripley_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ripley's K/L point-pattern statistic (geo/ripley.py): self
    radius-join at max(radii) on the SHUFFLE path, one conditional-sum
    aggregate over the pair stream, K̂/L̂ per ladder radius — vs a
    brute-force all-ordered-pairs DuckDB replay."""
    _prep(spark)
    from osm_spark.geo.ripley import ripley_k

    pts = _sql_points(spark, sf_dir)
    return ripley_k(
        pts,
        _RIPLEY_RADII,
        _RIPLEY_AREA_M2,
        id_col="url",
        strategy="shuffle",
    )


def _cross_k_oracle() -> str:
    """Brute-force A×B replay of geo/ripley.py cross_k over the point
    fixture × the kNN node dim — same haversine/op order, norm =
    n_a·n_b."""
    a = _RIPLEY_AREA_M2
    conds = ", ".join(
        f"CAST(sum(CASE WHEN d <= {r!r} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS c{i}"
        for i, r in enumerate(_RIPLEY_RADII)
    )
    arms = " UNION ALL ".join(
        f"SELECT CAST({r!r} AS DOUBLE) AS r_m, c{i} AS n_pairs, "
        f"{a!r} * CAST(c{i} AS DOUBLE) / CAST(norm AS DOUBLE) AS k "
        f"FROM c CROSS JOIN n"
        for i, r in enumerate(_RIPLEY_RADII)
    )
    return f"""
        WITH nodes0(node_id, nlat, nlon) AS (VALUES
                {_nodes_values_sql()}),
        nodes AS (
            SELECT CAST(nlat AS DOUBLE) AS nlat, CAST(nlon AS DOUBLE) AS nlon
            FROM nodes0
        ),
        pts AS ({_sql_points_oracle()}),
        prs AS (
            SELECT 2.0 * 6371000.0 * asin(sqrt(
                       pow(sin(radians(b.nlat - p.lat) / 2.0), 2)
                     + cos(radians(p.lat)) * cos(radians(b.nlat))
                       * pow(sin(radians(b.nlon - p.lon) / 2.0), 2))) AS d
            FROM pts p CROSS JOIN nodes b
        ),
        c AS (SELECT {conds} FROM prs),
        n AS (SELECT (SELECT count(*) FROM pts)
                     * (SELECT count(*) FROM nodes) AS norm)
        SELECT r_m, n_pairs, round(k, 6) AS k_hat,
               round(sqrt(k / pi()), 6) AS l_hat
        FROM ({arms})
    """


def q_cross_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate cross-K co-location statistic (geo/ripley.py cross_k):
    pages × amenity nodes through the cell-prejoined radius join on the
    SHUFFLE path, K̂_AB/L̂ per ladder radius — vs the brute-force A×B
    DuckDB replay."""
    _prep(spark)
    from osm_spark.geo.ripley import cross_k
    from osm_spark.pipeline.geometry import synth_nodes

    return cross_k(
        _sql_points(spark, sf_dir),
        synth_nodes(spark),
        _RIPLEY_RADII,
        _RIPLEY_AREA_M2,
        a_id_col="url",
        b_id_col="id",
        strategy="shuffle",
    )


def _bpe_vocab_oracle(n_merges: int = 3) -> str:
    """Same unrolled rounds as _bpe_oracle, but the final select counts
    the POST-MERGE symbol occurrences — the encode (vocabulary-usage)
    surface, exercising that every round's merge application (not just
    its argmax) replays exactly."""
    return _bpe_oracle(
        n_merges,
        final_select=(
            f"SELECT sym, CAST(sum(freq) AS BIGINT) AS n_occurrences "
            f"FROM s{n_merges} GROUP BY sym"
        ),
    )


def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encode (text/bpe.py bpe_encode): train 3 merges, apply them
    to the corpus, return the subword vocabulary usage — gates the
    merge APPLICATION path end-to-end (bpe_merges gates the argmax)."""
    _prep(spark)
    from osm_spark.text.bpe import bpe_encode, bpe_train

    d = _t(spark, sf_dir, "documents")
    trained = bpe_train(d, n_merges=3)
    merges = [(r.left, r.right) for r in trained.orderBy("step").collect()]
    return bpe_encode(d, merges)


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer induction (text/bpe.py bpe_train): 3 merge rounds
    over the corpus word-frequency table, deterministic argmax
    tie-break, greedy non-overlapping merge — vs the generated unrolled
    positional replay. The merge table IS the trained tokenizer."""
    _prep(spark)
    from osm_spark.text.bpe import bpe_train

    return bpe_train(_t(spark, sf_dir, "documents"), n_merges=3)


def _hull_points_sql() -> str:
    """Shared synthetic point cloud for the hull gate: md5-derived
    pseudo-random integer coordinates (the portable-hash idiom), which
    are empirically in generic position on every group's hull edges —
    checked exhaustively during development (lattice-structured affine
    coordinates were NOT: they put collinear triples on hull edges,
    which breaks the pair-certificate oracle below)."""
    h = (
        "CAST(CAST('0x' || substr(md5('{ax}:' || CAST(doc_id AS VARCHAR)),"
        " 1, 8) AS BIGINT) % 100000 AS DOUBLE)"
    )
    return f"""
        SELECT DISTINCT 'g' || CAST(doc_id % 5 AS VARCHAR) AS grp,
               {h.format(ax='hx')} AS px,
               {h.format(ax='hy')} AS py
        FROM documents
    """


def _hull_oracle() -> str:
    """Pair-certificate ground truth: p is a strict hull vertex iff
    some q exists with EVERY other point strictly to the left of line
    p→q (the supporting-edge certificate; valid because the point cloud
    has no collinear triples on hull edges — see _hull_points_sql).
    Exact integer-valued double cross products (coords < 1e5, products
    < 2^53)."""
    return f"""
        WITH pts AS ({_hull_points_sql()})
        SELECT DISTINCT p.grp, p.px, p.py
        FROM pts p JOIN pts q
          ON q.grp = p.grp AND (q.px <> p.px OR q.py <> p.py)
        WHERE NOT EXISTS (
            SELECT 1 FROM pts r
            WHERE r.grp = p.grp
              AND (r.px <> p.px OR r.py <> p.py)
              AND (r.px <> q.px OR r.py <> q.py)
              AND ((q.px - p.px) * (r.py - p.py)
                   - (q.py - p.py) * (r.px - p.px)) <= 0
        )
    """


def q_convex_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed convex hull (geo/hull.py): per-partition partial
    hulls + one group-keyed merge (hull-merge associativity), strict
    vertex semantics — vs the O(n²·n) pair-certificate oracle, a
    completely independent characterization of the same vertex set."""
    _prep(spark)
    from osm_spark.geo.hull import convex_hull

    d = _t(spark, sf_dir, "documents")

    def hcoord(ax: str):
        digest = F.md5(
            F.concat(F.lit(f"{ax}:"), F.col("doc_id").cast("string"))
        )
        return (
            F.conv(F.substring(digest, 1, 8), 16, 10).cast("bigint")
            % 100000
        ).cast("double")

    pts = d.select(
        F.concat(F.lit("g"), (F.col("doc_id") % 5).cast("string")).alias(
            "grp"
        ),
        hcoord("hx").alias("px"),
        hcoord("hy").alias("py"),
    )
    return convex_hull(pts)


def _quantize_oracle() -> str:
    """Component replay of the absmax int8 quantization: float32→double
    widening is exact in both engines, abs-max and integer sums are
    order-free, round/clamp integer-identical. The gate compares the
    quantized representation via exact integer summaries (sum, sum of
    squares) plus the nano-quantized scale."""
    qexpr = (
        "CASE WHEN scale = 0 THEN 0 ELSE "
        "greatest(-127, least(127, "
        "CAST(round(CAST(x AS DOUBLE) / scale) AS INT))) END"
    )
    return f"""
        WITH s AS (
            SELECT vec_id, embedding,
                   COALESCE(list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))), 0.0) / 127.0 AS scale
            FROM embeddings
        )
        SELECT vec_id,
               CAST(round(scale * 1e9) AS BIGINT) AS scale_nano,
               CAST(list_sum(list_transform(embedding,
                   x -> CAST({qexpr} AS BIGINT))) AS BIGINT) AS qsum,
               CAST(list_sum(list_transform(embedding,
                   x -> CAST({qexpr} AS BIGINT)
                        * CAST({qexpr} AS BIGINT))) AS BIGINT) AS qnorm
        FROM s
    """


def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization (vector/quantize.py): per-vector
    absmax scale + clamped rounded components, gated through exact
    integer summaries of the quantized representation (the array itself
    stays out of the hash — engines stringify arrays differently)."""
    _prep(spark)
    from osm_spark.vector.quantize import quantize_embeddings

    q = quantize_embeddings(_t(spark, sf_dir, "embeddings"))
    qsum = F.aggregate(
        F.col("qvec"),
        F.lit(0).cast("bigint"),
        lambda a, v: a + v.cast("bigint"),
    )
    qnorm = F.aggregate(
        F.col("qvec"),
        F.lit(0).cast("bigint"),
        lambda a, v: a + v.cast("bigint") * v.cast("bigint"),
    )
    return q.select(
        "vec_id",
        F.round(F.col("scale") * 1e9, 0).cast("bigint").alias("scale_nano"),
        qsum.alias("qsum"),
        qnorm.alias("qnorm"),
    )


_BLOCK_PATTERNS = [
    ("slow scan", 3),
    ("hash join", 1),
    ("big table", 2),
    ("merge batch", 2),
    ("quantum leap", 3),  # never fires: exercises the clean path
]


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pattern blocklist screening (text/blocklist.py): curated
    phrase dim folded into one codegen filter/contains pass — existence
    semantics, sorted hit list, worst severity — vs a DuckDB pattern-join
    replay."""
    _prep(spark)
    from osm_spark.text.blocklist import blocklist_filter

    pats = spark.createDataFrame(
        _BLOCK_PATTERNS, "pattern string, severity int"
    )
    return blocklist_filter(_t(spark, sf_dir, "documents"), pats).select(
        "doc_id",
        F.col("n_hits").cast("int").alias("n_hits"),
        "hit_list",
        "max_severity",
        "keep",
    )


def _blocklist_oracle() -> str:
    vals = ", ".join(f"('{p}', {s})" for p, s in _BLOCK_PATTERNS)
    return f"""
        WITH pats(pattern, severity) AS (VALUES {vals}),
        d AS (SELECT doc_id, lower(text) AS t FROM documents),
        h AS (
            SELECT d.doc_id, p.pattern, p.severity
            FROM d JOIN pats p ON instr(d.t, p.pattern) > 0
        ),
        agg AS (
            SELECT doc_id, CAST(count(*) AS INT) AS n_hits,
                   array_to_string(list_sort(list(pattern)), ',') AS hit_list,
                   CAST(max(severity) AS INT) AS max_severity
            FROM h GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(a.n_hits, 0) AS n_hits,
               coalesce(a.hit_list, '') AS hit_list,
               coalesce(a.max_severity, 0) AS max_severity,
               (a.doc_id IS NULL) AS keep
        FROM d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """


_TRIM_NUM, _TRIM_DEN = 1, 10


def q_trimmed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-language document-length stats (text/quantiles.py
    trimmed_stats): 10%-per-tail trimmed + winsorized means off the
    cumulative histogram, integer tail arithmetic, two closing rounded
    divisions — vs a DuckDB histogram-window replay."""
    from osm_spark.text.quantiles import trimmed_stats

    return trimmed_stats(
        _t(spark, sf_dir, "documents"), "lang", "n_chars", _TRIM_NUM, _TRIM_DEN
    )


def _trimmed_stats_oracle() -> str:
    return f"""
        WITH hist AS (
            SELECT lang AS grp, n_chars AS value, count(*) AS c
            FROM documents WHERE n_chars IS NOT NULL
            GROUP BY lang, n_chars
        ),
        cum AS (
            SELECT grp, value, c,
                   CAST(sum(c) OVER (PARTITION BY grp ORDER BY value) AS BIGINT) AS cm,
                   CAST(sum(c) OVER (PARTITION BY grp) AS BIGINT) AS n
            FROM hist
        ),
        k AS (
            SELECT grp, value, c, cm, n,
                   CAST(n * {_TRIM_NUM} // {_TRIM_DEN} AS BIGINT) AS t
            FROM cum
        ),
        agg AS (
            SELECT grp, MIN(n) AS n, MIN(t) AS n_trim,
                   CAST(SUM(value * GREATEST(0,
                       LEAST(cm, n - t) - GREATEST(cm - c + 1, t + 1) + 1))
                       AS BIGINT) AS tsum,
                   MIN(CASE WHEN cm >= t + 1 THEN value END) AS lo_cut,
                   MIN(CASE WHEN cm >= n - t THEN value END) AS hi_cut
            FROM k GROUP BY grp
        )
        SELECT grp AS lang, n, n_trim, lo_cut, hi_cut,
               CASE WHEN n - 2 * n_trim > 0 THEN
                   CAST(round(CAST(tsum AS DOUBLE)
                              / CAST(n - 2 * n_trim AS DOUBLE) * 1e6, 0) AS BIGINT)
               END AS trimmed_mean_micro,
               CASE WHEN n - 2 * n_trim > 0 THEN
                   CAST(round(CAST(tsum + n_trim * lo_cut + n_trim * hi_cut
                                   AS DOUBLE)
                              / CAST(n AS DOUBLE) * 1e6, 0) AS BIGINT)
               END AS winsor_mean_micro
        FROM agg
    """


def q_safety_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed safety-admission chain: blocklist screening
    (text/blocklist.py) × Bloom contamination pre-screen (text/bloom.py)
    joined per doc — admitted iff clean on BOTH axes.  Attests the two
    new safety stages' schema contract end-to-end; the oracle chains
    both stage replays in one statement."""
    bl = q_blocklist_filter(spark, sf_dir).select(
        "doc_id", "n_hits", F.col("keep").alias("_bl_keep")
    )
    bs = q_bloom_screen(spark, sf_dir).select(
        "doc_id", "n_candidates", F.col("flagged").alias("_flagged")
    )
    return bl.join(bs.hint("shuffle_hash"), "doc_id").select(
        "doc_id",
        "n_hits",
        "n_candidates",
        (F.col("_bl_keep") & ~F.col("_flagged")).alias("admitted"),
    )


def _safety_admission_oracle() -> str:
    return f"""
        WITH bl AS ({_blocklist_oracle()}),
        bs AS ({_bloom_oracle()})
        SELECT bl.doc_id, bl.n_hits, bs.n_candidates,
               (bl.keep AND NOT bs.flagged) AS admitted
        FROM bl JOIN bs ON bl.doc_id = bs.doc_id
    """


_TR_K, _TR_DIMS = 10, 16


def q_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit (vector/eval.py truncation_recall):
    exact full-dim top-10 vs first-16-dims top-10, per-query overlap —
    vs a DuckDB double replay of both rankings (rounded cosine,
    (cos DESC, vec_id) tie-break) and their intersection."""
    from osm_spark.vector.eval import truncation_recall

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return truncation_recall(q, emb, k=_TR_K, dims_kept=_TR_DIMS)


def _trunc_topk_sql(dims: int, name: str) -> str:
    cos = (
        f"round(list_sum(list_transform(range({dims}), "
        f"i -> q.embedding[i+1]::DOUBLE * c.embedding[i+1]::DOUBLE)) "
        f"/ (sqrt(list_sum(list_transform(range({dims}), "
        f"i -> q.embedding[i+1]::DOUBLE * q.embedding[i+1]::DOUBLE))) "
        f"* sqrt(list_sum(list_transform(range({dims}), "
        f"i -> c.embedding[i+1]::DOUBLE * c.embedding[i+1]::DOUBLE)))), 6)"
    )
    return f"""{name} AS (
            SELECT query_id, vec_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY {cos} DESC, c.vec_id ASC) AS rn
                FROM (SELECT * FROM embeddings WHERE vec_id % 50 = 0) q
                CROSS JOIN embeddings c
            ) WHERE rn <= {_TR_K}
        )"""


def _truncation_recall_oracle() -> str:
    return f"""
        WITH {_trunc_topk_sql(64, "full_k")},
        {_trunc_topk_sql(_TR_DIMS, "trunc_k")},
        hit AS (
            SELECT f.query_id, CAST(count(*) AS INT) AS n_overlap
            FROM full_k f JOIN trunc_k t
              ON f.query_id = t.query_id AND f.vec_id = t.vec_id
            GROUP BY f.query_id
        )
        SELECT q.query_id,
               COALESCE(h.n_overlap, 0) AS n_overlap,
               CAST(round(COALESCE(h.n_overlap, 0)::DOUBLE / {_TR_K} * 1e6, 0)
                    AS BIGINT) AS recall_micro
        FROM (SELECT DISTINCT query_id FROM full_k) q
        LEFT JOIN hit h ON h.query_id = q.query_id
    """


_SEM_K, _SEM_THRESHOLD = 8, 0.3


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup cluster-then-prune (vector/semdedup.py): deterministic
    md5-picked seeds, exact nearest-seed assignment (rounded cosine,
    seed-id tie-break), within-cluster ε-neighbour prune keeping the
    low-centroid-similarity member — every stage replayed in the oracle."""
    _prep(spark)
    from osm_spark.vector.semdedup import semantic_dedup

    return semantic_dedup(
        _t(spark, sf_dir, "embeddings"), k=_SEM_K, threshold=_SEM_THRESHOLD
    )


def _semantic_dedup_oracle() -> str:
    """Full SQL replay: seed pick by md5(vec_id), corpus × seed cosine
    (same left-fold sum as Spark's ``aggregate``), row_number argmax with
    the identical (cent_sim DESC, seed_id ASC) order, witness EXISTS with
    the (cent_sim, vec_id) precedence, default-keep on no witness."""
    return f"""
        WITH seeds AS (
            SELECT vec_id AS seed_id, embedding AS seed_vec
            FROM embeddings
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
            LIMIT {_SEM_K}
        ), sims AS (
            SELECT e.vec_id, s.seed_id,
                   round(
                       list_sum(list_transform(range(64),
                           i -> e.embedding[i+1]::DOUBLE * s.seed_vec[i+1]::DOUBLE))
                       / (sqrt(list_sum(list_transform(range(64),
                              i -> e.embedding[i+1]::DOUBLE * e.embedding[i+1]::DOUBLE)))
                        * sqrt(list_sum(list_transform(range(64),
                              i -> s.seed_vec[i+1]::DOUBLE * s.seed_vec[i+1]::DOUBLE)))),
                       6) AS cent_sim
            FROM embeddings e CROSS JOIN seeds s
        ), assigned AS (
            SELECT vec_id, seed_id AS cluster_id, cent_sim
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY vec_id
                      ORDER BY cent_sim DESC, seed_id ASC) AS rn
                  FROM sims)
            WHERE rn = 1
        ), vx AS (
            SELECT a.vec_id, a.cluster_id, a.cent_sim, e.embedding
            FROM assigned a JOIN embeddings e USING (vec_id)
        ), witness AS (
            SELECT DISTINCT a.vec_id
            FROM vx a JOIN vx b
              ON a.cluster_id = b.cluster_id AND a.vec_id <> b.vec_id
            WHERE (b.cent_sim < a.cent_sim
                   OR (b.cent_sim = a.cent_sim AND b.vec_id < a.vec_id))
              AND round(
                    list_sum(list_transform(range(64),
                        i -> a.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE))
                    / (sqrt(list_sum(list_transform(range(64),
                           i -> a.embedding[i+1]::DOUBLE * a.embedding[i+1]::DOUBLE)))
                     * sqrt(list_sum(list_transform(range(64),
                           i -> b.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE)))),
                    6) >= {_SEM_THRESHOLD}
        )
        SELECT a.vec_id, a.cluster_id, a.cent_sim,
               (w.vec_id IS NULL) AS keep
        FROM assigned a LEFT JOIN witness w ON a.vec_id = w.vec_id
    """


_SIM_THRESHOLD, _SIM_MAX_DF = 0.9, 1.0


def _cosine_pairs_oracle() -> str:
    """Term-join replay of the APSS cosine join: same micro-quantized
    tf·ln(N/df) weights (the keywords.py recipe), HUGEINT dot/norm sums
    (↔ Spark decimal(38,0)), one closing float expression rounded to 6
    and thresholded on the ROUNDED value in both engines."""
    return f"""
        WITH base AS (
            SELECT doc_id, lower(text) AS text
            FROM documents WHERE text IS NOT NULL
        ),
        tf AS (
            SELECT doc_id, tok AS term, count(*) AS tf
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM base)
            WHERE len(tok) > 0
            GROUP BY 1, 2
        ),
        dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        nn AS (SELECT count(*) AS n_docs FROM base),
        w AS (
            SELECT doc_id, term,
                   CAST(round(tf * ln(CAST(n_docs AS DOUBLE) / df) * 1e6)
                        AS BIGINT) AS wq
            FROM tf JOIN dfs USING (term), nn
            WHERE CAST(df AS DOUBLE) <= {_SIM_MAX_DF} * n_docs
        ),
        norms AS (
            SELECT doc_id, sum(CAST(wq AS HUGEINT) * wq) AS nq
            FROM w GROUP BY doc_id
            HAVING sum(CAST(wq AS HUGEINT) * wq) > 0
        ),
        dots AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   sum(CAST(a.wq AS HUGEINT) * b.wq) AS dot
            FROM w a JOIN w b USING (term)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b, sim FROM (
            SELECT id_a, id_b,
                   round(CAST(dot AS DOUBLE)
                         / (sqrt(CAST(na.nq AS DOUBLE))
                            * sqrt(CAST(nb.nq AS DOUBLE))), 6) AS sim
            FROM dots
            JOIN norms na ON na.doc_id = id_a
            JOIN norms nb ON nb.doc_id = id_b
        ) WHERE sim >= {_SIM_THRESHOLD}
    """


def q_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sparse TF-IDF cosine similarity join (text/simjoin.py):
    inverted-index term-keyed candidates, exact integer dot/norm sums,
    df-cut scale guard — vs the DuckDB term-join replay. The exact-
    cosine complement to minhash/simhash/embedding near-dup pairs."""
    _prep(spark)
    from osm_spark.text.simjoin import cosine_sim_join

    return cosine_sim_join(
        _t(spark, sf_dir, "documents"),
        threshold=_SIM_THRESHOLD,
        max_df_ratio=_SIM_MAX_DF,
    )


_PHRASE = "stream table hash"


def _phrase_oracle() -> str:
    """Position-replay ground truth for phrase_search: postings derived
    from generate_series subscripts (NOT substring search — the
    tokenizer, not the byte stream, defines adjacency), then the same
    offset-folded intersection, generated per phrase term."""
    terms = _PHRASE.split(" ")
    joins = []
    for i, t in enumerate(terms[1:], start=1):
        joins.append(
            f"JOIN toks m{i} ON m{i}.doc_id = m0.doc_id "
            f"AND m{i}.pos = m0.pos + {i} AND m{i}.tok = '{t}'"
        )
    return f"""
        WITH t AS (
            SELECT doc_id, string_split(lower(text), ' ') AS ws
            FROM documents WHERE text IS NOT NULL
        ),
        p AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
              FROM t),
        toks AS (SELECT doc_id, ws[i] AS tok, i - 1 AS pos FROM p)
        SELECT m0.doc_id,
               CAST(count(*) AS BIGINT) AS n_matches,
               CAST(min(m0.pos) AS INT) AS first_pos
        FROM toks m0 {' '.join(joins)}
        WHERE m0.tok = '{terms[0]}'
        GROUP BY m0.doc_id
    """


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search (text/phrase.py): positional inverted index,
    term-pruned postings, offset-folded (doc_id, pos) intersection —
    vs the DuckDB position replay. The phrase is a trigram that occurs
    in the corpus, so both chained joins carry real matches."""
    _prep(spark)
    from osm_spark.text.phrase import phrase_search

    return phrase_search(_t(spark, sf_dir, "documents"), _PHRASE)


_CMS_D, _CMS_W = 3, 8


def _cms_oracle() -> str:
    """Cell-by-cell replay of the count-min sketch: same salted-md5
    buckets (the sampling/sharding portable-hash idiom), same
    depth×width cell aggregation, same min-over-rows estimate. Width 8
    is far below the corpus vocabulary so collisions are dense and the
    min genuinely selects among different collision masses."""
    b = (
        "CAST(CAST('0x' || substr(md5('cms' || CAST(j AS VARCHAR) || ':' "
        "|| tok), 1, 8) AS BIGINT) % {w} AS INT)"
    ).format(w=_CMS_W)
    return f"""
        WITH toks AS (
            SELECT tok FROM (
                SELECT unnest(string_split(lower(text), ' ')) AS tok
                FROM documents WHERE text IS NOT NULL
            ) WHERE len(tok) > 0
        ),
        js AS (SELECT unnest([{', '.join(str(j) for j in range(_CMS_D))}]) AS j),
        cells AS (
            SELECT j, {b} AS bucket, CAST(count(*) AS BIGINT) AS cnt
            FROM toks, js GROUP BY 1, 2
        ),
        qs AS (SELECT DISTINCT tok FROM toks),
        probe AS (SELECT tok, j, {b} AS bucket FROM qs, js)
        SELECT p.tok, CAST(min(COALESCE(c.cnt, 0)) AS BIGINT) AS est
        FROM probe p LEFT JOIN cells c USING (j, bucket)
        GROUP BY p.tok
    """


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (text/cms.py): build the depth×width sketch over
    the corpus token stream, then estimate every distinct token's
    frequency from it — the sketch cells AND the min-estimates replay
    bit-exactly in DuckDB because the hashes are the portable salted
    md5. The overestimate bound itself is pinned in tests/test_cms.py."""
    _prep(spark)
    from osm_spark.text.cms import cms_build, cms_estimate

    d = _t(spark, sf_dir, "documents")
    cms = cms_build(d, depth=_CMS_D, width=_CMS_W)
    qs = (
        d.where(F.col("text").isNotNull())
        .select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .where(F.length("tok") > 0)
        .distinct()
    )
    return cms_estimate(cms, qs, depth=_CMS_D, width=_CMS_W)


_CHUNK_SIZE, _CHUNK_STRIDE = 12, 8


def _doc_chunks_oracle() -> str:
    """Window-by-window replay of text/chunking.py over the REAL
    document text: same single-space tokenizer (string_split parity
    pinned by the token_stats/lm oracles), generate_series starts,
    1-based inclusive list_slice windows. chunk text is compared
    byte-exactly, so the tokenize→slice→re-join path carries the
    reference's extracted-text invariant through the chunker."""
    return f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS ws
            FROM documents WHERE text IS NOT NULL
        ),
        s AS (
            SELECT doc_id, ws,
                   unnest(generate_series(0, len(ws) - 1, {_CHUNK_STRIDE}))
                       AS start
            FROM t
        )
        SELECT doc_id,
               CAST(start // {_CHUNK_STRIDE} AS INT) AS chunk_id,
               CAST(start AS INT) AS start,
               CAST(len(list_slice(ws, start + 1, start + {_CHUNK_SIZE}))
                    AS INT) AS n_tokens,
               array_to_string(
                   list_slice(ws, start + 1, start + {_CHUNK_SIZE}),
                   ' ') AS chunk
        FROM s
    """


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunking (text/chunking.py chunk_documents): overlapping
    token windows over the real corpus text, zero-shuffle row-local
    plan, byte-exact chunk text vs the DuckDB window replay."""
    _prep(spark)
    from osm_spark.text.chunking import chunk_documents

    d = _t(spark, sf_dir, "documents")
    return chunk_documents(d, size=_CHUNK_SIZE, stride=_CHUNK_STRIDE)


def _path_rollup_oracle() -> str:
    """Ground-truth replay of functions/urls.py path_rollup on synthetic
    URLs with known depth-0..4 paths (the url_dedup oracle idiom —
    Spark must reproduce through the real host/path parsing): counts
    per (host, prefix) at depths 1..3, '/' rows for path-less URLs."""
    return """
        WITH u AS (
            SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host,
                   doc_id % 5 AS d,
                   's' || CAST(doc_id % 3 AS VARCHAR) AS s1,
                   't' || CAST(doc_id % 5 AS VARCHAR) AS s2,
                   'u' || CAST(doc_id % 2 AS VARCHAR) AS s3
            FROM documents
        ),
        pref AS (
            SELECT host, 0 AS depth, '/' AS prefix FROM u WHERE d = 0
            UNION ALL
            SELECT host, 1, '/' || s1 FROM u WHERE d >= 1
            UNION ALL
            SELECT host, 2, '/' || s1 || '/' || s2 FROM u WHERE d >= 2
            UNION ALL
            SELECT host, 3, '/' || s1 || '/' || s2 || '/' || s3
            FROM u WHERE d >= 3
        )
        SELECT host, prefix, depth, count(*) AS n_pages
        FROM pref GROUP BY host, prefix, depth
    """


def q_path_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL path-prefix rollup (functions/urls.py path_rollup): the
    per-site directory-tree profile driving crawl budgeting — vs the
    ground-truth DuckDB replay. URL depth varies 0-4 so the depth cap,
    the '/' fallback and every prefix level are all exercised."""
    _prep(spark)
    from osm_spark.functions.urls import path_rollup

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    s1 = F.concat(F.lit("s"), (i % 3).cast("string"))
    s2 = F.concat(F.lit("t"), (i % 5).cast("string"))
    s3 = F.concat(F.lit("u"), (i % 2).cast("string"))
    s4 = F.concat(F.lit("p"), i.cast("string"))
    dd = i % 5
    path = (
        F.when(dd == 0, F.lit(""))
        .when(dd == 1, F.concat(F.lit("/"), s1))
        .when(dd == 2, F.concat(F.lit("/"), s1, F.lit("/"), s2))
        .when(dd == 3, F.concat(F.lit("/"), s1, F.lit("/"), s2, F.lit("/"), s3))
        .otherwise(
            F.concat(
                F.lit("/"), s1, F.lit("/"), s2, F.lit("/"), s3, F.lit("/"), s4
            )
        )
    )
    urls = d.select(
        F.concat(
            F.lit("http://h"), (i % 7).cast("string"),
            F.lit(".example.com"), path,
            F.lit("?q="), i.cast("string"),  # query must NOT leak into path
        ).alias("url")
    )
    return path_rollup(urls, max_depth=3)


def q_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier politeness sharding (pipeline/frontier.py):
    host→worker by salted digest, per-host deterministic fetch order,
    per-host budget cut — vs the ground-truth DuckDB replay."""
    _prep(spark)
    from osm_spark.pipeline.frontier import frontier_assign

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    urls = d.select(
        F.concat(
            F.lit("http://h"), (F.col("doc_id") % 37).cast("string"),
            F.lit(".example.com/p/"), i,
        ).alias("url"),
        (F.col("doc_id") % 11).alias("priority"),
    )
    return frontier_assign(
        urls,
        n_workers=_FRONTIER_WORKERS,
        max_per_host=_FRONTIER_CAP,
        priority_col="priority",
    )


_COVISIT_CAP = 16


def _covisit_oracle() -> str:
    """Replay of graph/covisit.py over the events' JSON item field:
    same distinct → sort → cap → row-local pair expansion."""
    return f"""
        WITH inter AS (
            SELECT DISTINCT user_id AS u,
                   json_extract_string(props, '$.k') AS it
            FROM events
        ),
        arrs AS (
            SELECT u, list_sort(list(it))[1:{_COVISIT_CAP}] AS items
            FROM inter GROUP BY u
        ),
        pairs AS (
            SELECT unnest(flatten(list_transform(
                       generate_series(1, len(items)),
                       i -> list_transform(
                            items[i + 1:],
                            y -> struct_pack(a := items[i], b := y))
                   ))) AS p
            FROM arrs
        )
        SELECT p.a AS a, p.b AS b, count(*) AS n_users
        FROM pairs GROUP BY p.a, p.b
    """


def q_covisitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-visitation item pairs (graph/covisit.py): bipartite projection
    with the deterministic per-user cap, pair expansion as a row-local
    nested transform (no self-join) — vs a DuckDB list replay. Items are
    the events' JSON props 'k' field (the S2 content-dispatch idiom)."""
    _prep(spark)
    from osm_spark.graph.covisit import covisitation

    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.get_json_object("props", "$.k").alias("item")
    )
    return covisitation(ev, user="user_id", item="item", cap=_COVISIT_CAP)


def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type Markov transitions (pipeline/markov.py):
    one user-keyed LAG window, one transition aggregate, vocabulary-
    sized row-marginal window — vs a DuckDB LAG replay."""
    _prep(spark)
    from osm_spark.pipeline.markov import markov_transitions

    return markov_transitions(_t(spark, sf_dir, "events"))


_OD_Z = 12


def _od_pts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared trajectory synth for the OD/stay family (identical to
    q_trip_stats's position synthesis)."""
    from osm_spark.pipeline.pages import CITIES

    ev = _t(spark, sf_dir, "events")
    city = (F.col("user_id") % 10).cast("int")
    clat = F.element_at(F.array(*[F.lit(x[1]) for x in CITIES]), city + 1)
    clon = F.element_at(F.array(*[F.lit(x[2]) for x in CITIES]), city + 1)
    did = F.col("event_id")
    return ev.select(
        "user_id", "event_id", "ts",
        (clat + (did * 2654435761 % 2001 - 1000) / 1000.0 * _SQL_PT_SPREAD).alias("lat"),
        (clon + (did * 40503 % 2001 - 1000) / 1000.0 * _SQL_PT_SPREAD).alias("lon"),
    )


def _od_pts_sql() -> str:
    from osm_spark.pipeline.pages import CITIES

    lats = ", ".join(repr(float(x[1])) for x in CITIES)
    lons = ", ".join(repr(float(x[2])) for x in CITIES)
    sp = repr(float(_SQL_PT_SPREAD))
    return f"""
        SELECT user_id, event_id, ts,
               ([{lats}])[CAST(user_id % 10 AS INT) + 1]
                 + (event_id * 2654435761 % 2001 - 1000) / 1000.0 * {sp} AS lat,
               ([{lons}])[CAST(user_id % 10 AS INT) + 1]
                 + (event_id * 40503 % 2001 - 1000) / 1000.0 * {sp} AS lon
        FROM events
    """


def _od_matrix_oracle() -> str:
    """LAG-window + Web-Mercator tile replay of geo/odmatrix.py: same
    clamp order, same floor arithmetic, same (ts, event_id) tie-break,
    same dwell drop and exact COUNT(DISTINCT user)."""
    n = float(1 << _OD_Z)
    m = 85.05112878
    return f"""
        WITH pts AS ({_od_pts_sql()}),
        cells AS (
            SELECT user_id, event_id, ts,
                   LEAST(GREATEST(CAST(floor((lon + 180.0) / 360.0 * {n!r}) AS BIGINT),
                                  0), {(1 << _OD_Z) - 1}) AS x,
                   LEAST(GREATEST(CAST(floor((1.0
                            - ln(tan(radians(LEAST(GREATEST(lat, {-m!r}), {m!r})))
                                 + sqrt(tan(radians(LEAST(GREATEST(lat, {-m!r}), {m!r})))
                                        * tan(radians(LEAST(GREATEST(lat, {-m!r}), {m!r})))
                                        + 1.0)) / pi())
                            / 2.0 * {n!r}) AS BIGINT),
                                  0), {(1 << _OD_Z) - 1}) AS y
            FROM pts
        ),
        lagd AS (
            SELECT user_id,
                   LAG(x) OVER w AS o_x, LAG(y) OVER w AS o_y,
                   x AS d_x, y AS d_y
            FROM cells
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT o_x, o_y, d_x, d_y,
               count(*) AS n_trips,
               count(DISTINCT user_id) AS n_users
        FROM lagd
        WHERE o_x IS NOT NULL AND (o_x <> d_x OR o_y <> d_y)
        GROUP BY o_x, o_y, d_x, d_y
    """


def q_tile_visitors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed geo×sketch: unique-visitor estimate PER TILE — the
    web-analytics heatmap that exact distinct cannot serve at 10^12
    events (per-tile visitor sets never materialize; state is 2^p
    registers per occupied tile). Chains the tile raster onto the
    deterministic HLL; the oracle replays tile floors + registers."""
    from osm_spark.functions.hll import hll_distinct
    from osm_spark.geo.tiles import tile_xy

    pts = _od_pts(spark, sf_dir)
    t = tile_xy("lat", "lon", _OD_Z)
    df = pts.select(
        t.getField("x").alias("x"), t.getField("y").alias("y"), "user_id"
    )
    return hll_distinct(df, ["x", "y"], "user_id", p=_HLL_P)


def _tile_visitors_oracle() -> str:
    p = _HLL_P
    m, nib = 1 << p, p // 4
    n = 1 << _OD_Z
    mlat = "85.05112878"
    return f"""
        WITH pts AS ({_od_pts_sql()}),
        cells AS (
            SELECT user_id,
                   LEAST(GREATEST(CAST(floor((lon + 180.0) / 360.0 * {float(n)!r})
                       AS BIGINT), 0), {n - 1}) AS x,
                   LEAST(GREATEST(CAST(floor((1.0
                            - ln(tan(radians(LEAST(GREATEST(lat, -{mlat}), {mlat})))
                                 + sqrt(tan(radians(LEAST(GREATEST(lat, -{mlat}), {mlat})))
                                        * tan(radians(LEAST(GREATEST(lat, -{mlat}), {mlat})))
                                        + 1.0)) / pi())
                            / 2.0 * {float(n)!r}) AS BIGINT),
                                  0), {n - 1}) AS y
            FROM pts WHERE user_id IS NOT NULL
        ),
        h AS (SELECT x, y, md5(CAST(user_id AS VARCHAR)) AS d FROM cells),
        r0 AS (
            SELECT x, y,
                   CAST(CAST('0x' || substr(d, 1, {nib}) AS BIGINT) AS INT) AS reg,
                   regexp_replace(substr(d, {nib + 1}, 13), '^0+', '') AS s
            FROM h
        ),
        rr AS (
            SELECT x, y, reg,
                   CASE WHEN len(s) = 0 THEN 53
                        ELSE (13 - len(s)) * 4
                           + (CASE WHEN CAST('0x' || substr(s, 1, 1) AS INT) >= 8 THEN 0
                                   WHEN CAST('0x' || substr(s, 1, 1) AS INT) >= 4 THEN 1
                                   WHEN CAST('0x' || substr(s, 1, 1) AS INT) >= 2 THEN 2
                                   ELSE 3 END) + 1
                   END AS rho
            FROM r0
        ),
        regs AS (SELECT x, y, reg, MAX(rho) AS rho FROM rr GROUP BY 1, 2, 3),
        agg AS (
            SELECT x, y,
                   CAST(count(*) AS INT) AS m_used,
                   CAST(sum(CAST(1 AS BIGINT) << (53 - rho)) AS BIGINT) AS sp
            FROM regs GROUP BY x, y
        )
        SELECT x, y, m_used, CAST({m} - m_used AS INT) AS v_zero,
               {_hll_est_sql("m_used", "sp")} AS est_milli
        FROM agg
    """


def q_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 window × §2.10 raster composition: origin–destination flow
    matrix between z12 tiles (geo/odmatrix.py) — one user-keyed LAG
    window + one flow-keyed aggregate with exact distinct-user counts —
    vs a DuckDB LAG + tile-math replay."""
    _prep(spark)
    from osm_spark.geo.odmatrix import od_matrix

    return od_matrix(_od_pts(spark, sf_dir), z=_OD_Z)


def _tile_anomaly_oracle() -> str:
    """Replay of geo/anomaly.py at z12 over the OD point synth: same
    tile floor (ln-spelled asinh), zero-filled global day universe,
    identical closing float expression, 2σ cut on the quantized score."""
    n = float(1 << _OD_Z)
    m = 85.05112878
    ysql = (
        f"LEAST(GREATEST(CAST(floor((1.0 - ln(tan(radians(LEAST(GREATEST(lat, {-m!r}), {m!r})))"
        f" + sqrt(tan(radians(LEAST(GREATEST(lat, {-m!r}), {m!r})))"
        f" * tan(radians(LEAST(GREATEST(lat, {-m!r}), {m!r}))) + 1.0)) / pi())"
        f" / 2.0 * {n!r}) AS BIGINT), 0), {(1 << _OD_Z) - 1})"
    )
    return f"""
        WITH pts AS ({_od_pts_sql()}),
        cells AS (
            SELECT LEAST(GREATEST(CAST(floor((lon + 180.0) / 360.0 * {n!r})
                       AS BIGINT), 0), {(1 << _OD_Z) - 1}) AS x,
                   {ysql} AS y,
                   CAST(date_trunc('day', ts) AS DATE) AS day
            FROM pts
        ),
        counts AS (SELECT x, y, day, count(*) AS cnt
                   FROM cells GROUP BY x, y, day),
        days AS (SELECT DISTINCT day FROM counts),
        tiles AS (SELECT DISTINCT x, y FROM counts),
        filled AS (
            SELECT t.x, t.y, d.day, COALESCE(c.cnt, 0) AS cnt
            FROM tiles t CROSS JOIN days d
            LEFT JOIN counts c ON c.x = t.x AND c.y = t.y AND c.day = d.day
        ),
        stats AS (
            SELECT x, y, count(*) AS nn, CAST(sum(cnt) AS BIGINT) AS s,
                   CAST(sum(cnt * cnt) AS BIGINT) AS q
            FROM filled GROUP BY x, y
        ),
        scored AS (
            SELECT f.x, f.y, f.day, f.cnt,
                   CASE WHEN st.nn > 1
                             AND CAST(st.nn AS DOUBLE)
                                 * (CAST(st.nn AS DOUBLE) * CAST(st.q AS DOUBLE)
                                    - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE))
                                 / (CAST(st.nn AS DOUBLE) - 1.0) > 0
                        THEN CAST(round(
                             CAST(st.nn * f.cnt - st.s AS DOUBLE)
                             / sqrt(CAST(st.nn AS DOUBLE)
                                    * (CAST(st.nn AS DOUBLE) * CAST(st.q AS DOUBLE)
                                       - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE))
                                    / (CAST(st.nn AS DOUBLE) - 1.0))
                             * 1e6) AS BIGINT)
                   END AS z_micro
            FROM filled f JOIN stats st ON st.x = f.x AND st.y = f.y
        )
        SELECT x, y, day, cnt, z_micro
        FROM scored
        WHERE z_micro IS NOT NULL AND abs(z_micro) >= 2000000
    """


def q_tile_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile temporal anomaly detection (geo/anomaly.py): zero-filled
    per-tile day series, one-sample z-score from exact integer moments,
    2σ cut — vs a DuckDB full replay."""
    _prep(spark)
    from osm_spark.geo.anomaly import tile_anomalies

    return tile_anomalies(_od_pts(spark, sf_dir), z=_OD_Z, threshold_sigma=2.0)


_STAY_M = 3000.0
_STAY_MIN_DUR_S = 3600.0


def _stay_points_oracle() -> str:
    """Gaps-and-islands replay of geo/trips.py stay_points: same LAG
    haversine step, same move flag (step NULL or >= threshold), same
    running-sum episode ids, same epoch-microsecond duration filter."""
    stay_mm = int(round(_STAY_M * 1000.0))
    min_dur_us = int(round(_STAY_MIN_DUR_S * 1e6))
    return f"""
        WITH pts AS ({_od_pts_sql()}),
        lagd AS (
            SELECT user_id, ts, lat, lon,
                   LAG(lat) OVER w AS plat, LAG(lon) OVER w AS plon,
                   epoch_us(ts) AS ts_us,
                   CAST(round(lat * 1e7) AS BIGINT) AS lat_e7,
                   CAST(round(lon * 1e7) AS BIGINT) AS lon_e7,
                   event_id
            FROM pts
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        flags AS (
            SELECT user_id, ts, event_id, ts_us, lat_e7, lon_e7,
                   CASE WHEN plat IS NULL OR CAST(round(
                        2.0 * 6371000.0 * asin(sqrt(
                            pow(sin(radians(lat - plat) / 2.0), 2)
                          + cos(radians(plat)) * cos(radians(lat))
                            * pow(sin(radians(lon - plon) / 2.0), 2)))
                        * 1000.0) AS BIGINT) >= {stay_mm}
                        THEN 1 ELSE 0 END AS moved
            FROM lagd
        ),
        eps AS (
            SELECT user_id AS "user", ts_us, lat_e7, lon_e7,
                   CAST(SUM(moved) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS stay_id
            FROM flags
        )
        SELECT "user", stay_id,
               min(ts_us) AS t_start_us,
               max(ts_us) AS t_end_us,
               max(ts_us) - min(ts_us) AS dur_us,
               count(*) AS n_pings,
               CAST(sum(lat_e7) AS BIGINT) AS sum_lat_e7,
               CAST(sum(lon_e7) AS BIGINT) AS sum_lon_e7
        FROM eps
        GROUP BY "user", stay_id
        HAVING max(ts_us) - min(ts_us) >= {min_dur_us}
    """


def q_stay_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 window × §2.10 geo composition: stay-point (dwell episode)
    detection (geo/trips.py stay_points — Li et al. 2008 idiom as
    gaps-and-islands over one shared window spec) vs a DuckDB replay."""
    _prep(spark)
    from osm_spark.geo.trips import stay_points

    return stay_points(
        _od_pts(spark, sf_dir), stay_m=_STAY_M, min_dur_s=_STAY_MIN_DUR_S
    )


_SSSP_HOPS = 8


def _sssp_oracle(
    final_select: str = "SELECT id, dist FROM dists",
    reach_block: str | None = None,
) -> str:
    """Hop-bounded walk enumeration: after R Bellman-Ford rounds the
    engine holds min-over-walks-of-≤R-edges (graph/sssp.py docstring),
    which is EXACTLY the set this recursion enumerates — so the oracle
    is equivalence, not approximation. Weights are integer millimeters
    (same rounded haversine both sides); the recursion carries the hop
    count to stay finite on the ring cycles, and UNION dedup keeps the
    walk set polynomial. ``reach_block`` swaps the seed/recursion CTEs
    (the landmark oracle seeds per-landmark and keys dists on (id,
    landmark)); the edge fixture stays shared."""
    hav = (
        "CAST(round(2.0 * 6371000.0 * asin(sqrt("
        " pow(sin(radians({by} - {ay}) / 2.0), 2)"
        " + cos(radians({ay})) * cos(radians({by}))"
        " * pow(sin(radians({bx} - {ax}) / 2.0), 2))) * 1000.0) AS BIGINT)"
    )
    ring_w = hav.format(
        ay="vlat[CAST(i AS INT) + 1]", ax="vlon[CAST(i AS INT) + 1]",
        by="vlat[CAST((i + 1) % len(vlat) AS INT) + 1]",
        bx="vlon[CAST((i + 1) % len(vlat) AS INT) + 1]",
    )
    short_w = hav.format(ay="a.hlat", ax="a.hlon", by="b.hlat", bx="b.hlon")
    return f"""
        WITH RECURSIVE poly0(way_id, vlat, vlon) AS (VALUES
                {_polygons_values_sql()}),
        poly AS (
            SELECT CAST(way_id AS BIGINT) AS way_id,
                   CAST(vlat AS DOUBLE[]) AS vlat,
                   CAST(vlon AS DOUBLE[]) AS vlon
            FROM poly0
        ),
        verts AS (
            SELECT way_id, vlat, vlon, unnest(range(len(vlat))) AS i FROM poly
        ),
        ring_e AS (
            SELECT way_id * 100 + i AS src,
                   way_id * 100 + (i + 1) % len(vlat) AS dst,
                   {ring_w} AS w
            FROM verts
        ),
        heads AS (SELECT way_id, vlat[1] AS hlat, vlon[1] AS hlon FROM poly),
        short_e AS (
            SELECT a.way_id * 100 AS src, b.way_id * 100 AS dst, {short_w} AS w
            FROM heads a JOIN heads b ON b.way_id = a.way_id + 1
            WHERE (a.way_id - 1000) % 8 < 7
        ),
        edges AS (
            SELECT src, dst, w FROM ring_e
            UNION ALL SELECT dst, src, w FROM ring_e
            UNION ALL SELECT src, dst, w FROM short_e
            UNION ALL SELECT dst, src, w FROM short_e
        ),
        {reach_block if reach_block is not None else f'''
        reach(id, d, h) AS (
            SELECT way_id * 100, CAST(0 AS BIGINT), 0
            FROM poly WHERE (way_id - 1000) % 8 = 0
            UNION
            SELECT e.dst, reach.d + e.w, reach.h + 1
            FROM reach JOIN edges e ON e.src = reach.id
            WHERE reach.h < {_SSSP_HOPS}
        ),
        dists AS (SELECT id, MIN(d) AS dist FROM reach GROUP BY id)
        '''}
        {final_select}
    """


def _sssp_graph(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """(edges, sources) of the way-ring graph the SSSP family gates on:
    ring edges + per-city chain shortcuts between way heads, integer-
    millimeter haversine weights, one source vertex per city."""
    from osm_spark.geo.knn import haversine_m
    from osm_spark.pipeline.geometry import synth_polygons

    ways = synth_polygons(spark).select("way_id", "vlat", "vlon")
    nv = F.size("vlat")
    v = ways.select(
        "way_id", "vlat", "vlon", nv.alias("nv"),
        F.explode(F.sequence(F.lit(0), nv - 1)).alias("i"),
    )
    jx = (F.col("i") + 1) % F.col("nv")
    el = F.element_at
    ring_w = F.round(
        haversine_m(
            el("vlat", F.col("i") + 1), el("vlon", F.col("i") + 1),
            el("vlat", jx + 1), el("vlon", jx + 1),
        ) * 1000.0, 0,
    ).cast("long")
    ring_e = v.select(
        (F.col("way_id") * 100 + F.col("i")).alias("src"),
        (F.col("way_id") * 100 + jx).alias("dst"),
        ring_w.alias("w"),
    )
    heads = ways.select(
        "way_id", el("vlat", 1).alias("hlat"), el("vlon", 1).alias("hlon")
    )
    a, b = heads.alias("a"), heads.alias("b")
    short_e = (
        a.join(b, F.col("b.way_id") == F.col("a.way_id") + 1)
        .where((F.col("a.way_id") - 1000) % 8 < 7)
        .select(
            (F.col("a.way_id") * 100).alias("src"),
            (F.col("b.way_id") * 100).alias("dst"),
            F.round(
                haversine_m(
                    F.col("a.hlat"), F.col("a.hlon"),
                    F.col("b.hlat"), F.col("b.hlon"),
                ) * 1000.0, 0,
            ).cast("long").alias("w"),
        )
    )
    fwd = ring_e.unionByName(short_e)
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    sources = ways.where((F.col("way_id") - 1000) % 8 == 0).select(
        (F.col("way_id") * 100).alias("id")
    )
    return edges, sources


def q_sssp_waygraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph layer: bounded-hop Bellman-Ford SSSP (graph/sssp.py) over
    the way-ring graph (_sssp_graph), vs a DuckDB hop-bounded
    walk-enumeration oracle — an exact-equivalence gate for an
    iterative algorithm."""
    _prep(spark)
    from osm_spark.graph.sssp import shortest_paths

    edges, sources = _sssp_graph(spark)
    return shortest_paths(edges, sources, _SSSP_HOPS)


_REACH_BAND_MM = 20_000_000  # 20 km isochrone bands


def q_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isochrone reachability bands (graph/sssp.py reachability_zones):
    SSSP composed with integer distance banding — same walk-enumeration
    oracle, aggregated to (band, n_vertices, min_mm, max_mm)."""
    _prep(spark)
    from osm_spark.graph.sssp import reachability_zones

    edges, sources = _sssp_graph(spark)
    return reachability_zones(
        edges, sources, _SSSP_HOPS, band_mm=_REACH_BAND_MM
    )


# 4 landmark vertices spread across the way-id range (heads of ways
# 1000/1024/1048/1072 — three cities apart), the ALT-preprocessing k.
_LANDMARKS = [100000, 102400, 104800, 107200]


def _landmarks_oracle() -> str:
    """Same edge fixture and hop-bounded walk enumeration as
    ``_sssp_oracle``, seeded with ALL k landmarks and keyed on (id,
    landmark) — the exact-equivalence gate for the k-wide single-pass
    Bellman-Ford (graph/landmarks.py)."""
    seeds = ", ".join(f"(CAST({lm} AS BIGINT))" for lm in _LANDMARKS)
    return _sssp_oracle(
        final_select="SELECT id, landmark, dist_mm FROM dists",
        reach_block=f"""
        reach(lm, id, d, h) AS (
            SELECT lm, lm, CAST(0 AS BIGINT), 0
            FROM (VALUES {seeds}) s(lm)
            UNION
            SELECT reach.lm, e.dst, reach.d + e.w, reach.h + 1
            FROM reach JOIN edges e ON e.src = reach.id
            WHERE reach.h < {_SSSP_HOPS}
        ),
        dists AS (
            SELECT id, lm AS landmark, MIN(d) AS dist_mm
            FROM reach GROUP BY id, lm
        )
        """,
    )


def q_landmark_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALT landmark preprocessing (graph/landmarks.py): k=4 landmark
    distance columns advanced in ONE Bellman-Ford fixpoint (one edge
    join + one k-column min aggregate per round — not k SSSP jobs) over
    the way-ring graph, vs the multi-seed hop-bounded walk-enumeration
    DuckDB replay."""
    _prep(spark)
    from osm_spark.graph.landmarks import landmark_distances

    edges, _ = _sssp_graph(spark)
    return landmark_distances(edges, _LANDMARKS, _SSSP_HOPS)


def _scc_graph(spark: SparkSession) -> DataFrame:
    """Directed way-ring fixture for the SCC gate (3 ways per city to
    bound propagation depth): ring edges run ONE WAY around each ring
    (each ring = a directed cycle = one SCC), forward-only shortcuts
    chain the heads within a city (DAG links), and EVEN cities add one
    back edge head(w+2) → head(w) that merges the city's three rings
    into a single SCC — so the answer mixes merged-city SCCs, isolated
    ring SCCs and a nontrivial condensation chain."""
    from osm_spark.pipeline.geometry import synth_polygons

    ways = synth_polygons(spark, n_per_city=3)
    v = ways.select(
        "way_id",
        F.size("vlat").alias("nv"),
        F.explode(F.sequence(F.lit(0), F.size("vlat") - 1)).alias("i"),
    )
    ring_e = v.select(
        (F.col("way_id") * 100 + F.col("i")).alias("src"),
        (F.col("way_id") * 100 + (F.col("i") + 1) % F.col("nv")).alias("dst"),
    )
    heads = ways.select("way_id")
    short_e = heads.where((F.col("way_id") - 1000) % 3 < 2).select(
        (F.col("way_id") * 100).alias("src"),
        ((F.col("way_id") + 1) * 100).alias("dst"),
    )
    back_e = heads.where(
        ((F.col("way_id") - 1000) % 3 == 2)
        & (((F.col("way_id") - 1000) / 3).cast("long") % 2 == 0)
    ).select(
        (F.col("way_id") * 100).alias("src"),
        ((F.col("way_id") - 2) * 100).alias("dst"),
    )
    return ring_e.unionByName(short_e).unionByName(back_e)


def _scc_oracle() -> str:
    """Ground truth by definition: full transitive closure (recursive
    CTE, UNION-deduped so it terminates on cycles) over the same
    directed fixture, then scc(v) = min({v} ∪ {w : v ⇝ w ∧ w ⇝ v}) —
    a characterization completely independent of the engine's
    coloring algorithm."""
    return f"""
        WITH RECURSIVE poly0(way_id, vlat, vlon) AS (VALUES
                {_polygons_values_sql(n_per_city=3)}),
        poly AS (
            SELECT CAST(way_id AS BIGINT) AS way_id,
                   CAST(vlat AS DOUBLE[]) AS vlat
            FROM poly0
        ),
        verts AS (
            SELECT way_id, len(vlat) AS nv, unnest(range(len(vlat))) AS i
            FROM poly
        ),
        ring_e AS (
            SELECT way_id * 100 + i AS src,
                   way_id * 100 + (i + 1) % nv AS dst
            FROM verts
        ),
        short_e AS (
            SELECT way_id * 100 AS src, (way_id + 1) * 100 AS dst
            FROM poly WHERE (way_id - 1000) % 3 < 2
        ),
        back_e AS (
            SELECT way_id * 100 AS src, (way_id - 2) * 100 AS dst
            FROM poly
            WHERE (way_id - 1000) % 3 = 2 AND ((way_id - 1000) // 3) % 2 = 0
        ),
        edges AS (
            SELECT src, dst FROM ring_e
            UNION SELECT src, dst FROM short_e
            UNION SELECT src, dst FROM back_e
        ),
        reach(src, dst) AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
        ),
        vs AS (
            -- DISTINCT-over-UNION-ALL (a bare two-branch UNION CTE
            -- inside WITH RECURSIVE concatenates without dedup in
            -- DuckDB; the GROUP BY below used to mask the inflation)
            SELECT DISTINCT id FROM (
                SELECT src AS id FROM edges
                UNION ALL SELECT dst AS id FROM edges
            )
        ),
        mutual AS (
            SELECT r1.src AS id, r1.dst AS other
            FROM reach r1 JOIN reach r2
              ON r2.src = r1.dst AND r2.dst = r1.src
        )
        SELECT vs.id, LEAST(vs.id, COALESCE(MIN(m.other), vs.id)) AS scc
        FROM vs LEFT JOIN mutual m ON m.id = vs.id
        GROUP BY vs.id
    """


def _bowtie_oracle() -> str:
    """Same closure fixture as the SCC oracle, classified by
    definition: core = largest SCC (ties → min scc id), in = reaches
    the core, out = reachable from it, other = the rest."""
    base = _scc_oracle()
    head, final = base.rsplit("SELECT vs.id,", 1)
    return f"""{head}
        , sccs AS (
            SELECT vs.id, LEAST(vs.id, COALESCE(MIN(m.other), vs.id)) AS scc
            FROM vs LEFT JOIN mutual m ON m.id = vs.id
            GROUP BY vs.id
        ),
        core AS (
            SELECT scc FROM sccs GROUP BY scc
            ORDER BY count(*) DESC, scc ASC LIMIT 1
        ),
        core_members AS (
            SELECT id FROM sccs WHERE scc = (SELECT scc FROM core)
        )
        SELECT s.id, s.scc,
               CASE WHEN s.scc = (SELECT scc FROM core) THEN 'core'
                    WHEN EXISTS (SELECT 1 FROM reach r
                                 JOIN core_members cm ON cm.id = r.dst
                                 WHERE r.src = s.id) THEN 'in'
                    WHEN EXISTS (SELECT 1 FROM reach r
                                 JOIN core_members cm ON cm.id = r.src
                                 WHERE r.dst = s.id) THEN 'out'
                    ELSE 'other' END AS cls
        FROM sccs s
    """


def q_bowtie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph layer: Broder bowtie decomposition (graph/scc.py
    bowtie_classes) — core / in / out / other around the largest SCC,
    the classic web-structure analysis — via SCC + two sentinel-seeded
    reachability floods, vs the closure oracle classified by
    definition."""
    _prep(spark)
    from osm_spark.graph.scc import bowtie_classes

    return bowtie_classes(_scc_graph(spark))


def _condensation_oracle() -> str:
    """Same closure fixture: condensed edges from the by-definition
    SCC labels, then longest-path levels by walk enumeration over the
    (acyclic) condensation — every scc seeds at 0, each condensed edge
    extends a walk, MAX depth per scc; member counts ride along."""
    base = _scc_oracle()
    head, _ = base.rsplit("SELECT vs.id,", 1)
    return f"""{head}
        , sccs AS (
            SELECT vs.id, LEAST(vs.id, COALESCE(MIN(m.other), vs.id)) AS scc
            FROM vs LEFT JOIN mutual m ON m.id = vs.id
            GROUP BY vs.id
        ),
        cedges AS (
            SELECT DISTINCT sa.scc AS s, sb.scc AS t
            FROM edges e
            JOIN sccs sa ON sa.id = e.src
            JOIN sccs sb ON sb.id = e.dst
            WHERE sa.scc <> sb.scc
        ),
        lvl(s, d) AS (
            SELECT DISTINCT scc, 0 FROM sccs
            UNION
            SELECT c.t, l.d + 1 FROM lvl l JOIN cedges c ON c.s = l.s
        )
        SELECT l.s AS scc, CAST(MAX(l.d) AS BIGINT) AS level,
               mm.n_members
        FROM lvl l
        JOIN (SELECT scc, count(*) AS n_members FROM sccs GROUP BY scc) mm
          ON mm.scc = l.s
        GROUP BY l.s, mm.n_members
    """


def q_condensation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph layer: condensation depth strata (graph/scc.py
    condensation_levels) — SCC labels → condensed DAG → longest-path
    level per SCC via a max-relax fixpoint (the crawl-depth analysis),
    vs the closure oracle's walk-enumerated longest paths."""
    _prep(spark)
    from osm_spark.graph.scc import condensation_levels

    return condensation_levels(_scc_graph(spark))


def q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph layer: strongly connected components (graph/scc.py) — the
    web-bowtie primitive the undirected CC can't express — via
    forward/backward pointer-doubled min-coloring rounds, vs a DuckDB
    full-transitive-closure oracle (mutual-reachability by definition)
    over the directed way-ring fixture."""
    _prep(spark)
    from osm_spark.graph.scc import strongly_connected_components

    return strongly_connected_components(_scc_graph(spark))


_ISO_BUDGET_MM = 30_000_000  # 30 km isochrone budget


def _isochrone_hull_oracle() -> str:
    """Composition oracle chaining two proven blocks end-to-end: the
    multi-seed hop-bounded walk enumeration (the landmark_distances
    gate) filtered to the budget, positions decoded from the shared
    vertex-id scheme (id = way_id·100 + i), then the pair-certificate
    hull characterization (the convex_hull gate) per landmark over the
    micro-degree-quantized reached set — integer cross products, exact
    by construction."""
    seeds = ", ".join(f"(CAST({lm} AS BIGINT))" for lm in _LANDMARKS)
    reach_block = f"""
        reach(lm, id, d, h) AS (
            SELECT lm, lm, CAST(0 AS BIGINT), 0
            FROM (VALUES {seeds}) s(lm)
            UNION
            SELECT reach.lm, e.dst, reach.d + e.w, reach.h + 1
            FROM reach JOIN edges e ON e.src = reach.id
            WHERE reach.h < {_SSSP_HOPS}
        ),
        dists AS (
            SELECT id, lm AS landmark, MIN(d) AS dist_mm
            FROM reach GROUP BY id, lm
        ),
        pts AS (
            SELECT DISTINCT d.landmark,
                   CAST(round(p.vlon[CAST(d.id % 100 AS INT) + 1]
                        * 1000000.0) AS BIGINT) AS qx,
                   CAST(round(p.vlat[CAST(d.id % 100 AS INT) + 1]
                        * 1000000.0) AS BIGINT) AS qy
            FROM dists d JOIN poly p ON p.way_id = d.id // 100
            WHERE d.dist_mm <= {_ISO_BUDGET_MM}
        )
        """
    final_select = """
        SELECT DISTINCT p.landmark, p.qx, p.qy
        FROM pts p JOIN pts q
          ON q.landmark = p.landmark AND (q.qx <> p.qx OR q.qy <> p.qy)
        WHERE NOT EXISTS (
            SELECT 1 FROM pts r
            WHERE r.landmark = p.landmark
              AND (r.qx <> p.qx OR r.qy <> p.qy)
              AND (r.qx <> q.qx OR r.qy <> q.qy)
              AND ((q.qx - p.qx) * (r.qy - p.qy)
                   - (q.qy - p.qy) * (r.qx - p.qx)) <= 0
        )
    """
    return _sssp_oracle(final_select=final_select, reach_block=reach_block)


def q_isochrone_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph × geo composition, gated end-to-end: ALT landmark
    distances (graph/landmarks.py, one k-wide Bellman-Ford) → budget
    filter → vertex positions decoded from the way-ring id scheme →
    per-landmark distributed convex hull (geo/hull.py) — the isochrone
    polygon product ("everything within 30 km of each hub"). Oracle
    chains the same two proven blocks (walk enumeration + pair
    certificate) over the shared fixture."""
    _prep(spark)
    from osm_spark.geo.hull import convex_hull
    from osm_spark.graph.landmarks import landmark_distances
    from osm_spark.pipeline.geometry import synth_polygons

    edges, _ = _sssp_graph(spark)
    reached = landmark_distances(edges, _LANDMARKS, _SSSP_HOPS).where(
        F.col("dist_mm") <= _ISO_BUDGET_MM
    )
    verts = synth_polygons(spark).select(
        "way_id", F.posexplode("vlat").alias("i", "lat"), "vlon"
    ).select(
        (F.col("way_id") * 100 + F.col("i")).alias("id"),
        F.round(F.element_at("vlon", F.col("i") + 1) * 1e6)
        .cast("long")
        .alias("qx"),
        F.round(F.col("lat") * 1e6).cast("long").alias("qy"),
    )
    pts = reached.join(verts, "id").select(
        F.col("landmark").alias("grp"),
        F.col("qx").cast("double").alias("px"),
        F.col("qy").cast("double").alias("py"),
    )
    hull = convex_hull(pts)
    return hull.select(
        F.col("grp").cast("long").alias("landmark"),
        F.col("px").cast("long").alias("qx"),
        F.col("py").cast("long").alias("qy"),
    )


# stress needs MUTUALLY REACHABLE landmarks within the hop bound — the
# ALT landmarks sit three cities apart (unreachable in 8 hops, by
# design), so the stress gate uses four way-heads along ONE city's
# shortcut chain instead (ways 1000/1002/1004/1006: ≤ 6 hops apart)
_STRESS_LANDMARKS = [100000, 100200, 100400, 100600]


def _stress_oracle() -> str:
    """Walk enumeration WITH MULTIPLICITY (UNION ALL, hop-guarded):
    σ(s,v) = count of ≤H-hop walks from s to v achieving the minimum
    weight — positive weights make min-weight walks simple paths, so
    this is the path count by definition. Forward and backward counts
    over the shared edge fixture, then the integer stress sum with the
    same pair/endpoint exclusions as graph/stress.py."""
    seeds = ", ".join(f"(CAST({lm} AS BIGINT))" for lm in _STRESS_LANDMARKS)
    lms = ", ".join(str(lm) for lm in _STRESS_LANDMARKS)
    reach_block = f"""
        walkF(lm, id, d, h) AS (
            SELECT lm, lm, CAST(0 AS BIGINT), 0
            FROM (VALUES {seeds}) s(lm)
            UNION ALL
            SELECT w.lm, e.dst, w.d + e.w, w.h + 1
            FROM walkF w JOIN edges e ON e.src = w.id
            WHERE w.h < {_SSSP_HOPS}
        ),
        walkB(lm, id, d, h) AS (
            SELECT lm, lm, CAST(0 AS BIGINT), 0
            FROM (VALUES {seeds}) s(lm)
            UNION ALL
            SELECT w.lm, e.src, w.d + e.w, w.h + 1
            FROM walkB w JOIN edges e ON e.dst = w.id
            WHERE w.h < {_SSSP_HOPS}
        ),
        fstat AS (SELECT lm, id, MIN(d) AS dmin FROM walkF GROUP BY lm, id),
        bstat AS (SELECT lm, id, MIN(d) AS dmin FROM walkB GROUP BY lm, id),
        fsig AS (
            SELECT w.lm, w.id, f.dmin, CAST(COUNT(*) AS BIGINT) AS sig
            FROM walkF w
            JOIN fstat f ON f.lm = w.lm AND f.id = w.id AND w.d = f.dmin
            GROUP BY w.lm, w.id, f.dmin
        ),
        bsig AS (
            SELECT w.lm, w.id, b.dmin, CAST(COUNT(*) AS BIGINT) AS sig
            FROM walkB w
            JOIN bstat b ON b.lm = w.lm AND b.id = w.id AND w.d = b.dmin
            GROUP BY w.lm, w.id, b.dmin
        ),
        dmat AS (
            SELECT lm AS s, id AS t, dmin FROM fstat WHERE id IN ({lms})
        ),
        vall AS (
            -- DISTINCT-over-UNION-ALL, not bare UNION: inside a WITH
            -- RECURSIVE block DuckDB gives a two-branch UNION CTE the
            -- recursive concatenation semantics (no dedup)
            SELECT DISTINCT id FROM (
                SELECT src AS id FROM edges
                UNION ALL SELECT dst AS id FROM edges
            )
        ),
        stress AS (
            SELECT fs.id, SUM(fs.sig * bs.sig) AS st
            FROM fsig fs
            JOIN bsig bs ON bs.id = fs.id AND bs.lm <> fs.lm
            JOIN dmat dm ON dm.s = fs.lm AND dm.t = bs.lm
                        AND fs.dmin + bs.dmin = dm.dmin
            WHERE fs.id <> fs.lm AND fs.id <> bs.lm
            GROUP BY fs.id
        )
        """
    final_select = """
        SELECT v.id, CAST(COALESCE(st.st, 0) AS BIGINT) AS stress
        FROM vall v LEFT JOIN stress st ON st.id = v.id
    """
    return _sssp_oracle(final_select=final_select, reach_block=reach_block)


def q_landmark_stress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph layer: landmark stress centrality (graph/stress.py) — the
    integer betweenness surrogate (Shimbel): shortest-path counts
    through each vertex between all landmark pairs, via two k-wide
    Bellman-Ford distance passes + two shortest-path-DAG count
    fixpoints, vs a multiplicity-preserving walk-enumeration oracle."""
    _prep(spark)
    from osm_spark.graph.stress import landmark_stress

    edges, _ = _sssp_graph(spark)
    return landmark_stress(edges, _STRESS_LANDMARKS, _SSSP_HOPS)


_HOTSPOT_Z = 15


def _hotspot_oracle() -> str:
    """Full replay of the Gi* pipeline: same Web-Mercator tile floor as
    the tile_pyramid oracle (asinh spelled ln(t+sqrt(t²+1))), integer
    neighbor scatter, then the identical closing float expression. The
    gated statistic is micro-quantized (geo/hotspot.py docstring)."""
    n = 1 << _HOTSPOT_Z
    return f"""
        WITH pts AS ({_sql_points_oracle()}),
        clamped AS (
            SELECT LEAST(GREATEST(lat, -85.05112878), 85.05112878) AS lat, lon
            FROM pts
        ),
        t AS (
            SELECT LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * {n}.0)
                       AS BIGINT), 0), {n - 1}) AS x,
                   LEAST(GREATEST(CAST(FLOOR((1.0 - ln(tan(radians(lat))
                       + sqrt(tan(radians(lat)) * tan(radians(lat)) + 1.0))
                       / pi()) / 2.0 * {n}.0) AS BIGINT), 0), {n - 1}) AS y
            FROM clamped
        ),
        counts AS (SELECT x, y, count(*) AS cnt FROM t GROUP BY x, y),
        scattered AS (
            SELECT x + dx AS tx, y + dy AS ty, cnt
            FROM counts
            CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dx) a
            CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dy) b
        ),
        nbr AS (SELECT tx, ty, CAST(sum(cnt) AS BIGINT) AS g, count(*) AS w
                FROM scattered GROUP BY tx, ty),
        occ AS (
            SELECT c.x, c.y, c.cnt, n2.g, n2.w
            FROM counts c JOIN nbr n2 ON n2.tx = c.x AND n2.ty = c.y
        ),
        tot AS (SELECT count(*) AS n, sum(cnt) AS sx,
                        sum(cnt * cnt) AS sx2 FROM counts)
        SELECT x, y, cnt, w, g,
               CASE WHEN n > 1 AND
                         sqrt(CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE)
                              - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                                * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) > 0
                    THEN CAST(round(
                         (CAST(g AS DOUBLE)
                          - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
                            * CAST(w AS DOUBLE))
                         / (sqrt(CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE)
                                 - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                                   * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
                            * sqrt((CAST(n AS DOUBLE) * CAST(w AS DOUBLE)
                                    - CAST(w AS DOUBLE) * CAST(w AS DOUBLE))
                                   / (CAST(n AS DOUBLE) - 1.0)))
                         * 1e6) AS BIGINT)
               END AS z_micro
        FROM occ CROSS JOIN tot
    """


def _focal_oracle() -> str:
    """Integer-kernel scatter replay: same tile floor as the hotspot
    oracle, binomial 5×5 weights as a VALUES table, grouped by target,
    intersected back to occupied tiles. Pure integer arithmetic."""
    from osm_spark.geo.focal import BINOMIAL_5X5

    n = 1 << _HOTSPOT_Z
    kern = ", ".join(
        f"({dx}, {dy}, {w})" for (dx, dy), w in sorted(BINOMIAL_5X5.items())
    )
    return f"""
        WITH pts AS ({_sql_points_oracle()}),
        clamped AS (
            SELECT LEAST(GREATEST(lat, -85.05112878), 85.05112878) AS lat, lon
            FROM pts
        ),
        t AS (
            SELECT LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * {n}.0)
                       AS BIGINT), 0), {n - 1}) AS x,
                   LEAST(GREATEST(CAST(FLOOR((1.0 - ln(tan(radians(lat))
                       + sqrt(tan(radians(lat)) * tan(radians(lat)) + 1.0))
                       / pi()) / 2.0 * {n}.0) AS BIGINT), 0), {n - 1}) AS y
            FROM clamped
        ),
        counts AS (SELECT x, y, count(*) AS cnt FROM t GROUP BY x, y),
        kern(dx, dy, w) AS (VALUES {kern}),
        scattered AS (
            SELECT c.x + k.dx AS tx, c.y + k.dy AS ty, c.cnt * k.w AS contrib
            FROM counts c CROSS JOIN kern k
        ),
        conv AS (
            SELECT tx AS x, ty AS y, CAST(sum(contrib) AS BIGINT) AS focal
            FROM scattered GROUP BY tx, ty
        )
        SELECT conv.x, conv.y, conv.focal
        FROM conv JOIN counts USING (x, y)
    """


def q_focal_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 family: focal raster convolution (geo/focal.py) — binomial
    5×5 integer kernel scattered over the sparse z15 tile grid, occupied
    support — vs a DuckDB scatter replay. Exact integer output."""
    _prep(spark)
    from osm_spark.geo.focal import focal_sum
    from osm_spark.geo.hotspot import tile_count_grid

    grid = tile_count_grid(_sql_points(spark, sf_dir), _HOTSPOT_Z)
    return focal_sum(grid, keep="occupied")


def q_hotspot_gi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 family: Getis-Ord Gi* hotspot detection over the z15 tile
    raster (geo/hotspot.py) — tile counts → 9-way neighbor scatter →
    micro-quantized z-score — vs a DuckDB full replay (integer aggregates
    feed a bit-identical closing float expression)."""
    _prep(spark)
    from osm_spark.geo.hotspot import hotspot_gi

    return hotspot_gi(_sql_points(spark, sf_dir), _HOTSPOT_Z)


_KDE_Z, _KDE_R = 14, 2


def q_kde_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer Epanechnikov KDE heatmap (geo/kde.py): point-level kernel
    at 1/256-tile precision scattered over a 2-tile bandwidth, one
    combiner-reduced groupBy — vs a DuckDB full replay (the contour
    pipeline's pixel floor feeds pure-integer distance/weight sums)."""
    _prep(spark)
    from osm_spark.geo.kde import kde_density

    return kde_density(_sql_points(spark, sf_dir), _KDE_Z, radius=_KDE_R)


def _kde_oracle() -> str:
    """Full replay of kde_density: tile_pixel's Mercator floor (ln-spelled
    asinh, identical clamps), sub-cell integer positions, (2r+1)² offset
    scatter, w = R² − d² kept when positive, BIGINT sums."""
    z, r, ts = _KDE_Z, _KDE_R, 256
    n, nmax, half, r2 = 1 << z, (1 << z) - 1, 128, (2 * 256) ** 2
    clat = "LEAST(GREATEST(lat, -85.05112878), 85.05112878)"
    return f"""
        WITH pts AS ({_sql_points_oracle()}),
        fxy AS (
            SELECT (lon + 180.0) / 360.0 * {float(n)!r} AS fx,
                   (1.0 - ln(tan(radians({clat}))
                             + sqrt(tan(radians({clat})) * tan(radians({clat})) + 1.0))
                         / pi()) / 2.0 * {float(n)!r} AS fy
            FROM pts
        ), pix AS (
            SELECT LEAST(GREATEST(CAST(floor(fx) AS BIGINT), 0), {nmax}) AS cx,
                   LEAST(GREATEST(CAST(floor(fy) AS BIGINT), 0), {nmax}) AS cy,
                   fx, fy
            FROM fxy
        ), q AS (
            SELECT cx, cy,
                   cx * {ts} + LEAST(CAST(floor((fx - cx) * {ts}) AS BIGINT), {ts - 1}) AS qx,
                   cy * {ts} + LEAST(CAST(floor((fy - cy) * {ts}) AS BIGINT), {ts - 1}) AS qy
            FROM pix
        ), sc AS (
            SELECT cx + dx AS x, cy + dy AS y, qx, qy
            FROM q
            CROSS JOIN (SELECT unnest(range({-r}, {r + 1})) AS dx) od
            CROSS JOIN (SELECT unnest(range({-r}, {r + 1})) AS dy) oe
            WHERE cx + dx BETWEEN 0 AND {nmax}
              AND cy + dy BETWEEN 0 AND {nmax}
        ), wts AS (
            SELECT x, y,
                   {r2} - ((qx - (x * {ts} + {half})) * (qx - (x * {ts} + {half}))
                         + (qy - (y * {ts} + {half})) * (qy - (y * {ts} + {half}))) AS w
            FROM sc
        )
        SELECT {z} AS z, x, y, CAST(sum(w) AS BIGINT) AS kde
        FROM wts WHERE w > 0 GROUP BY x, y
    """


_DIS_Z = 15


def q_dissolve_landuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute dissolve over the tile raster (geo/dissolve.py): burn
    each way polygon to z15 tiles by center-in-polygon in Mercator space
    (exact half-integer centers, vertices transformed once), union per
    landuse class, 4-neighbourhood boundary flags — vs a DuckDB full
    replay of the identical transform + ray cast + neighbour join."""
    _prep(spark)
    from osm_spark.geo.dissolve import dissolve_raster
    from osm_spark.pipeline.geometry import synth_polygons

    return dissolve_raster(
        synth_polygons(spark), _DIS_Z, F.col("tags")["landuse"]
    )


def _dissolve_surface_cte() -> str:
    """Shared CTE chain (poly0 → … → surf): the per-class dissolved tile
    surface. The landuse class is a closed-form function of way_id
    (fixture k % 3 over k = (way_id−1000) % 8), vertices transform with
    the ln-spelled Mercator, the even-odd cast mirrors the PIP oracle's
    division-guarded crossing test against exact (x+0.5, y+0.5)."""
    z = _DIS_Z
    n, nmax = 1 << z, (1 << z) - 1
    m = "85.05112878"
    fy = (
        f"(1.0 - ln(tan(radians(LEAST(GREATEST(v, -{m}), {m})))"
        f" + sqrt(tan(radians(LEAST(GREATEST(v, -{m}), {m})))"
        f" * tan(radians(LEAST(GREATEST(v, -{m}), {m}))) + 1.0))"
        f" / pi()) / 2.0 * {float(n)!r}"
    )
    return f"""poly0(way_id, vlat, vlon) AS (VALUES
                {_polygons_values_sql()}),
        pc AS (
            SELECT CAST(way_id AS BIGINT) AS way_id,
                   (['residential', 'commercial', 'park'])
                       [CAST((way_id - 1000) % 8 % 3 AS INT) + 1] AS cls,
                   list_transform(CAST(vlon AS DOUBLE[]),
                       v -> (v + 180.0) / 360.0 * {float(n)!r}) AS fx,
                   list_transform(CAST(vlat AS DOUBLE[]), v -> {fy}) AS fy
            FROM poly0
        ),
        bb AS (
            SELECT way_id, cls, fx, fy, len(fx) AS nv,
                   LEAST(GREATEST(CAST(floor(list_min(fx)) AS BIGINT), 0), {nmax}) AS x0,
                   LEAST(GREATEST(CAST(floor(list_max(fx)) AS BIGINT), 0), {nmax}) AS x1,
                   LEAST(GREATEST(CAST(floor(list_min(fy)) AS BIGINT), 0), {nmax}) AS y0,
                   LEAST(GREATEST(CAST(floor(list_max(fy)) AS BIGINT), 0), {nmax}) AS y1
            FROM pc
        ),
        t1 AS (SELECT way_id, cls, y0, y1,
                      unnest(range(x0, x1 + 1)) AS x FROM bb),
        t2 AS (SELECT way_id, cls, x,
                      unnest(range(y0, y1 + 1)) AS y FROM t1),
        e AS (
            SELECT way_id,
                   fx[CAST(i AS INT) + 1] AS ax, fy[CAST(i AS INT) + 1] AS ay,
                   fx[CAST((i + 1) % nv AS INT) + 1] AS bx,
                   fy[CAST((i + 1) % nv AS INT) + 1] AS by
            FROM (SELECT way_id, fx, fy, nv,
                         unnest(range(nv)) AS i FROM bb)
        ),
        cr AS (
            SELECT t.cls, t.x, t.y, t.way_id,
                   SUM(CASE WHEN ((e.ay > t.y + 0.5) <> (e.by > t.y + 0.5))
                             AND t.x + 0.5 < (e.bx - e.ax) * (t.y + 0.5 - e.ay)
                                 / (CASE WHEN e.by - e.ay = 0
                                         THEN 1.0 ELSE e.by - e.ay END) + e.ax
                            THEN 1 ELSE 0 END) AS c
            FROM t2 t JOIN e ON e.way_id = t.way_id
            GROUP BY t.cls, t.x, t.y, t.way_id
        ),
        surf AS (SELECT DISTINCT cls, x, y FROM cr WHERE c % 2 = 1)
    """


def _dissolve_oracle() -> str:
    return f"""
        WITH {_dissolve_surface_cte()},
        nb AS (
            SELECT s.cls, s.x, s.y,
                   SUM(CASE WHEN p.x IS NOT NULL THEN 1 ELSE 0 END) AS n_in
            FROM (SELECT s0.*, o.dx, o.dy FROM surf s0
                  CROSS JOIN (VALUES (-1, 0), (1, 0), (0, -1), (0, 1)) AS o(dx, dy)) s
            LEFT JOIN surf p
              ON p.cls = s.cls AND p.x = s.x + s.dx AND p.y = s.y + s.dy
            GROUP BY s.cls, s.x, s.y
        )
        SELECT cls, x, y, (n_in < 4) AS boundary FROM nb
    """


def q_landuse_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-pair surface-overlap matrix (geo/dissolve.py class_overlap):
    tile-keyed self equi-join of the dissolved surfaces + exact integer
    counts, Jaccard as one rounded division — vs a DuckDB replay over
    the shared dissolve-surface CTE."""
    _prep(spark)
    from osm_spark.geo.dissolve import class_overlap
    from osm_spark.pipeline.geometry import synth_polygons

    return class_overlap(synth_polygons(spark), _DIS_Z, F.col("tags")["landuse"])


def _landuse_overlap_oracle() -> str:
    return f"""
        WITH {_dissolve_surface_cte()},
        tot AS (SELECT cls, count(*) AS n FROM surf GROUP BY cls),
        sh AS (
            SELECT a.cls AS cls_a, b.cls AS cls_b, count(*) AS n_shared
            FROM surf a JOIN surf b
              ON a.x = b.x AND a.y = b.y AND a.cls < b.cls
            GROUP BY 1, 2
        )
        SELECT cls_a, cls_b, ta.n AS n_a, tb.n AS n_b, n_shared,
               CAST(round(CAST(n_shared AS DOUBLE)
                          / CAST(ta.n + tb.n - n_shared AS DOUBLE) * 1e6, 0)
                    AS BIGINT) AS jaccard_micro
        FROM sh
        JOIN tot ta ON ta.cls = sh.cls_a
        JOIN tot tb ON tb.cls = sh.cls_b
    """


def q_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-count spatial autocorrelation for the categorical raster
    (geo/joincount.py, Cliff & Ord): rook BB/BW/WW joins per landuse
    class over the occupied-tile universe, free-sampling BB z-score —
    vs a DuckDB replay over the shared dissolve-surface CTE."""
    _prep(spark)
    from osm_spark.geo.joincount import join_counts
    from osm_spark.pipeline.geometry import synth_polygons

    return join_counts(synth_polygons(spark), _DIS_Z, F.col("tags")["landuse"])


def _join_counts_oracle() -> str:
    return f"""
        WITH {_dissolve_surface_cte()},
        univ AS (SELECT DISTINCT x, y FROM surf),
        nbr AS (
            SELECT u.x, u.y, u.x + o.dx AS nx, u.y + o.dy AS ny
            FROM univ u CROSS JOIN (VALUES (1, 0), (0, 1)) AS o(dx, dy)
            JOIN univ v ON v.x = u.x + o.dx AND v.y = u.y + o.dy
        ),
        deg AS (
            SELECT dx_, dy_, count(*) AS deg FROM (
                SELECT x AS dx_, y AS dy_ FROM nbr
                UNION ALL SELECT nx, ny FROM nbr
            ) GROUP BY 1, 2
        ),
        stats AS (
            SELECT (SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT) FROM deg) AS kk,
                   (SELECT count(*) FROM nbr) AS jj,
                   (SELECT count(*) FROM univ) AS n_total
        ),
        classes AS (SELECT DISTINCT cls FROM surf),
        jc AS (
            SELECT c.cls,
                   CASE WHEN sa.x IS NOT NULL THEN 1 ELSE 0 END AS a,
                   CASE WHEN sb.x IS NOT NULL THEN 1 ELSE 0 END AS b
            FROM classes c CROSS JOIN nbr p
            LEFT JOIN surf sa ON sa.cls = c.cls AND sa.x = p.x AND sa.y = p.y
            LEFT JOIN surf sb ON sb.cls = c.cls AND sb.x = p.nx AND sb.y = p.ny
        ),
        counts AS (
            SELECT cls,
                   CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bb,
                   CAST(sum(CASE WHEN a <> b THEN 1 ELSE 0 END) AS BIGINT) AS bw,
                   CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ww
            FROM jc GROUP BY cls
        ),
        nb AS (SELECT cls, count(*) AS n_b FROM surf GROUP BY cls)
        SELECT c.cls, nb.n_b, s.n_total, c.bb, c.bw, c.ww,
               CASE WHEN (CAST(s.jj AS DOUBLE) * pb * pb
                          + 2.0 * CAST(s.kk AS DOUBLE) * pb * pb * pb
                          - (CAST(s.jj AS DOUBLE) + 2.0 * CAST(s.kk AS DOUBLE))
                            * (pb * pb * pb * pb)) > 0
                    THEN CAST(round(
                        (CAST(c.bb AS DOUBLE) - CAST(s.jj AS DOUBLE) * pb * pb)
                        / sqrt(CAST(s.jj AS DOUBLE) * pb * pb
                               + 2.0 * CAST(s.kk AS DOUBLE) * pb * pb * pb
                               - (CAST(s.jj AS DOUBLE) + 2.0 * CAST(s.kk AS DOUBLE))
                                 * (pb * pb * pb * pb)) * 1000.0, 0) AS BIGINT)
               END AS z_bb_milli
        FROM counts c
        JOIN nb ON nb.cls = c.cls
        CROSS JOIN stats s
        CROSS JOIN LATERAL (SELECT CAST(nb.n_b AS DOUBLE)
                                   / CAST(s.n_total AS DOUBLE) AS pb) t
    """


_BUF_R = 2


def q_buffer_landuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIS buffer as morphological dilation (geo/dissolve.py
    buffer_raster): per-class dissolved surface dilated by an integer
    Euclidean tile disk, core vs ring flagged — vs a DuckDB replay of
    the burn + disk scatter + core join."""
    _prep(spark)
    from osm_spark.geo.dissolve import buffer_raster
    from osm_spark.pipeline.geometry import synth_polygons

    return buffer_raster(
        synth_polygons(spark), _DIS_Z, _BUF_R, F.col("tags")["landuse"]
    )


def _buffer_oracle() -> str:
    z, r = _DIS_Z, _BUF_R
    nmax = (1 << z) - 1
    disk = ", ".join(
        f"({dx}, {dy})"
        for dx in range(-r, r + 1)
        for dy in range(-r, r + 1)
        if dx * dx + dy * dy <= r * r
    )
    return f"""
        WITH {_dissolve_surface_cte()},
        dil AS (
            SELECT DISTINCT s.cls, s.x + o.dx AS x, s.y + o.dy AS y
            FROM surf s CROSS JOIN (VALUES {disk}) AS o(dx, dy)
            WHERE s.x + o.dx BETWEEN 0 AND {nmax}
              AND s.y + o.dy BETWEEN 0 AND {nmax}
        )
        SELECT d.cls, d.x, d.y, (c.x IS NOT NULL) AS in_core
        FROM dil d LEFT JOIN surf c
          ON c.cls = d.cls AND c.x = d.x AND c.y = d.y
    """


_VOR_Z = 14


def q_voronoi_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete Voronoi catchment map (geo/voronoi.py): occupied z14
    tiles argmin-assigned to the nearest amenity node in the integer
    Mercator grid metric — vs a DuckDB brute-force argmin replay."""
    _prep(spark)
    from osm_spark.geo.voronoi import voronoi_regions
    from osm_spark.pipeline.geometry import synth_nodes

    return voronoi_regions(_sql_points(spark, sf_dir), synth_nodes(spark), _VOR_Z)


def _voronoi_oracle() -> str:
    """Full replay: tile_pixel floors for both sides, integer squared
    distances, row_number argmin with the (d2, seed_id) tie-break."""
    z, ts = _VOR_Z, 256
    n, nmax, half = 1 << z, (1 << z) - 1, 128
    clat = "LEAST(GREATEST(lat, -85.05112878), 85.05112878)"
    nclat = "LEAST(GREATEST(nlat, -85.05112878), 85.05112878)"
    return f"""
        WITH pts AS ({_sql_points_oracle()}),
        fxy AS (
            SELECT (lon + 180.0) / 360.0 * {float(n)!r} AS fx,
                   (1.0 - ln(tan(radians({clat}))
                             + sqrt(tan(radians({clat})) * tan(radians({clat})) + 1.0))
                         / pi()) / 2.0 * {float(n)!r} AS fy
            FROM pts
        ), tiles AS (
            SELECT DISTINCT
                   LEAST(GREATEST(CAST(floor(fx) AS BIGINT), 0), {nmax}) AS x,
                   LEAST(GREATEST(CAST(floor(fy) AS BIGINT), 0), {nmax}) AS y
            FROM fxy
        ), nodes0(node_id, nlat, nlon) AS (VALUES
                {_nodes_values_sql()}),
        nfxy AS (
            SELECT CAST(node_id AS BIGINT) AS seed_id,
                   (CAST(nlon AS DOUBLE) + 180.0) / 360.0 * {float(n)!r} AS fx,
                   (1.0 - ln(tan(radians({nclat}))
                             + sqrt(tan(radians({nclat})) * tan(radians({nclat})) + 1.0))
                         / pi()) / 2.0 * {float(n)!r} AS fy
            FROM (SELECT node_id, CAST(nlat AS DOUBLE) AS nlat,
                         CAST(nlon AS DOUBLE) AS nlon FROM nodes0)
        ), seeds AS (
            SELECT seed_id, sx, sy,
                   sx * {ts} + LEAST(CAST(floor((fx - sx) * {ts}) AS BIGINT), {ts - 1}) AS sqx,
                   sy * {ts} + LEAST(CAST(floor((fy - sy) * {ts}) AS BIGINT), {ts - 1}) AS sqy
            FROM (SELECT seed_id, fx, fy,
                         LEAST(GREATEST(CAST(floor(fx) AS BIGINT), 0), {nmax}) AS sx,
                         LEAST(GREATEST(CAST(floor(fy) AS BIGINT), 0), {nmax}) AS sy
                  FROM nfxy)
        ), d AS (
            SELECT t.x, t.y, s.seed_id,
                   (t.x * {ts} + {half} - s.sqx) * (t.x * {ts} + {half} - s.sqx)
                 + (t.y * {ts} + {half} - s.sqy) * (t.y * {ts} + {half} - s.sqy) AS d2
            FROM tiles t CROSS JOIN seeds s
        )
        SELECT {z} AS z, x, y, seed_id, d2 FROM (
            SELECT *, row_number() OVER (PARTITION BY x, y
                       ORDER BY d2 ASC, seed_id ASC) AS rn
            FROM d
        ) WHERE rn = 1
    """


_TREND_Z = 14


def q_trend_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order trend surface + residual map (geo/trend.py): Cramer
    integer determinants in decimal(38,0), one closing float divide —
    vs a DuckDB HUGEINT full replay."""
    _prep(spark)
    from osm_spark.geo.trend import trend_surface

    return trend_surface(_sql_points(spark, sf_dir), _TREND_Z)


def _trend_oracle() -> str:
    """HUGEINT replay of the nine sums, four determinants, exact integer
    residual numerators and the single pinned float round."""
    z = _TREND_Z
    n, nmax = 1 << z, (1 << z) - 1
    clat = "LEAST(GREATEST(lat, -85.05112878), 85.05112878)"
    return f"""
        WITH pts AS ({_sql_points_oracle()}),
        t AS (
            SELECT LEAST(GREATEST(CAST(floor((lon + 180.0) / 360.0 * {float(n)!r})
                       AS BIGINT), 0), {nmax}) AS x,
                   LEAST(GREATEST(CAST(floor((1.0 - ln(tan(radians({clat}))
                             + sqrt(tan(radians({clat})) * tan(radians({clat})) + 1.0))
                         / pi()) / 2.0 * {float(n)!r}) AS BIGINT), 0), {nmax}) AS y
            FROM pts
        ),
        g AS (SELECT x, y, count(*) AS cnt FROM t GROUP BY x, y),
        s AS (
            SELECT CAST(count(*) AS HUGEINT) AS s0,
                   CAST(sum(x) AS HUGEINT) AS su,
                   CAST(sum(y) AS HUGEINT) AS sv,
                   CAST(sum(x * x) AS HUGEINT) AS suu,
                   CAST(sum(x * y) AS HUGEINT) AS suv,
                   CAST(sum(y * y) AS HUGEINT) AS svv,
                   CAST(sum(cnt) AS HUGEINT) AS sc,
                   CAST(sum(cnt * x) AS HUGEINT) AS scu,
                   CAST(sum(cnt * y) AS HUGEINT) AS scv
            FROM g
        ),
        d AS (
            SELECT s0 * (suu * svv - suv * suv)
                 - su * (su * svv - suv * sv)
                 + sv * (su * suv - suu * sv) AS dd,
                   sc * (suu * svv - suv * suv)
                 - su * (scu * svv - suv * scv)
                 + sv * (scu * suv - suu * scv) AS da,
                   s0 * (scu * svv - suv * scv)
                 - sc * (su * svv - suv * sv)
                 + sv * (su * scv - scu * sv) AS db,
                   s0 * (suu * scv - scu * suv)
                 - su * (su * scv - scu * sv)
                 + sc * (su * suv - suu * sv) AS dc
            FROM s
        )
        SELECT {z} AS z, g.x, g.y, g.cnt,
               CASE WHEN d.dd <> 0 THEN
                   CAST(round(CAST(CAST(g.cnt AS HUGEINT) * d.dd - d.da
                                   - d.db * CAST(g.x AS HUGEINT)
                                   - d.dc * CAST(g.y AS HUGEINT) AS DOUBLE)
                              / CAST(d.dd AS DOUBLE) * 1e6, 0) AS BIGINT)
               ELSE NULL END AS resid_micro
        FROM g CROSS JOIN d
    """


def _morans_oracle() -> str:
    """Full replay of global Moran's I (geo/moran.py): same tile floor
    as the hotspot oracle, 8-offset scatter (self excluded), LEFT join
    so isolated tiles keep w = 0, HUGEINT cross/den sums (the decimal
    analog of Spark's decimal(38,0)), identical closing float ops."""
    n = 1 << _HOTSPOT_Z
    return f"""
        WITH pts AS ({_sql_points_oracle()}),
        clamped AS (
            SELECT LEAST(GREATEST(lat, -85.05112878), 85.05112878) AS lat, lon
            FROM pts
        ),
        t AS (
            SELECT LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * {n}.0)
                       AS BIGINT), 0), {n - 1}) AS x,
                   LEAST(GREATEST(CAST(FLOOR((1.0 - ln(tan(radians(lat))
                       + sqrt(tan(radians(lat)) * tan(radians(lat)) + 1.0))
                       / pi()) / 2.0 * {n}.0) AS BIGINT), 0), {n - 1}) AS y
            FROM clamped
        ),
        counts AS (SELECT x, y, count(*) AS cnt FROM t GROUP BY x, y),
        offs(dx, dy) AS (VALUES (-1,-1), (-1,0), (-1,1), (0,-1), (0,1),
                                (1,-1), (1,0), (1,1)),
        scattered AS (
            SELECT c.x + o.dx AS tx, c.y + o.dy AS ty, c.cnt
            FROM counts c CROSS JOIN offs o
        ),
        nbr AS (SELECT tx, ty, CAST(sum(cnt) AS BIGINT) AS nbr_sum,
                       count(*) AS w
                FROM scattered GROUP BY tx, ty),
        occ AS (
            SELECT c.cnt,
                   coalesce(n2.nbr_sum, 0) AS nbr_sum,
                   coalesce(n2.w, 0) AS w
            FROM counts c LEFT JOIN nbr n2 ON n2.tx = c.x AND n2.ty = c.y
        ),
        tot AS (SELECT count(*) AS n, CAST(sum(cnt) AS BIGINT) AS sx
                FROM counts),
        parts AS (
            SELECT any_value(n) AS n_cells,
                   CAST(sum(w) AS BIGINT) AS w_pairs,
                   sum(CAST(n * cnt - sx AS HUGEINT)
                       * CAST(n * nbr_sum - w * sx AS HUGEINT)) AS cross_dl,
                   sum(CAST(n * cnt - sx AS HUGEINT)
                       * CAST(n * cnt - sx AS HUGEINT)) AS den
            FROM occ CROSS JOIN tot
        )
        SELECT n_cells, w_pairs,
               CASE WHEN n_cells > 1 AND den > 0 AND w_pairs > 0
                    THEN CAST(round(
                         (CAST(n_cells AS DOUBLE) * CAST(cross_dl AS DOUBLE))
                         / (CAST(w_pairs AS DOUBLE) * CAST(den AS DOUBLE))
                         * 1e6) AS BIGINT)
               END AS i_micro,
               CASE WHEN n_cells > 1
                    THEN CAST(round(-1e6 / (CAST(n_cells AS DOUBLE) - 1.0))
                              AS BIGINT)
               END AS e_i_micro
        FROM parts
    """


def _gearys_oracle() -> str:
    """Full replay of global Geary's C (geo/moran.py gearys_c): same
    tile floor / scatter / LEFT join as the Moran oracle plus the
    neighbor count² sum, HUGEINT num/den, identical closing float op
    order ((N−1)·N²·num / (2W·den), multiply-then-divide)."""
    n = 1 << _HOTSPOT_Z
    return f"""
        WITH pts AS ({_sql_points_oracle()}),
        clamped AS (
            SELECT LEAST(GREATEST(lat, -85.05112878), 85.05112878) AS lat, lon
            FROM pts
        ),
        t AS (
            SELECT LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * {n}.0)
                       AS BIGINT), 0), {n - 1}) AS x,
                   LEAST(GREATEST(CAST(FLOOR((1.0 - ln(tan(radians(lat))
                       + sqrt(tan(radians(lat)) * tan(radians(lat)) + 1.0))
                       / pi()) / 2.0 * {n}.0) AS BIGINT), 0), {n - 1}) AS y
            FROM clamped
        ),
        counts AS (SELECT x, y, count(*) AS cnt FROM t GROUP BY x, y),
        offs(dx, dy) AS (VALUES (-1,-1), (-1,0), (-1,1), (0,-1), (0,1),
                                (1,-1), (1,0), (1,1)),
        scattered AS (
            SELECT c.x + o.dx AS tx, c.y + o.dy AS ty, c.cnt
            FROM counts c CROSS JOIN offs o
        ),
        nbr AS (SELECT tx, ty, CAST(sum(cnt) AS BIGINT) AS nbr_sum,
                       sum(CAST(cnt AS HUGEINT) * cnt) AS nbr_sq,
                       count(*) AS w
                FROM scattered GROUP BY tx, ty),
        occ AS (
            SELECT c.cnt,
                   coalesce(n2.nbr_sum, 0) AS nbr_sum,
                   coalesce(n2.nbr_sq, 0) AS nbr_sq,
                   coalesce(n2.w, 0) AS w
            FROM counts c LEFT JOIN nbr n2 ON n2.tx = c.x AND n2.ty = c.y
        ),
        tot AS (SELECT count(*) AS n, CAST(sum(cnt) AS BIGINT) AS sx
                FROM counts),
        parts AS (
            SELECT any_value(n) AS n_cells,
                   CAST(sum(w) AS BIGINT) AS w_pairs,
                   sum(CAST(w AS HUGEINT) * cnt * cnt
                       - CAST(2 AS HUGEINT) * cnt * nbr_sum
                       + nbr_sq) AS num,
                   sum(CAST(n * cnt - sx AS HUGEINT)
                       * CAST(n * cnt - sx AS HUGEINT)) AS den
            FROM occ CROSS JOIN tot
        )
        SELECT n_cells, w_pairs,
               CASE WHEN n_cells > 1 AND den > 0 AND w_pairs > 0
                    THEN CAST(round(
                         (CAST(n_cells AS DOUBLE) - 1.0)
                         * CAST(n_cells AS DOUBLE)
                         * CAST(n_cells AS DOUBLE)
                         * CAST(num AS DOUBLE)
                         / (2.0 * CAST(w_pairs AS DOUBLE)
                            * CAST(den AS DOUBLE))
                         * 1e6) AS BIGINT)
               END AS c_micro,
               CASE WHEN n_cells > 1 THEN CAST(1000000 AS BIGINT)
               END AS e_c_micro
        FROM parts
    """


def q_morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 family: global Moran's I spatial autocorrelation over the
    z15 tile raster (geo/moran.py) — integer cross/den sums from the
    N²-cancelled deviation form, one closing float expression,
    micro-quantized — vs a DuckDB full replay."""
    _prep(spark)
    from osm_spark.geo.moran import morans_i

    return morans_i(_sql_points(spark, sf_dir), _HOTSPOT_Z)


def q_local_morans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISA — local Moran's I per occupied z15 tile (geo/moran.py
    local_morans_i): same N²-cancelled integer forms as the global
    statistic, one closing float per tile, HH/LL/HL/LH quadrant labels
    — WHICH tiles cluster, pairing with hotspot_gi's Gi*. Full DuckDB
    replay."""
    _prep(spark)
    from osm_spark.geo.moran import local_morans_i

    return local_morans_i(_sql_points(spark, sf_dir), _HOTSPOT_Z)


def _local_morans_oracle() -> str:
    n = 1 << _HOTSPOT_Z
    return f"""
        WITH pts AS ({_sql_points_oracle()}),
        clamped AS (
            SELECT LEAST(GREATEST(lat, -85.05112878), 85.05112878) AS lat, lon
            FROM pts
        ),
        t AS (
            SELECT LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * {n}.0)
                       AS BIGINT), 0), {n - 1}) AS x,
                   LEAST(GREATEST(CAST(FLOOR((1.0 - ln(tan(radians(lat))
                       + sqrt(tan(radians(lat)) * tan(radians(lat)) + 1.0))
                       / pi()) / 2.0 * {n}.0) AS BIGINT), 0), {n - 1}) AS y
            FROM clamped
        ),
        counts AS (SELECT x, y, count(*) AS cnt FROM t GROUP BY x, y),
        offs(dx, dy) AS (VALUES (-1,-1), (-1,0), (-1,1), (0,-1), (0,1),
                                (1,-1), (1,0), (1,1)),
        scattered AS (
            SELECT c.x + o.dx AS tx, c.y + o.dy AS ty, c.cnt
            FROM counts c CROSS JOIN offs o
        ),
        nbr AS (SELECT tx, ty, CAST(sum(cnt) AS BIGINT) AS nbr_sum,
                       count(*) AS w
                FROM scattered GROUP BY tx, ty),
        occ AS (
            SELECT c.x, c.y, c.cnt,
                   coalesce(n2.nbr_sum, 0) AS nbr_sum,
                   coalesce(n2.w, 0) AS w
            FROM counts c LEFT JOIN nbr n2 ON n2.tx = c.x AND n2.ty = c.y
        ),
        tot AS (SELECT count(*) AS n, CAST(sum(cnt) AS BIGINT) AS sx
                FROM counts),
        wd AS (
            SELECT x, y, cnt, w, n,
                   CAST(n * cnt - sx AS HUGEINT) AS d,
                   CAST(n * nbr_sum - w * sx AS HUGEINT) AS lag
            FROM occ CROSS JOIN tot
        ),
        den AS (SELECT sum(d * d) AS den FROM wd)
        SELECT x, y, cnt, w,
               CASE WHEN den > 0 AND w > 0 AND n > 1
                    THEN CAST(round(
                         CAST(n AS DOUBLE) * CAST(d * lag AS DOUBLE)
                         / CAST(den AS DOUBLE) * 1e6) AS BIGINT)
               END AS ii_micro,
               CASE WHEN NOT (den > 0 AND w > 0 AND n > 1) THEN NULL
                    WHEN d > 0 AND lag > 0 THEN 'HH'
                    WHEN d < 0 AND lag < 0 THEN 'LL'
                    WHEN d > 0 AND lag < 0 THEN 'HL'
                    WHEN d < 0 AND lag > 0 THEN 'LH'
               END AS quadrant
        FROM wd CROSS JOIN den
    """


def q_std_ellipse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard deviational ellipse per city cluster (geo/ellipse.py
    std_ellipse): e7-quantized integer moments in decimal/HUGEINT, one
    closing IEEE eigen decomposition — orientation emitted as the
    micro-quantized (sin 2θ, cos 2θ) pair (NO atan2: libm-free by
    design, the orientation.py precedent). Full DuckDB replay."""
    _prep(spark)
    from osm_spark.geo.ellipse import std_ellipse

    pts = _sql_points(spark, sf_dir).select(
        (F.col("url").cast("long") % 10).alias("city"), "lat", "lon"
    )
    return std_ellipse(pts, group_cols=["city"])


def _std_ellipse_oracle() -> str:
    return f"""
        WITH pts AS ({_sql_points_oracle()}),
        q AS (
            SELECT point_id % 10 AS city,
                   CAST(round(lon * 1e7) AS HUGEINT) AS x,
                   CAST(round(lat * 1e7) AS HUGEINT) AS y
            FROM pts
        ),
        sums AS (
            SELECT city, count(*) AS n,
                   sum(x) AS sx, sum(y) AS sy,
                   sum(x * x) AS sxx, sum(y * y) AS syy,
                   sum(x * y) AS sxy
            FROM q GROUP BY city
        ),
        m AS (
            SELECT city, n,
                   CAST(sy // n AS BIGINT) AS mean_lat_e7,
                   CAST(sx // n AS BIGINT) AS mean_lon_e7,
                   n * sxx - sx * sx AS cxx,
                   n * syy - sy * sy AS cyy,
                   n * sxy - sx * sy AS cxy
            FROM sums
        ),
        e AS (
            SELECT *,
                   CAST(2 * cxy AS DOUBLE) AS numd,
                   CAST(cxx - cyy AS DOUBLE) AS dend,
                   sqrt(CAST(cxx - cyy AS DOUBLE) * CAST(cxx - cyy AS DOUBLE)
                        + 4.0 * CAST(cxy AS DOUBLE) * CAST(cxy AS DOUBLE))
                       AS disc,
                   CAST(n AS DOUBLE) AS nd
            FROM m
        )
        SELECT city, n, mean_lat_e7, mean_lon_e7,
               CASE WHEN n >= 3
                         AND sqrt(numd * numd + dend * dend) > 0
                    THEN CAST(floor(1000000.0
                         * (numd / sqrt(numd * numd + dend * dend)))
                         AS BIGINT) END AS sin2t_micro,
               CASE WHEN n >= 3
                         AND sqrt(numd * numd + dend * dend) > 0
                    THEN CAST(floor(1000000.0
                         * (dend / sqrt(numd * numd + dend * dend)))
                         AS BIGINT) END AS cos2t_micro,
               CASE WHEN n >= 3 THEN CAST(floor(sqrt(greatest(
                    (CAST(cxx AS DOUBLE) + CAST(cyy AS DOUBLE) + disc) / 2.0,
                    0.0) / (nd * nd * nd)) / 10.0) AS BIGINT)
               END AS major_micro,
               CASE WHEN n >= 3 THEN CAST(floor(sqrt(greatest(
                    (CAST(cxx AS DOUBLE) + CAST(cyy AS DOUBLE) - disc) / 2.0,
                    0.0) / (nd * nd * nd)) / 10.0) AS BIGINT)
               END AS minor_micro
        FROM e
    """


_EMERGING_Z = 11


def q_emerging_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Space-time-cube emerging-hotspot analysis (geo/emerging.py):
    event positions (the geofence arithmetic) → z11 tile × daily-bucket
    cube (dense over the global range) → per-tile Mann-Kendall with
    tie correction → heating/cooling at |z| > 1.96. Integer S/var18,
    one closing float — full DuckDB replay including the pair join."""
    _prep(spark)
    from osm_spark.geo.emerging import emerging_hotspots
    from osm_spark.pipeline.pages import CITIES

    ev = _t(spark, sf_dir, "events")
    did = F.col("event_id")
    city = (did % 10).cast("int")
    clat = F.element_at(F.array(*[F.lit(x[1]) for x in CITIES]), city + 1)
    clon = F.element_at(F.array(*[F.lit(x[2]) for x in CITIES]), city + 1)
    lat = clat + (did * 2654435761 % 2001 - 1000) / 1000.0 * _SQL_PT_SPREAD
    lon = clon + (did * 40503 % 2001 - 1000) / 1000.0 * _SQL_PT_SPREAD
    pts = ev.select("ts", lat.alias("lat"), lon.alias("lon"))
    return emerging_hotspots(pts, _EMERGING_Z, width_s=86400)


def _emerging_oracle() -> str:
    n = 1 << _EMERGING_Z
    from osm_spark.pipeline.pages import CITIES

    lats = ", ".join(repr(float(x[1])) for x in CITIES)
    lons = ", ".join(repr(float(x[2])) for x in CITIES)
    sp = repr(float(_SQL_PT_SPREAD))
    return f"""
        WITH pts AS (
            SELECT ts,
                   ([{lats}])[CAST(event_id % 10 AS INT) + 1]
                     + (event_id * 2654435761 % 2001 - 1000) / 1000.0 * {sp} AS lat,
                   ([{lons}])[CAST(event_id % 10 AS INT) + 1]
                     + (event_id * 40503 % 2001 - 1000) / 1000.0 * {sp} AS lon
            FROM events
        ),
        clamped AS (
            SELECT LEAST(GREATEST(lat, -85.05112878), 85.05112878) AS lat,
                   lon, ts
            FROM pts
        ),
        t AS (
            SELECT LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * {n}.0)
                       AS BIGINT), 0), {n - 1}) AS x,
                   LEAST(GREATEST(CAST(FLOOR((1.0 - ln(tan(radians(lat))
                       + sqrt(tan(radians(lat)) * tan(radians(lat)) + 1.0))
                       / pi()) / 2.0 * {n}.0) AS BIGINT), 0), {n - 1}) AS y,
                   epoch_us(ts) // 86400000000 AS bucket
            FROM clamped
        ),
        counts AS (SELECT x, y, bucket, count(*) AS cnt
                   FROM t GROUP BY x, y, bucket),
        rng AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM counts),
        tiles AS (SELECT DISTINCT x, y FROM counts),
        grid AS (
            SELECT x, y, unnest(generate_series(lo, hi)) AS bucket
            FROM tiles CROSS JOIN rng
        ),
        cube AS (
            SELECT g.x, g.y, g.bucket,
                   CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
            FROM grid g LEFT JOIN counts c USING (x, y, bucket)
        ),
        s AS (
            SELECT a.x, a.y,
                   CAST(sum(CASE WHEN b.cnt > a.cnt THEN 1
                                 WHEN b.cnt < a.cnt THEN -1 ELSE 0 END)
                        AS BIGINT) AS s
            FROM cube a JOIN cube b ON b.x = a.x AND b.y = a.y
                                   AND a.bucket < b.bucket
            GROUP BY a.x, a.y
        ),
        ties AS (
            SELECT x, y,
                   CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_sum,
                   CAST(sum(t) AS BIGINT) AS n_buckets
            FROM (SELECT x, y, cnt, count(*) AS t
                  FROM cube GROUP BY x, y, cnt)
            GROUP BY x, y
        ),
        j AS (
            SELECT s.x, s.y, t.n_buckets, s.s,
                   t.n_buckets * (t.n_buckets - 1) * (2 * t.n_buckets + 5)
                       - t.tie_sum AS var18
            FROM s JOIN ties t USING (x, y)
        )
        SELECT x, y, n_buckets, s, var18,
               CASE WHEN var18 > 0 THEN CAST(round(
                   (CAST(s AS DOUBLE) - sign(CAST(s AS DOUBLE)))
                   / sqrt(CAST(var18 AS DOUBLE) / 18.0) * 1000000)
                   AS BIGINT)
               END AS z_micro,
               CASE WHEN var18 > 0 THEN
                   CASE WHEN CAST(round(
                            (CAST(s AS DOUBLE) - sign(CAST(s AS DOUBLE)))
                            / sqrt(CAST(var18 AS DOUBLE) / 18.0) * 1000000)
                            AS BIGINT) > 1960000 THEN 'heating'
                        WHEN CAST(round(
                            (CAST(s AS DOUBLE) - sign(CAST(s AS DOUBLE)))
                            / sqrt(CAST(var18 AS DOUBLE) / 18.0) * 1000000)
                            AS BIGINT) < -1960000 THEN 'cooling'
                   END
               END AS trend
        FROM j
    """


def q_gearys_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 family: global Geary's C over the same z15 raster / queen
    weights as ``morans_i`` (geo/moran.py gearys_c) — the variogram-
    shaped companion statistic; pair sum collapsed to per-tile integer
    algebra, one closing float expression, micro-quantized — vs a
    DuckDB full replay in HUGEINT."""
    _prep(spark)
    from osm_spark.geo.moran import gearys_c

    return gearys_c(_sql_points(spark, sf_dir), _HOTSPOT_Z)


def q_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 family: distributed grid DBSCAN (geo/dbscan.py) — K-disk
    cell candidates → exact eps refine → degree/core flags → min-label
    components over the core-core graph, border points assigned the min
    neighboring cluster — vs a DuckDB brute-force + recursive-closure
    oracle. Every label is an integer, so the gate is value-hash exact."""
    _prep(spark)
    from osm_spark.geo.dbscan import dbscan

    pts = _sql_points(spark, sf_dir).select(
        F.col("url").cast("long").alias("id"), "lat", "lon"
    )
    out = dbscan(pts, _DBSCAN_EPS_M, _DBSCAN_MIN_PTS)
    return out.select(F.col("id").alias("point_id"), "cluster", "role")


_IDW_RADIUS_M = 1500.0


def _idw_oracle() -> str:
    """Brute-force DWithin (the radius oracle's haversine) + the exact
    integer weight chain of geo/idw.py: d_mm = round(d·1000), d_eff =
    max(d_mm, 1 m), w = floor(scale / d_eff²) (double division then
    floor in BOTH engines — identical bits; the scale literal is
    rendered as the same double), integer sums, one closing double
    division. Node values are id % 97."""
    from osm_spark.geo.idw import MIN_D_MM, idw_scale

    scale_lit = repr(float(idw_scale(_IDW_RADIUS_M)))

    hav = ("2.0 * 6371000.0 * asin(sqrt("
           " pow(sin(radians(n.nlat - p.lat) / 2.0), 2)"
           " + cos(radians(p.lat)) * cos(radians(n.nlat))"
           " * pow(sin(radians(n.nlon - p.lon) / 2.0), 2)))")
    return f"""
        WITH nodes0(node_id, nlat, nlon) AS (VALUES
                {_nodes_values_sql()}),
        nodes AS (
            SELECT CAST(node_id AS BIGINT) AS node_id,
                   CAST(nlat AS DOUBLE) AS nlat,
                   CAST(nlon AS DOUBLE) AS nlon,
                   CAST(node_id AS BIGINT) % 97 AS v
            FROM nodes0
        ),
        pts AS ({_sql_points_oracle()}),
        cand AS (
            SELECT p.point_id, n.v,
                   CAST(round({hav} * 1000.0) AS BIGINT) AS d_mm
            FROM pts p CROSS JOIN nodes n
            WHERE {hav} <= {_IDW_RADIUS_M!r}
        ),
        terms AS (
            SELECT point_id, v, d_mm,
                   CASE WHEN d_mm = 0 THEN NULL
                        ELSE CAST(floor({scale_lit}
                             / CAST(GREATEST(d_mm, {MIN_D_MM})
                                    * GREATEST(d_mm, {MIN_D_MM}) AS DOUBLE))
                             AS BIGINT)
                   END AS w
            FROM cand
        ),
        agg AS (
            SELECT point_id,
                   count(*) AS n_nbrs,
                   CAST(sum(w * v) AS BIGINT) AS num,
                   CAST(sum(w) AS BIGINT) AS den,
                   min(CASE WHEN d_mm = 0 THEN v END) AS exact_v
            FROM terms GROUP BY point_id
        )
        SELECT point_id, n_nbrs,
               CASE WHEN exact_v IS NOT NULL THEN exact_v * 1000000
                    ELSE CAST(round(1000000.0 * CAST(num AS DOUBLE)
                                    / CAST(den AS DOUBLE)) AS BIGINT)
               END AS est_micro
        FROM agg
    """


def q_idw_loocv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out cross-validation of the IDW field (geo/idw.py
    idw_loocv): nodes predict themselves from their neighbours through
    one self radius-join, err = est − 10⁶·v — vs the brute-force DWithin
    replay with the self-pair excluded."""
    _prep(spark)
    from osm_spark.geo.idw import idw_loocv
    from osm_spark.pipeline.geometry import synth_nodes

    nodes = synth_nodes(spark).withColumn("val", F.col("id") % 97)
    return idw_loocv(nodes, _IDW_RADIUS_M, strategy="shuffle")


def _idw_loocv_oracle() -> str:
    """The idw oracle's weight chain with nodes on both sides and the
    self-pair dropped; the exact d=0 branch still fires for coincident
    twins (none in the fixture, but the branch is replayed anyway)."""
    from osm_spark.geo.idw import MIN_D_MM, idw_scale

    scale_lit = repr(float(idw_scale(_IDW_RADIUS_M)))
    hav = ("2.0 * 6371000.0 * asin(sqrt("
           " pow(sin(radians(n.nlat - p.nlat) / 2.0), 2)"
           " + cos(radians(p.nlat)) * cos(radians(n.nlat))"
           " * pow(sin(radians(n.nlon - p.nlon) / 2.0), 2)))")
    return f"""
        WITH nodes0(node_id, nlat, nlon) AS (VALUES
                {_nodes_values_sql()}),
        nodes AS (
            SELECT CAST(node_id AS BIGINT) AS node_id,
                   CAST(nlat AS DOUBLE) AS nlat,
                   CAST(nlon AS DOUBLE) AS nlon,
                   CAST(node_id AS BIGINT) % 97 AS v
            FROM nodes0
        ),
        cand AS (
            SELECT p.node_id AS qid, p.v AS qv, n.v,
                   CAST(round({hav} * 1000.0) AS BIGINT) AS d_mm
            FROM nodes p CROSS JOIN nodes n
            WHERE p.node_id <> n.node_id AND {hav} <= {_IDW_RADIUS_M!r}
        ),
        terms AS (
            SELECT qid, qv, v, d_mm,
                   CASE WHEN d_mm = 0 THEN NULL
                        ELSE CAST(floor({scale_lit}
                             / CAST(GREATEST(d_mm, {MIN_D_MM})
                                    * GREATEST(d_mm, {MIN_D_MM}) AS DOUBLE))
                             AS BIGINT)
                   END AS w
            FROM cand
        ),
        agg AS (
            SELECT qid, MIN(qv) AS qv,
                   count(*) AS n_nbrs,
                   CAST(sum(w * v) AS BIGINT) AS num,
                   CAST(sum(w) AS BIGINT) AS den,
                   MIN(CASE WHEN d_mm = 0 THEN v END) AS exact_v
            FROM terms GROUP BY qid
        )
        SELECT qid AS node_id, n_nbrs,
               CASE WHEN exact_v IS NOT NULL THEN exact_v * 1000000
                    ELSE CAST(round(1e6 * CAST(num AS DOUBLE)
                                    / CAST(den AS DOUBLE), 0) AS BIGINT)
               END AS est_micro,
               CASE WHEN exact_v IS NOT NULL THEN exact_v * 1000000
                    ELSE CAST(round(1e6 * CAST(num AS DOUBLE)
                                    / CAST(den AS DOUBLE), 0) AS BIGINT)
               END - qv * 1000000 AS err_micro
        FROM agg
    """


def q_idw_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 family: IDW spatial interpolation (geo/idw.py) — radius
    candidates, integer-quantized Shepard weights (order-independent
    sums — the float-sum trap documented in the module), one closing
    division — vs a DuckDB brute-force replay."""
    _prep(spark)
    from osm_spark.geo.idw import idw_interpolate
    from osm_spark.pipeline.geometry import synth_nodes

    nodes = synth_nodes(spark).withColumn("val", F.col("id") % 97)
    out = idw_interpolate(
        _sql_points(spark, sf_dir), nodes, _IDW_RADIUS_M, strategy="shuffle"
    )
    return out.select(
        F.col("url").cast("long").alias("point_id"), "n_nbrs", "est_micro"
    )


def _raycast_hits_sql(pts: str, poly: str) -> str:
    """Derived-table fragment: exact even-odd ray cast + boundary-eps
    hits (same IEEE op order as ``pip_cover_expr``) of CTE ``pts``
    (point_id, lat, lon) against CTE ``poly`` (way_id, vlat, vlon).
    Yields (point_id, way_id)."""
    eps2 = repr(1e-12 * 1e-12)
    return f"""(
        WITH ed_ AS (
            SELECT way_id, vlat, vlon, unnest(range(len(vlat))) AS i FROM {poly}
        ), e_ AS (
            SELECT way_id,
                   vlat[CAST(i AS INT) + 1] AS ay, vlon[CAST(i AS INT) + 1] AS ax,
                   vlat[CAST((i + 1) % len(vlat) AS INT) + 1] AS by,
                   vlon[CAST((i + 1) % len(vlat) AS INT) + 1] AS bx
            FROM ed_
        ), c1_ AS (
            SELECT p.point_id, p.lat, p.lon, e_.way_id, e_.ax, e_.ay, e_.bx, e_.by,
                   e_.bx - e_.ax AS abx, e_.by - e_.ay AS aby,
                   p.lon - e_.ax AS apx, p.lat - e_.ay AS apy
            FROM {pts} p CROSS JOIN e_
        ), c2_ AS (
            SELECT *, abx * abx + aby * aby AS d,
                   ((ay > lat) <> (by > lat))
                   AND lon < abx * apy
                       / (CASE WHEN aby = 0 THEN 1.0 ELSE aby END) + ax AS crossed
            FROM c1_
        ), c3_ AS (
            SELECT *, CASE WHEN d > 0
                           THEN (apx * abx + apy * aby)
                                / (CASE WHEN d = 0 THEN 1.0 ELSE d END)
                           ELSE 0.0 END AS t0
            FROM c2_
        ), c4_ AS (
            SELECT *, LEAST(GREATEST(t0, 0.0), 1.0) AS t FROM c3_
        ), c5_ AS (
            SELECT *, apx - t * abx AS dx, apy - t * aby AS dy FROM c4_
        ), hit_ AS (
            SELECT point_id, way_id,
                   SUM(CASE WHEN crossed THEN 1 ELSE 0 END) AS crossings,
                   MAX(CASE WHEN dx * dx + dy * dy <= {eps2} THEN 1 ELSE 0 END) AS on_edge
            FROM c5_ GROUP BY point_id, way_id
        )
        SELECT point_id, way_id FROM hit_
        WHERE crossings % 2 = 1 OR on_edge = 1
    )"""


def _overlay_pairs_oracle(self_join: bool = False) -> str:
    """Brute-force polygon-intersects over every (A, B) pair — same
    predicate arithmetic as ``polygons_intersect_expr`` (geo/overlay.py):
    strict proper edge crossing (orientation products < 0) OR ANY vertex
    of either ring ray-cast-covered by the other ring (each vertex gets
    a unique synthetic point_id so the even-odd crossing parity is
    counted per vertex, then maps back to its ring id). ``self_join``
    replays the one-layer form (B = A, unordered pairs a_id < b_id)."""
    if self_join:
        b_values = "SELECT * FROM pa"
        self_filter = "WHERE a_id < b_id"
    else:
        b_values = f"""
            SELECT CAST(way_id AS BIGINT) AS way_id,
                   CAST(vlat AS DOUBLE[]) AS vlat,
                   CAST(vlon AS DOUBLE[]) AS vlon
            FROM (VALUES
                {_polygons_values_sql(n_per_city=5, seed=1234)})
                pb0(way_id, vlat, vlon)
        """
        self_filter = ""
    return f"""
        WITH pa0(way_id, vlat, vlon) AS (VALUES
                {_polygons_values_sql()}),
        pa AS (
            SELECT CAST(way_id AS BIGINT) AS way_id,
                   CAST(vlat AS DOUBLE[]) AS vlat,
                   CAST(vlon AS DOUBLE[]) AS vlon
            FROM pa0
        ),
        pb AS ({b_values}),
        ea AS (
            SELECT way_id AS a_id,
                   vlon[CAST(i AS INT) + 1] AS p1x, vlat[CAST(i AS INT) + 1] AS p1y,
                   vlon[CAST((i + 1) % len(vlat) AS INT) + 1] AS p2x,
                   vlat[CAST((i + 1) % len(vlat) AS INT) + 1] AS p2y
            FROM (SELECT way_id, vlat, vlon, unnest(range(len(vlat))) AS i FROM pa)
        ),
        eb AS (
            SELECT way_id AS b_id,
                   vlon[CAST(i AS INT) + 1] AS q1x, vlat[CAST(i AS INT) + 1] AS q1y,
                   vlon[CAST((i + 1) % len(vlat) AS INT) + 1] AS q2x,
                   vlat[CAST((i + 1) % len(vlat) AS INT) + 1] AS q2y
            FROM (SELECT way_id, vlat, vlon, unnest(range(len(vlat))) AS i FROM pb)
        ),
        crossed AS (
            SELECT a_id, b_id FROM ea CROSS JOIN eb
            WHERE ((p2x - p1x) * (q1y - p1y) - (p2y - p1y) * (q1x - p1x))
                * ((p2x - p1x) * (q2y - p1y) - (p2y - p1y) * (q2x - p1x)) < 0
              AND ((q2x - q1x) * (p1y - q1y) - (q2y - q1y) * (p1x - q1x))
                * ((q2x - q1x) * (p2y - q1y) - (q2y - q1y) * (p2x - q1x)) < 0
            GROUP BY a_id, b_id
        ),
        a0 AS (
            SELECT way_id AS poly_id, way_id * 100000 + i AS point_id,
                   vlat[CAST(i AS INT) + 1] AS lat,
                   vlon[CAST(i AS INT) + 1] AS lon
            FROM (SELECT way_id, vlat, vlon, unnest(range(len(vlat))) AS i FROM pa)
        ),
        b0 AS (
            SELECT way_id AS poly_id, way_id * 100000 + i AS point_id,
                   vlat[CAST(i AS INT) + 1] AS lat,
                   vlon[CAST(i AS INT) + 1] AS lon
            FROM (SELECT way_id, vlat, vlon, unnest(range(len(vlat))) AS i FROM pb)
        ),
        a_in_b AS (
            SELECT DISTINCT a0.poly_id AS a_id, h.way_id AS b_id
            FROM {_raycast_hits_sql("a0", "pb")} h
            JOIN a0 ON a0.point_id = h.point_id
        ),
        b_in_a AS (
            SELECT DISTINCT h.way_id AS a_id, b0.poly_id AS b_id
            FROM {_raycast_hits_sql("b0", "pa")} h
            JOIN b0 ON b0.point_id = h.point_id
        )
        SELECT DISTINCT a_id, b_id FROM (
            SELECT * FROM crossed
            UNION ALL SELECT * FROM a_in_b
            UNION ALL SELECT * FROM b_in_a
        ) {self_filter}
    """


def q_overlay_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 polygon × polygon intersects (overlay) join, driver-gated
    via the SHUFFLE path (the big×big planet form — broadcast is
    pytest-proven identical): superset hex coverings equi-join on the
    cell, pair list deduped before vertex arrays attach, pure-codegen
    edge-cross + ray-cast containment refine (geo/overlay.py) vs a
    DuckDB brute-force replay of the identical arithmetic."""
    _prep(spark)
    from osm_spark.geo.overlay import overlay_join
    from osm_spark.pipeline.geometry import build_way_cells, synth_polygons

    pa = synth_polygons(spark)
    pb = synth_polygons(spark, n_per_city=5, seed=1234)
    return overlay_join(
        pa, pb, build_way_cells(pa), build_way_cells(pb), strategy="shuffle"
    )


def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 corpus tokens via the two-pass heavy-hitters scheme
    (text/hitters.py): per-partition local top-m candidates + bound
    marker, broadcast-semi recount, provable exactness certificate.
    ``on_uncertain='raise'`` so the gate proves the CERTIFICATE path
    produced the answer — a silent fallback to the full groupBy would
    pass the oracle without exercising the design."""
    _prep(spark)
    from osm_spark.text.hitters import exact_topk

    toks = _t(spark, sf_dir, "documents").select(
        F.explode(F.split(F.lower("text"), " ")).alias("token")
    )
    return exact_topk(toks, "token", 20, m=64, on_uncertain="raise")


def _top_tokens_oracle() -> str:
    return """
        WITH toks AS (
            SELECT unnest(string_split(lower(text), ' ')) AS value
            FROM documents
        )
        SELECT value, count(*) AS cnt
        FROM toks GROUP BY value
        ORDER BY cnt DESC, value ASC
        LIMIT 20
    """


def q_region_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo×text composition flagship: the PIP join (covering prejoin +
    codegen ray-cast refine, §2.10) attaches every point to its
    polygons, each point's document text rides in on a shuffle-hash
    equi-join, and the per-region vocabulary is ranked exactly — top-5
    terms per way_id by (count DESC, term ASC). This chains the graft's
    two axes (geospatial join × webtext corpus) end-to-end against a
    single composed DuckDB replay: brute-force PIP → the same modulo
    text attach → unnest → windowed rank.

    Scale shape: the PIP side is the 10^12-page table after the
    covering prejoin; the corpus attaches on doc_id with a shuffle_hash
    hint (both sides web-scale — never sort-merge, never a broadcast of
    the corpus); the (way_id, term) count is map-side combined; the
    final window partitions by way_id, so each partition holds ONE
    region's vocabulary — bounded by vocabulary size, not corpus size.
    Tokenizer = the engine-wide policy (lowercase, single-space split,
    zero-length tokens dropped — text/bpe.py word_frequencies)."""
    _prep(spark)
    from osm_spark.geo.hexgrid import hex_cell_expr
    from osm_spark.pipeline.geometry import build_way_cells, synth_polygons
    from osm_spark.pipeline.spatial_join import pip_join
    from osm_spark.pipeline.stats import memoized_count

    pts = _sql_points(spark, sf_dir).withColumn(
        "h3_9", hex_cell_expr("lat", "lon", 9)
    )
    polygons = synth_polygons(spark)
    pairs = pip_join(
        pts, polygons, build_way_cells(polygons), strategy="broadcast"
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = memoized_count(docs)
    toks = (
        pairs.select(
            "way_id", (F.col("url").cast("long") % n_docs).alias("doc_id")
        )
        .join(docs.hint("shuffle_hash"), "doc_id")
        .select(
            "way_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
        )
        .where(F.length("term") > 0)
    )
    counts = toks.groupBy("way_id", "term").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("way_id").orderBy(
        F.col("cnt").desc(), F.col("term").asc()
    )
    return (
        counts.withColumn("term_rank", F.row_number().over(w))
        .where(F.col("term_rank") <= 5)
        .select("way_id", "term", "cnt", "term_rank")
    )


def _region_top_terms_oracle() -> str:
    """Composed replay: the full brute-force PIP oracle feeds the same
    modulo doc attach, tokenizer and (cnt DESC, term ASC) rank window."""
    return f"""
        WITH pip AS ({_pip_pairs_oracle()}),
        nd AS (SELECT count(*) AS n FROM documents),
        tok AS (
            SELECT p.way_id,
                   unnest(string_split(lower(d.text), ' ')) AS term
            FROM pip p, nd, documents d
            WHERE d.doc_id = p.point_id % nd.n
        ),
        cnt AS (
            SELECT way_id, term, count(*) AS cnt
            FROM tok WHERE len(term) > 0
            GROUP BY way_id, term
        )
        SELECT way_id, term, cnt, CAST(rn AS INT) AS term_rank FROM (
            SELECT *, row_number() OVER (PARTITION BY way_id
                        ORDER BY cnt DESC, term ASC) AS rn
            FROM cnt
        ) WHERE rn <= 5
    """


def _reverse_geocode_oracle() -> str:
    """Brute-force PIP hits joined to the exact area replay
    (way_geometry_stats_sql), argmin per point by (area_m2, way_id) —
    the same lexicographic struct ordering the engine's min(struct)
    uses."""
    from osm_spark.geo.measure import way_geometry_stats_sql

    return f"""
        WITH poly0(way_id, vlat, vlon) AS (VALUES
                {_polygons_values_sql()}),
        polys AS (
            SELECT CAST(way_id AS BIGINT) AS way_id,
                   CAST(vlat AS DOUBLE[]) AS vlat,
                   CAST(vlon AS DOUBLE[]) AS vlon
            FROM poly0
        ),
        stats AS ({way_geometry_stats_sql("polys")}),
        hits AS ({_pip_pairs_oracle()}),
        j AS (
            SELECT h.point_id, h.way_id, s.area_m2
            FROM hits h JOIN stats s USING (way_id)
        )
        SELECT point_id, way_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY point_id ORDER BY area_m2 ASC, way_id ASC) AS rn
            FROM j
        ) WHERE rn = 1
    """


def q_overlay_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dissolve (geo/overlay.py ``dissolve``): overlay self-join pairs →
    connected components (lineage-truncated min-label propagation) →
    keeper election. Oracle: the brute-force self-pair replay fed to a
    recursive-CTE transitive closure — converged labels are
    round-count-independent, so the iterative engine gets an exact
    value-hash gate."""
    _prep(spark)
    from osm_spark.geo.overlay import dissolve
    from osm_spark.pipeline.geometry import build_way_cells, synth_polygons

    polys = synth_polygons(spark)
    return dissolve(polys, build_way_cells(polys), strategy="broadcast").select(
        "way_id", "cluster_id", "is_keeper", "cluster_size"
    )


def _overlay_clusters_oracle() -> str:
    return f"""
        WITH RECURSIVE pairs AS MATERIALIZED (
            SELECT * FROM ({_overlay_pairs_oracle(self_join=True)}) t
        ),
        sym AS MATERIALIZED (
            SELECT a_id AS u, b_id AS v FROM pairs
            UNION SELECT b_id, a_id FROM pairs
        ),
        verts AS MATERIALIZED (
            SELECT DISTINCT CAST(way_id AS BIGINT) AS id
            FROM (VALUES {_polygons_values_sql()}) poly0(way_id, vlat, vlon)
        ),
        reach(id, r) AS (
            SELECT id, id FROM verts
            UNION
            SELECT s.u, reach.r FROM sym s JOIN reach ON reach.id = s.v
        ),
        comp AS MATERIALIZED (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
        sizes AS MATERIALIZED (
            SELECT cluster_id, count(*) AS cluster_size
            FROM comp GROUP BY cluster_id
        )
        SELECT c.id AS way_id, c.cluster_id,
               c.id = c.cluster_id AS is_keeper, s.cluster_size
        FROM comp c JOIN sizes s USING (cluster_id)
    """


def q_reverse_geocode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse geocode (geo/geocode.py): smallest containing polygon per
    point — PIP join (auto strategy) + zero-shuffle area folds over the
    polygon dim + one map-side-combined min(struct) per point. Gated
    against brute-force PIP + the exact area replay + the same argmin."""
    _prep(spark)
    from osm_spark.geo.geocode import reverse_geocode
    from osm_spark.geo.hexgrid import hex_cell_expr
    from osm_spark.pipeline.geometry import build_way_cells, synth_polygons

    pts = _sql_points(spark, sf_dir).withColumn(
        "h3_9", hex_cell_expr("lat", "lon", 9)
    )
    polygons = synth_polygons(spark)
    out = reverse_geocode(pts, polygons, build_way_cells(polygons), strategy="auto")
    return out.select(F.col("url").cast("long").alias("point_id"), "way_id")


def q_pip_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 PIP join, driver-gated via the SALTED shuffle path: hex
    covering (mapInPandas), data-driven salt plan with a low hot-cell
    target so salting genuinely engages at test scale, salted cell-equi
    prejoin, codegen ray-cast refine — vs a DuckDB brute-force oracle.
    The broadcast path is the flagship/bench path and is pytest-proven
    equal to the salted one (test_pip_salted_equals_broadcast)."""
    _prep(spark)
    from osm_spark.pipeline.geometry import build_way_cells, synth_polygons
    from osm_spark.pipeline.spatial_join import pip_join_salted, salt_plan

    from osm_spark.geo.hexgrid import hex_cell_expr

    pts = _sql_points(spark, sf_dir).withColumn(
        "h3_9", hex_cell_expr("lat", "lon", 9)
    )
    polygons = synth_polygons(spark)
    pairs = pip_join_salted(
        pts, polygons, build_way_cells(polygons), salt_plan(pts, target=20)
    )
    return pairs.select(F.col("url").cast("long").alias("point_id"), "way_id")


def q_pip_pairs_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 PIP join over a MIXED-resolution covering
    (``build_way_cells_adaptive``, budget=32 so the larger synth
    polygons genuinely coarsen at test scale), salted multi-level
    prejoin + codegen refine — same brute-force DuckDB oracle as
    ``pip_pairs``: the covering's resolution mix must never change the
    exact pair set."""
    _prep(spark)
    from osm_spark.geo.hexgrid import hex_cell_expr
    from osm_spark.pipeline.geometry import build_way_cells_adaptive, synth_polygons
    from osm_spark.pipeline.spatial_join import pip_join_adaptive

    pts = _sql_points(spark, sf_dir).withColumn(
        "h3_9", hex_cell_expr("lat", "lon", 9)
    )
    polygons = synth_polygons(spark)
    index = build_way_cells_adaptive(polygons, budget=32)
    pairs = pip_join_adaptive(pts, polygons, index, strategy="salted")
    return pairs.select(F.col("url").cast("long").alias("point_id"), "way_id")


def q_knn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 grid kNN, driver-gated: two-phase sufficient-candidate-set
    plan (knn.py) vs a DuckDB brute-force top-3 oracle. Rank-only output:
    no float column rides into the hash, so agreement is purely about
    which neighbors in which order."""
    _prep(spark)
    from osm_spark.geo.knn import knn_join
    from osm_spark.pipeline.geometry import synth_nodes

    out = knn_join(_sql_points(spark, sf_dir), synth_nodes(spark), k=3)
    return out.select(
        F.col("url").cast("long").alias("point_id"), "node_id", "rank"
    )


# --- rows-only (non-SQL-expressible) spatial operators ---


def q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2.10 cell-prejoined point-in-polygon (rows-only; exactness is
    pytest-golden-verified vs a pure-Python oracle)."""
    _prep(spark)
    from osm_spark.pipeline.flagship import flagship_query

    return flagship_query(spark, sf_dir)


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-partitioned kNN (rows-only; pytest-golden-verified)."""
    _prep(spark)
    from osm_spark.geo.knn import knn_join
    from osm_spark.pipeline.geometry import synth_nodes
    from osm_spark.pipeline.pages import synth_pages
    from osm_spark.pipeline.spatial_join import extract_points

    points = extract_points(synth_pages(spark, sf_dir))
    return knn_join(points, synth_nodes(spark), k=3).select("url", "node_id", "rank")


def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN, driver-gated at FULL probe: the whole machinery runs
    (deterministic k-means quantizer, inverted-file build, cluster
    probing, in-cluster exact scoring, ranking) and with nprobe == k
    every vector is scored, so the result must equal brute-force cosine
    top-10 — the oracle. Partial-probe recall stays pytest-verified
    (k-means itself is iterative and not economically SQL-replayable)."""
    from osm_spark.vector.ivf import ivf_index, ivf_search, kmeans_fit

    e = _t(spark, sf_dir, "embeddings")
    centroids = kmeans_fit(e, k=8, iters=3)
    index = ivf_index(e, centroids)
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_search(q, index, centroids, k=10, nprobe=8)


def q_ohlc_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable time-bucket OHLC rollup (osm_spark/pipeline/rollup.py)
    over the events table at hourly buckets — one map-side-combined
    exchange on (key, bucket); open/close are deterministic struct
    selections (ts, event_id tie-break), sum is per-row micro-quantized
    then integer-summed (lm_score precedent). The oracle replays the
    selection with two row_number windows and the same quantized sum."""
    from osm_spark.pipeline.rollup import rollup_ohlc

    return rollup_ohlc(_t(spark, sf_dir, "events"), width_s=3600)


def _ohlc_rollup_oracle(where: str = "TRUE") -> str:
    return f"""
        WITH e AS (
            SELECT event_type AS key,
                   epoch_us(ts) // 3600000000 AS bucket,
                   ts, event_id, value
            FROM events WHERE {where}
        ),
        w AS (
            SELECT key, bucket, value,
                   row_number() OVER (PARTITION BY key, bucket
                       ORDER BY ts, event_id) AS rn_a,
                   row_number() OVER (PARTITION BY key, bucket
                       ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM e
        )
        SELECT key, bucket,
               max(CASE WHEN rn_a = 1 THEN value END) AS open,
               max(value) AS high, min(value) AS low,
               max(CASE WHEN rn_d = 1 THEN value END) AS close,
               CAST(sum(CAST(round(value * 1000000, 0) AS BIGINT))
                    AS BIGINT) AS sum_micro,
               count(*) AS n
        FROM w GROUP BY key, bucket
    """


def q_ohlc_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed rollup → gap_fill chain: the events table THINNED to
    every 13th event so hourly buckets genuinely go missing, then each
    key's bucket axis densified (sequence/explode — keys × span rows,
    no cross join) with close carried forward (LOCF window per key).
    The oracle chains the same two stages over generate_series +
    last_value IGNORE NULLS."""
    from osm_spark.pipeline.rollup import gap_fill, rollup_ohlc

    e = _t(spark, sf_dir, "events").where(F.col("event_id") % 13 == 0)
    return gap_fill(rollup_ohlc(e, width_s=3600))


def _ohlc_gapfill_oracle() -> str:
    return f"""
        WITH rolled AS ({_ohlc_rollup_oracle("event_id % 13 = 0")}),
        span AS (
            SELECT key, min(bucket) AS lo, max(bucket) AS hi
            FROM rolled GROUP BY key
        ),
        grid AS (
            SELECT key, unnest(generate_series(lo, hi)) AS bucket FROM span
        ),
        j AS (
            SELECT g.key, g.bucket, r.close
            FROM grid g LEFT JOIN rolled r USING (key, bucket)
        )
        SELECT key, bucket, close,
               last_value(close IGNORE NULLS) OVER (
                   PARTITION BY key ORDER BY bucket
                   ROWS UNBOUNDED PRECEDING) AS filled,
               close IS NULL AS is_gap
        FROM j
    """


def q_ohlc_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap fill (pipeline/rollup.py gap_fill
    method='interpolate' — the TimescaleDB ``interpolate`` semantics)
    over the same thinned hourly rollup as ohlc_gapfill: gap buckets
    take prev + (next − prev)·(b − pb)/(nb − pb), one IEEE double
    expression the oracle replays with the same four IGNORE NULLS
    windows."""
    from osm_spark.pipeline.rollup import gap_fill, rollup_ohlc

    e = _t(spark, sf_dir, "events").where(F.col("event_id") % 13 == 0)
    return gap_fill(rollup_ohlc(e, width_s=3600), method="interpolate")


def _ohlc_interpolate_oracle() -> str:
    return f"""
        WITH rolled AS ({_ohlc_rollup_oracle("event_id % 13 = 0")}),
        span AS (
            SELECT key, min(bucket) AS lo, max(bucket) AS hi
            FROM rolled GROUP BY key
        ),
        grid AS (
            SELECT key, unnest(generate_series(lo, hi)) AS bucket FROM span
        ),
        j AS (
            SELECT g.key, g.bucket, r.close
            FROM grid g LEFT JOIN rolled r USING (key, bucket)
        ),
        f AS (
            SELECT key, bucket, close,
                   last_value(close IGNORE NULLS) OVER back AS prev_v,
                   last_value(CASE WHEN close IS NOT NULL THEN bucket END
                              IGNORE NULLS) OVER back AS prev_b,
                   first_value(close IGNORE NULLS) OVER fwd AS next_v,
                   first_value(CASE WHEN close IS NOT NULL THEN bucket END
                               IGNORE NULLS) OVER fwd AS next_b
            FROM j
            WINDOW back AS (PARTITION BY key ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   fwd AS (PARTITION BY key ORDER BY bucket
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT key, bucket, close,
               CASE WHEN close IS NOT NULL THEN close
                    ELSE prev_v + (next_v - prev_v)
                         * (CAST(bucket - prev_b AS DOUBLE)
                            / CAST(next_b - prev_b AS DOUBLE))
               END AS filled,
               close IS NULL AS is_gap
        FROM f
    """


_SESSION_Q_PROBS = [0.5, 0.9, 0.99]


def q_session_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed sessionize → exact-quantile chain: 30-min inactivity
    sessions (streaming/windowed.py batch formulation), duration in
    integer MICROSECONDS (unix_micros end − start — no float anywhere),
    then the histogram-collapse nearest-rank quantiles
    (functions/quantiles.py). One oracle chains the gaps-and-islands
    replay into the cumulative-histogram pick."""
    from osm_spark.functions.quantiles import integer_quantiles
    from osm_spark.streaming.windowed import sessionize

    s = sessionize(_t(spark, sf_dir, "events"), gap_minutes=30)
    # NTZ → TZ cast shifts both endpoints identically; the difference
    # is session-timezone-invariant (the trips.py unix_micros idiom)
    d = s.select(
        (
            F.unix_micros(F.col("session_end").cast("timestamp"))
            - F.unix_micros(F.col("session_start").cast("timestamp"))
        ).alias("dur_us")
    )
    return integer_quantiles(d, "dur_us", _SESSION_Q_PROBS)


def _session_quantiles_oracle() -> str:
    selects = " UNION ALL ".join(
        f"""SELECT {int(round(p * 1000))} AS prob_pmille,
                   (SELECT min(v) FROM cum
                    WHERE cum >= CAST(ceil({p!r} * n_total) AS BIGINT))
                       AS value,
                   CAST(ceil({p!r} * n_total) AS BIGINT) AS rank_needed,
                   n_total
            FROM tot"""
        for p in _SESSION_Q_PROBS
    )
    return f"""
        WITH m AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                             > 1800000000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
            SELECT *, sum(new_session) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS session_seq
            FROM m
        ), sess AS (
            SELECT user_id, session_seq,
                   max(epoch_us(ts)) - min(epoch_us(ts)) AS dur_us
            FROM s GROUP BY user_id, session_seq
        ),
        hist AS (SELECT dur_us AS v, count(*) AS c FROM sess GROUP BY dur_us),
        cum AS (
            SELECT v, CAST(SUM(c) OVER (ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM hist
        ),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM hist)
        {selects}
    """


def q_rollup_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed rollup → trailing z-score anomaly chain
    (pipeline/tsanomaly.py over pipeline/rollup.py): hourly sum_micro
    per event_type, each bucket scored against its own trailing 24
    buckets (current row excluded; <8 observations or zero variance →
    NULL). Integer rolling moments close with one IEEE double z,
    floor'd to milli — the oracle replays the identical bounded frame."""
    from osm_spark.pipeline.rollup import rollup_ohlc
    from osm_spark.pipeline.tsanomaly import rollup_anomalies

    return rollup_anomalies(
        rollup_ohlc(_t(spark, sf_dir, "events"), width_s=3600),
        window=24,
        min_history=8,
        threshold=3.0,
    )


def _rollup_anomalies_oracle() -> str:
    return f"""
        WITH rolled AS ({_ohlc_rollup_oracle()}),
        f AS (
            SELECT key, bucket, sum_micro,
                   count(sum_micro) OVER tw AS n,
                   CAST(sum(sum_micro) OVER tw AS BIGINT) AS sx,
                   CAST(sum(sum_micro * sum_micro) OVER tw AS BIGINT) AS sxx
            FROM rolled
            WINDOW tw AS (PARTITION BY key ORDER BY bucket
                          ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        ),
        g AS (
            SELECT *,
                   (CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                      / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS var,
                   CAST(sum_micro AS DOUBLE)
                   - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS dev
            FROM f
        )
        SELECT key, bucket, sum_micro, n AS n_hist,
               CASE WHEN n >= 8 AND var > 0
                    THEN CAST(floor(1000.0 * (dev / sqrt(var))) AS BIGINT)
               END AS z_milli,
               CASE WHEN n >= 8 AND var > 0
                    THEN abs(dev / sqrt(var)) > 3.0
                    ELSE FALSE END AS is_anomaly
        FROM g
    """


_HLL_P = 8


def q_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog distinct-user estimate per event type
    (functions/hll.py): md5 registers, string-arithmetic ρ, integer
    harmonic mass Σ2^(53−ρ), one closing float with the linear-counting
    branch — vs a DuckDB register-by-register replay."""
    from osm_spark.functions.hll import hll_distinct

    return hll_distinct(
        _t(spark, sf_dir, "events"), ["event_type"], "user_id", p=_HLL_P
    )


def _hll_oracle() -> str:
    p = _HLL_P
    m = 1 << p
    nib = p // 4
    alpha = 0.7213 / (1.0 + 1.079 / m)
    two53 = 1 << 53
    return f"""
        WITH h AS (
            SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS d
            FROM events WHERE user_id IS NOT NULL
        ),
        r0 AS (
            SELECT event_type,
                   CAST(CAST('0x' || substr(d, 1, {nib}) AS BIGINT) AS INT) AS reg,
                   regexp_replace(substr(d, {nib + 1}, 13), '^0+', '') AS s
            FROM h
        ),
        rr AS (
            SELECT event_type, reg,
                   CASE WHEN len(s) = 0 THEN 53
                        ELSE (13 - len(s)) * 4
                           + (CASE WHEN CAST('0x' || substr(s, 1, 1) AS INT) >= 8 THEN 0
                                   WHEN CAST('0x' || substr(s, 1, 1) AS INT) >= 4 THEN 1
                                   WHEN CAST('0x' || substr(s, 1, 1) AS INT) >= 2 THEN 2
                                   ELSE 3 END) + 1
                   END AS rho
            FROM r0
        ),
        regs AS (SELECT event_type, reg, MAX(rho) AS rho FROM rr GROUP BY 1, 2),
        agg AS (
            SELECT event_type,
                   CAST(count(*) AS INT) AS m_used,
                   CAST(sum(CAST(1 AS BIGINT) << (53 - rho)) AS BIGINT) AS s_present
            FROM regs GROUP BY event_type
        ),
        est AS (
            SELECT event_type, m_used,
                   CAST({m} - m_used AS INT) AS v_zero,
                   {float(alpha * m * m * two53)!r}
                   / CAST(s_present
                          + CAST({m} - m_used AS BIGINT) * CAST({two53} AS BIGINT)
                          AS DOUBLE) AS e_raw
            FROM agg
        )
        SELECT event_type, m_used, v_zero,
               CAST(round(
                   (CASE WHEN v_zero > 0 AND e_raw <= {2.5 * m!r}
                         THEN {float(m)!r} * ln({float(m)!r} / CAST(v_zero AS DOUBLE))
                         ELSE e_raw END) * 1000.0, 0) AS BIGINT) AS est_milli
        FROM est
    """


def q_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap by HLL inclusion–exclusion
    (functions/hll.py hll_pairwise_overlap): union sketches from the
    mergeable register states (no data rescan), |A∩B| ≈ E(A)+E(B)−E(A⊔B)
    — vs a DuckDB replay of all three estimates per pair."""
    from osm_spark.functions.hll import hll_pairwise_overlap

    return hll_pairwise_overlap(
        _t(spark, sf_dir, "events"), "event_type", "user_id", p=_HLL_P
    )


def _hll_est_sql(m_used: str, s_present: str) -> str:
    """The closing HLL estimator as a SQL expression (milli bigint)."""
    p = _HLL_P
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    two53 = 1 << 53
    vz = f"({m} - {m_used})"
    e_raw = (
        f"({float(alpha * m * m * two53)!r} / CAST({s_present} "
        f"+ CAST({vz} AS BIGINT) * CAST({two53} AS BIGINT) AS DOUBLE))"
    )
    lin = f"({float(m)!r} * ln({float(m)!r} / CAST({vz} AS DOUBLE)))"
    return (
        f"CAST(round((CASE WHEN {vz} > 0 AND {e_raw} <= {2.5 * m!r} "
        f"THEN {lin} ELSE {e_raw} END) * 1000.0, 0) AS BIGINT)"
    )


def _hll_overlap_oracle() -> str:
    nib = _HLL_P // 4
    return f"""
        WITH h AS (
            SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS d
            FROM events WHERE user_id IS NOT NULL
        ),
        r0 AS (
            SELECT event_type,
                   CAST(CAST('0x' || substr(d, 1, {nib}) AS BIGINT) AS INT) AS reg,
                   regexp_replace(substr(d, {nib + 1}, 13), '^0+', '') AS s
            FROM h
        ),
        rr AS (
            SELECT event_type, reg,
                   CASE WHEN len(s) = 0 THEN 53
                        ELSE (13 - len(s)) * 4
                           + (CASE WHEN CAST('0x' || substr(s, 1, 1) AS INT) >= 8 THEN 0
                                   WHEN CAST('0x' || substr(s, 1, 1) AS INT) >= 4 THEN 1
                                   WHEN CAST('0x' || substr(s, 1, 1) AS INT) >= 2 THEN 2
                                   ELSE 3 END) + 1
                   END AS rho
            FROM r0
        ),
        regs AS (SELECT event_type, reg, MAX(rho) AS rho FROM rr GROUP BY 1, 2),
        singles AS (
            SELECT event_type,
                   CAST(count(*) AS INT) AS m_used,
                   CAST(sum(CAST(1 AS BIGINT) << (53 - rho)) AS BIGINT) AS sp
            FROM regs GROUP BY event_type
        ),
        se AS (SELECT event_type, {_hll_est_sql("m_used", "sp")} AS e FROM singles),
        ks AS (SELECT DISTINCT event_type AS k FROM regs),
        prs AS (SELECT a.k AS key_a, b.k AS key_b
                FROM ks a JOIN ks b ON a.k < b.k),
        uregs AS (
            SELECT p.key_a, p.key_b, r.reg, MAX(r.rho) AS rho
            FROM prs p JOIN regs r
              ON r.event_type = p.key_a OR r.event_type = p.key_b
            GROUP BY 1, 2, 3
        ),
        uagg AS (
            SELECT key_a, key_b,
                   CAST(count(*) AS INT) AS m_used,
                   CAST(sum(CAST(1 AS BIGINT) << (53 - rho)) AS BIGINT) AS sp
            FROM uregs GROUP BY 1, 2
        ),
        ue AS (SELECT key_a, key_b,
                      {_hll_est_sql("m_used", "sp")} AS eu FROM uagg)
        SELECT u.key_a, u.key_b,
               ea.e AS est_a_milli, eb.e AS est_b_milli,
               u.eu AS est_union_milli,
               ea.e + eb.e - u.eu AS est_inter_milli
        FROM ue u
        JOIN se ea ON ea.event_type = u.key_a
        JOIN se eb ON eb.event_type = u.key_b
    """


def q_hll_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental HLL refresh (functions/hll.py hll_registers/merge/
    estimate): events split 3 ways by event_id mod, each register state
    built independently, merged by register-wise max WITHOUT rescanning
    history, estimated.  The oracle is the FULL recompute — merge ≡
    full holds exactly because max is idempotent/commutative/associative
    (the ohlc_refresh algebraic-state discipline applied to sketches)."""
    from osm_spark.functions.hll import hll_estimate, hll_merge, hll_registers

    e = _t(spark, sf_dir, "events")
    parts = [e.where(F.col("event_id") % 3 == r) for r in range(3)]
    merged = hll_merge(
        ["event_type"],
        *[hll_registers(p_, ["event_type"], "user_id", p=_HLL_P) for p_ in parts],
    )
    return hll_estimate(merged, ["event_type"], p=_HLL_P)


_EWMA_W, _EWMA_K = 8, 1


def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed rollup → truncated dyadic EWMA (pipeline/tsanomaly.py
    ewma_smooth): integer halving weights over the trailing 8
    observations, renormalized over warm-up, one closing rounded
    division — vs a DuckDB LAG replay over the identical rollup CTE."""
    from osm_spark.pipeline.rollup import rollup_ohlc
    from osm_spark.pipeline.tsanomaly import ewma_smooth

    return ewma_smooth(
        rollup_ohlc(_t(spark, sf_dir, "events"), width_s=3600),
        window=_EWMA_W,
        k=_EWMA_K,
    )


def _ewma_oracle() -> str:
    wgt = [
        (2**_EWMA_K - 1) ** j * (2**_EWMA_K) ** (_EWMA_W - 1 - j)
        for j in range(_EWMA_W)
    ]
    lags = ", ".join(
        f"LAG(sum_micro, {j}) OVER w AS l{j}" for j in range(1, _EWMA_W)
    )
    num = f"sum_micro * {wgt[0]}" + "".join(
        f" + coalesce(l{j}, 0) * {wgt[j]}" for j in range(1, _EWMA_W)
    )
    den = f"{wgt[0]}" + "".join(
        f" + (CASE WHEN l{j} IS NOT NULL THEN {wgt[j]} ELSE 0 END)"
        for j in range(1, _EWMA_W)
    )
    used = "1" + "".join(
        f" + (CASE WHEN l{j} IS NOT NULL THEN 1 ELSE 0 END)"
        for j in range(1, _EWMA_W)
    )
    return f"""
        WITH rolled AS ({_ohlc_rollup_oracle()}),
        l AS (
            SELECT key, bucket, sum_micro, {lags}
            FROM rolled
            WINDOW w AS (PARTITION BY key ORDER BY bucket)
        )
        SELECT key, bucket, sum_micro,
               CAST({used} AS INT) AS n_used,
               CAST(round(CAST({num} AS DOUBLE)
                          / CAST({den} AS DOUBLE), 0) AS BIGINT) AS ewma_micro
        FROM l
    """


def q_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM fluency score (text/lm.py bigram_score) over the
    documents corpus — the conditional-probability upgrade on lm_score
    (unigram scoring is word-order-blind; the 2-gram model catches
    shuffled/templated text, the CCNet perplexity-filter shape).
    Laplace P(w2|w1), per-pair micro-nat quantize → exact long sums;
    the oracle replays tokenize → pair → model → score in full."""
    from osm_spark.text.lm import bigram_score

    return bigram_score(_t(spark, sf_dir, "documents"))


def _bigram_score_oracle() -> str:
    return """
        WITH base AS (
            SELECT doc_id,
                   list_filter(string_split(lower(text), ' '),
                               w -> len(w) > 0) AS toks
            FROM documents WHERE text IS NOT NULL
        ),
        pairs AS (
            SELECT doc_id, toks[CAST(i AS INT)] AS w1,
                   toks[CAST(i AS INT) + 1] AS w2
            FROM base,
                 unnest(range(1, CASE WHEN len(toks) > 1
                                      THEN len(toks) ELSE 1 END)) AS u(i)
        ),
        model AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY w1, w2),
        tok AS (
            SELECT unnest(string_split(lower(text), ' ')) AS word
            FROM documents WHERE text IS NOT NULL
        ),
        uni AS (SELECT word, count(*) AS c1 FROM tok
                WHERE len(word) > 0 GROUP BY word),
        v AS (SELECT count(*) AS v_size FROM uni),
        scored AS (
            SELECT p.doc_id,
                   CAST(round(ln(CAST(m.c2 + 1 AS DOUBLE)
                                 / CAST(u.c1 + v.v_size AS DOUBLE))
                              * 1000000.0) AS BIGINT) AS lw
            FROM pairs p
            JOIN model m USING (w1, w2)
            JOIN uni u ON u.word = p.w1
            CROSS JOIN v
        )
        SELECT doc_id, count(*) AS n_bigrams,
               CAST(sum(lw) AS BIGINT) AS sum_logp_micro,
               round(CAST(sum(lw) AS DOUBLE) / 1e6 / count(*), 6)
                   AS mean_logp
        FROM scored GROUP BY doc_id
    """


def q_zipf_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf ranked vocabulary (osm_spark/text/zipf.py zipf_ranks) over
    the documents table, freq ≥ 5: rank = histogram-folded strict-
    greater count + intra-class row_number — NO vocab-sized global
    window (the token_quantiles histogram-collapse precedent). Oracle =
    the plain global row_number replay (DuckDB can afford it)."""
    from osm_spark.text.zipf import zipf_ranks

    return zipf_ranks(_t(spark, sf_dir, "documents"), min_freq=5)


def _zipf_ranked_sql() -> str:
    return """
        tok AS (
            SELECT unnest(string_split(lower(text), ' ')) AS word
            FROM documents WHERE text IS NOT NULL
        ),
        vocab AS (
            SELECT word, count(*) AS freq FROM tok
            WHERE len(word) > 0 GROUP BY word HAVING count(*) >= 5
        ),
        ranked AS (
            SELECT word, freq,
                   CAST(row_number() OVER (ORDER BY freq DESC, word ASC)
                        AS BIGINT) AS rank
            FROM vocab
        )
    """


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law OLS fit (text/zipf.py zipf_fit): ln(rank)/ln(freq)
    milli-quantized per type then exactly integer-summed (lm_score
    convention; milli keeps Σx·y inside int64 at a 10^9-type vocab),
    slope/intercept closed with one IEEE double expression each,
    floor'd to nano. The corpus-health one-number diagnostic."""
    from osm_spark.text.zipf import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents"), min_freq=5)


def _zipf_fit_oracle() -> str:
    return f"""
        WITH {_zipf_ranked_sql()},
        xy AS (
            SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1000, 0)
                        AS BIGINT) AS x,
                   CAST(round(ln(CAST(freq AS DOUBLE)) * 1000, 0)
                        AS BIGINT) AS y
            FROM ranked
        ),
        sums AS (
            SELECT count(*) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sxx
            FROM xy
        ),
        d AS (
            SELECT n, sx, sy, sxy, sxx,
                   CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
                   CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                        THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   END AS slope
            FROM sums
        )
        SELECT n AS n_types,
               CAST(floor(1000000000.0 * slope) AS BIGINT) AS slope_nano,
               CAST(floor(1000000000.0
                    * ((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
                       / CAST(n AS DOUBLE) / 1000.0)) AS BIGINT)
                   AS intercept_nano
        FROM d
    """


def q_region_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo×timeseries composition: event positions (the geofence
    arithmetic) → broadcast covering prejoin + codegen ray-cast refine →
    hourly OHLC rollup PER REGION (pipeline/rollup.py keyed by way_id).
    Chains the graft's spatial join into the hypertable family under
    ONE composed DuckDB replay (brute-force PIP → same window OHLC).

    Scale shape: the event stream is the 10^12-row side and never
    sorts — covering prejoin on the cell key, refine in codegen, then
    ONE map-side-combined exchange on (way_id, bucket); output is
    bounded by regions × span/width, independent of the event rate."""
    _prep(spark)
    from osm_spark.geo.hexgrid import hex_cell_expr
    from osm_spark.pipeline.geometry import build_way_cells, synth_polygons
    from osm_spark.pipeline.pages import CITIES
    from osm_spark.pipeline.rollup import rollup_ohlc
    from osm_spark.pipeline.spatial_join import pip_cover_expr

    ev = _t(spark, sf_dir, "events")
    did = F.col("event_id")
    city = (did % 10).cast("int")
    clat = F.element_at(F.array(*[F.lit(x[1]) for x in CITIES]), city + 1)
    clon = F.element_at(F.array(*[F.lit(x[2]) for x in CITIES]), city + 1)
    lat = clat + (did * 2654435761 % 2001 - 1000) / 1000.0 * _SQL_PT_SPREAD
    lon = clon + (did * 40503 % 2001 - 1000) / 1000.0 * _SQL_PT_SPREAD
    pts = ev.select(
        "event_id", "ts", "value", lat.alias("lat"), lon.alias("lon")
    ).withColumn("h3_9", hex_cell_expr("lat", "lon", 9))
    polygons = synth_polygons(spark)
    wc = F.broadcast(build_way_cells(polygons))
    vx = F.broadcast(polygons.select("way_id", "vlat", "vlon"))
    cand = pts.join(wc, pts["h3_9"] == F.col("cell")).select(
        "event_id", "ts", "value", "lat", "lon", "way_id"
    )
    hits = cand.join(vx, "way_id").filter(
        pip_cover_expr(F.col("lat"), F.col("lon"), F.col("vlat"), F.col("vlon"))
    )
    return rollup_ohlc(
        hits, key_col="way_id", ts_col="ts", id_col="event_id",
        val_col="value", width_s=3600,
    ).withColumnRenamed("key", "way_id")


def _region_ohlc_oracle() -> str:
    """Composed replay: brute-force PIP over event positions (the
    _geofence_oracle blocks, value riding along) → the _ohlc_rollup
    window selection keyed by (way_id, bucket)."""
    eps2 = repr(1e-12 * 1e-12)
    from osm_spark.pipeline.pages import CITIES

    lats = ", ".join(repr(float(x[1])) for x in CITIES)
    lons = ", ".join(repr(float(x[2])) for x in CITIES)
    sp = repr(float(_SQL_PT_SPREAD))
    return f"""
        WITH poly0(way_id, vlat, vlon) AS (VALUES
                {_polygons_values_sql()}),
        poly AS (
            SELECT CAST(way_id AS BIGINT) AS way_id,
                   CAST(vlat AS DOUBLE[]) AS vlat,
                   CAST(vlon AS DOUBLE[]) AS vlon
            FROM poly0
        ),
        pts AS (
            SELECT event_id AS point_id, ts, value,
                   ([{lats}])[CAST(event_id % 10 AS INT) + 1]
                     + (event_id * 2654435761 % 2001 - 1000) / 1000.0 * {sp} AS lat,
                   ([{lons}])[CAST(event_id % 10 AS INT) + 1]
                     + (event_id * 40503 % 2001 - 1000) / 1000.0 * {sp} AS lon
            FROM events
        ),
        ed AS (
            SELECT way_id, vlat, vlon, unnest(range(len(vlat))) AS i FROM poly
        ), e AS (
            SELECT way_id,
                   vlat[CAST(i AS INT) + 1] AS ay, vlon[CAST(i AS INT) + 1] AS ax,
                   vlat[CAST((i + 1) % len(vlat) AS INT) + 1] AS by,
                   vlon[CAST((i + 1) % len(vlat) AS INT) + 1] AS bx
            FROM ed
        ), c1 AS (
            SELECT p.point_id, p.lat, p.lon, e.way_id, e.ax, e.ay, e.bx, e.by,
                   e.bx - e.ax AS abx, e.by - e.ay AS aby,
                   p.lon - e.ax AS apx, p.lat - e.ay AS apy
            FROM pts p CROSS JOIN e
        ), c2 AS (
            SELECT *, abx * abx + aby * aby AS d,
                   ((ay > lat) <> (by > lat))
                   AND lon < abx * apy
                       / (CASE WHEN aby = 0 THEN 1.0 ELSE aby END) + ax AS crossed
            FROM c1
        ), c3 AS (
            SELECT *, CASE WHEN d > 0
                           THEN (apx * abx + apy * aby)
                                / (CASE WHEN d = 0 THEN 1.0 ELSE d END)
                           ELSE 0.0 END AS t0
            FROM c2
        ), c4 AS (
            SELECT *, LEAST(GREATEST(t0, 0.0), 1.0) AS t FROM c3
        ), c5 AS (
            SELECT *, apx - t * abx AS dx, apy - t * aby AS dy FROM c4
        ), hit AS (
            SELECT point_id, way_id,
                   SUM(CASE WHEN crossed THEN 1 ELSE 0 END) AS crossings,
                   MAX(CASE WHEN dx * dx + dy * dy <= {eps2} THEN 1 ELSE 0 END) AS on_edge
            FROM c5 GROUP BY point_id, way_id
        ),
        hits AS (
            SELECT h.way_id, p.ts, p.point_id AS event_id, p.value,
                   epoch_us(p.ts) // 3600000000 AS bucket
            FROM (SELECT point_id, way_id FROM hit
                  WHERE crossings % 2 = 1 OR on_edge = 1) h
            JOIN pts p USING (point_id)
        ),
        w AS (
            SELECT way_id, bucket, value,
                   row_number() OVER (PARTITION BY way_id, bucket
                       ORDER BY ts, event_id) AS rn_a,
                   row_number() OVER (PARTITION BY way_id, bucket
                       ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM hits
        )
        SELECT way_id, bucket,
               max(CASE WHEN rn_a = 1 THEN value END) AS open,
               max(value) AS high, min(value) AS low,
               max(CASE WHEN rn_d = 1 THEN value END) AS close,
               CAST(sum(CAST(round(value * 1000000, 0) AS BIGINT))
                    AS BIGINT) AS sum_micro,
               count(*) AS n
        FROM w GROUP BY way_id, bucket
    """


def q_ohlc_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental continuous-aggregate refresh (pipeline/rollup.py
    rollup_state/merge_rollup_states/finalize_rollup): the events table
    split 3 ways by event_id mod, each partial state built
    independently, merged WITHOUT rescanning history, finalized. The
    oracle is the FULL recompute over all events — merge(state(A),
    state(B), state(C)) must equal state(A∪B∪C) because every column
    is algebraic (struct picks, extrema, integer sums)."""
    from osm_spark.pipeline.rollup import (
        finalize_rollup,
        merge_rollup_states,
        rollup_state,
    )

    e = _t(spark, sf_dir, "events")
    parts = [e.where(F.col("event_id") % 3 == r) for r in range(3)]
    return finalize_rollup(
        merge_rollup_states(*[rollup_state(p, width_s=3600) for p in parts])
    )


def q_ohlc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC (streaming/rollup.py stream_ohlc): the events
    table arrives as an availableNow file stream, watermarked tumbling
    1 h windows accumulate the same algebraic state as the batch
    rollup, complete-mode memory sink. Oracle = the batch rollup
    replay: stream ≡ batch, the engine's streaming contract."""
    from osm_spark.streaming.rollup import run_stream_ohlc_batchlike

    return run_stream_ohlc_batchlike(
        spark, os.path.join(sf_dir, "events.parquet"), width_s=3600
    )


def q_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product top-10 (osm_spark/vector/mips.py) — the
    recsys ranking cosine cannot answer: corpus vectors are rescaled by
    a deterministic per-row factor (1 + vec_id % 4) so norms genuinely
    spread 4:1 (the parquet table is unit-norm and would degenerate to
    cosine). Gated on the exact path — provably the brute-force ground
    truth the oracle replays; the Range-LSH banded-augmentation
    candidate path (same exact scores, bounded recall) is
    pytest-verified (tests/test_mips.py)."""
    from osm_spark.vector.mips import mips_topk

    e = _t(spark, sf_dir, "embeddings")
    scale = (F.lit(1) + F.col("vec_id") % 4).cast("double")
    e = e.withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double") * scale)
    )
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return mips_topk(q, e, k=10)


def _mips_topk_oracle() -> str:
    return """
        WITH s AS (
            SELECT vec_id,
                   list_transform(embedding,
                                  x -> x::DOUBLE * (1 + vec_id % 4)) AS v
            FROM embeddings
        ),
        q AS (SELECT vec_id AS query_id, v AS qv FROM s WHERE vec_id < 8),
        d AS (
            SELECT q.query_id, s.vec_id,
                   round(list_sum(list_transform(range(64),
                       i -> q.qv[i+1] * s.v[i+1])), 6) AS dot
            FROM s CROSS JOIN q
        )
        SELECT query_id, vec_id, dot, CAST(rn AS INT) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY dot DESC, vec_id ASC) AS rn
            FROM d
        ) WHERE rn <= 10
    """


def q_mips_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed int8-quantize → MIPS chain (vector/mips.py
    mips_topk_int8 over vector/quantize.py): both sides absmax int8,
    EXACT integer dot (no float accumulation anywhere), one rescale per
    pair round-6. Same 4:1 norm-spread fixture as mips_topk; the oracle
    replays quantization + integer dot + rescale in full."""
    from osm_spark.vector.mips import mips_topk_int8

    e = _t(spark, sf_dir, "embeddings")
    scale = (F.lit(1) + F.col("vec_id") % 4).cast("double")
    e = e.withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double") * scale)
    )
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return mips_topk_int8(q, e, k=10)


def _mips_int8_oracle() -> str:
    return """
        WITH s AS (
            SELECT vec_id,
                   list_transform(embedding,
                                  x -> x::DOUBLE * (1 + vec_id % 4)) AS v
            FROM embeddings
        ),
        qv AS (
            SELECT vec_id, scale,
                   list_transform(v, x -> CASE WHEN scale = 0 THEN 0
                       ELSE greatest(-127, least(127,
                            CAST(round(x / scale) AS INT))) END) AS q
            FROM (
                SELECT vec_id, v,
                       COALESCE(list_max(list_transform(v, x -> abs(x))),
                                0.0) / 127.0 AS scale
                FROM s
            )
        ),
        qside AS (
            SELECT vec_id AS query_id, scale AS q_scale, q AS qq
            FROM qv WHERE vec_id < 8
        ),
        d AS (
            SELECT qside.query_id, c.vec_id,
                   CAST(list_sum(list_transform(range(64),
                       i -> CAST(qq[i+1] AS BIGINT)
                            * CAST(c.q[i+1] AS BIGINT))) AS BIGINT) AS idot,
                   qside.q_scale, c.scale AS c_scale
            FROM qv c CROSS JOIN qside
        ),
        r AS (
            SELECT query_id, vec_id, idot,
                   round(q_scale * c_scale * CAST(idot AS DOUBLE), 6)
                       AS dot_q
            FROM d
        )
        SELECT query_id, vec_id, idot, dot_q, CAST(rn AS INT) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY dot_q DESC, vec_id ASC) AS rn
            FROM r
        ) WHERE rn <= 10
    """


def _pq_ann_oracle() -> str:
    """Brute-force squared-L2 top-10 with the (distance, vec_id)
    tie-break — what LOSSLESS PQ (k_sub ≥ n, every distinct subvector
    its own codeword, ADC ≡ exact d2) must reproduce end-to-end."""
    return """
        WITH q AS (
            SELECT vec_id AS query_id, embedding
            FROM embeddings WHERE vec_id < 8
        ),
        d AS (
            SELECT q.query_id, e.vec_id,
                   list_sum(list_transform(range(1, 65), i ->
                       pow(CAST(q.embedding[i] AS DOUBLE)
                           - CAST(e.embedding[i] AS DOUBLE), 2))) AS d2
            FROM q CROSS JOIN embeddings e
        ),
        r AS (
            SELECT query_id, vec_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY d2 ASC, vec_id ASC
                   ) AS rank
            FROM d
        )
        SELECT query_id, CAST(rank AS INT) AS rank, vec_id
        FROM r WHERE rank <= 10
    """


def q_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (vector/pq.py), driver-gated LOSSLESS
    (the ivf_ann full-probe trick): k_sub ≥ n makes every distinct
    subvector its own codeword, so the whole machinery runs (per-
    subspace codebook train, m-code encode, ADC table + fold + top-k)
    and must equal brute-force squared-L2 top-10. The lossy production
    config's recall is pytest-property-tested (k-means is iterative
    and not economically SQL-replayable)."""
    from osm_spark.vector.pq import pq_encode, pq_search, pq_train

    e = _t(spark, sf_dir, "embeddings")
    cb = pq_train(e, dim=64, m=4, k_sub=500, iters=0)
    codes = pq_encode(e, cb, dim=64, m=4)
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_search(q, codes, cb, dim=64, m=4, topk=10)


def q_contours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster→vector marching squares, driver-gated: the per-tile
    applyInPandas vectorized case classification vs a DuckDB oracle that
    replays the pixel rasterization (Web-Mercator math) and the full
    16-case table over candidate 2×2 blocks."""
    _prep(spark)
    from osm_spark.geo.contours import contours, density_raster

    points = _sql_points(spark, sf_dir)
    return contours(density_raster(points, 12), threshold=1.0)



def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing over the documents token stream (budget 256):
    every document's pack id + offset from an EXACT global running
    token count, computed as a distributed two-phase prefix sum
    (bucketed parallel windows + broadcast prefix offsets) instead of
    the single-partition global window the oracle SQL uses — identical
    output, partition-parallel plan (osm_spark/text/packing.py)."""
    from osm_spark.text.packing import pack_sequences

    d = _t(spark, sf_dir, "documents")
    return pack_sequences(d, budget=256)


def q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source quota (cap 20 docs/source) by salted-
    digest rank — reproducible curation sampling, independent of
    partitioning and cluster size (osm_spark/text/sampling.py)."""
    from osm_spark.text.sampling import quota_sample

    d = _t(spark, sf_dir, "documents")
    return quota_sample(d, "source", 20, "doc_id").select(
        "doc_id", "source", "rk"
    )


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mixing: per-source keep fractions (1.0 / 0.5 /
    0.25, unknown sources fall to the 0.1 default) via the same salted
    digest-threshold membership as hash_sample — one map-stage filter,
    no shuffle (osm_spark/text/sampling.py)."""
    from osm_spark.text.sampling import mixture_sample

    d = _t(spark, sf_dir, "documents")
    weights = {
        **{f"src{i}": 1.0 for i in range(5)},
        **{f"src{i}": 0.5 for i in range(5, 10)},
        **{f"src{i}": 0.25 for i in range(10, 15)},
    }
    return mixture_sample(
        d, "source", weights, "doc_id", default_fraction=0.1
    ).select("doc_id", "source", "lang")


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~25% Bernoulli-by-key corpus sample: pure filter on
    a salted digest threshold — pushes to the scan, no shuffle, same
    membership on any engine (osm_spark/text/sampling.py)."""
    from osm_spark.text.sampling import hash_sample

    d = _t(spark, sf_dir, "documents")
    return hash_sample(d, "doc_id", 0.25).select("doc_id", "lang")


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential PII scrub (emails -> IPv4s -> +phone forms) with
    per-category counts and the md5 of the scrubbed text; patterns are
    Java-regex/RE2 common dialect so the oracle replays them exactly
    (osm_spark/text/redact.py)."""
    from osm_spark.text.redact import redact_pii

    d = _t(spark, sf_dir, "documents")
    return redact_pii(d).select(
        "doc_id", "n_emails", "n_ips", "n_phones", "redacted_fp"
    )


def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (duplicate word-3-gram fraction) — the
    boilerplate/spam signal of the standard quality recipe, pure Column
    sequence+slice n-grams (osm_spark/text/analysis.py)."""
    from osm_spark.text.analysis import repetition_stats

    d = _t(spark, sf_dir, "documents")
    total, distinct, ratio = repetition_stats("text", 3)
    return d.select(
        "doc_id",
        total.alias("n_3grams"),
        distinct.alias("distinct_3grams"),
        ratio.alias("repetition_ratio"),
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag documents sharing any word 5-gram
    with a benchmark set (synthesized deterministically as the 240-char
    prefix of every 41st document — eval items drawn from the same
    distribution). Benchmark gram keys broadcast; the corpus's only
    exchange is the per-doc partial-aggregated count
    (osm_spark/text/decontam.py)."""
    from osm_spark.text.decontam import decontaminate

    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 41 == 0).select(
        F.substring("text", 1, 240).alias("text")
    )
    return decontaminate(d, bench, n=5).select(
        "doc_id", "n_grams", "n_hits", "contaminated"
    )


_BLOOM_M, _BLOOM_K = 1 << 16, 3


def q_bloom_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter contamination pre-screen (text/bloom.py): the same
    benchmark fixture as ``decontaminate`` compressed to a 64-Kbit
    bitmap (k=3 md5-slice hashes), corpus grams probed against the
    broadcast word table — perfect recall, false positives by design,
    both replayed bit-for-bit in DuckDB."""
    from osm_spark.text.bloom import bloom_build, bloom_probe_docs

    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 41 == 0).select(
        F.substring("text", 1, 240).alias("text")
    )
    bloom = bloom_build(bench, _BLOOM_M, _BLOOM_K, n=5)
    return bloom_probe_docs(d, bloom, _BLOOM_M, _BLOOM_K, n=5)


def _bloom_oracle() -> str:
    m, k = _BLOOM_M, _BLOOM_K
    slices = ", ".join(f"({i})" for i in range(k))
    return f"""
        WITH bench AS (
            SELECT substr(text, 1, 240) AS btext
            FROM documents WHERE doc_id % 41 = 0
        ), bw AS (
            SELECT string_split(lower(btext), ' ') AS ws FROM bench
        ), bg AS (
            SELECT DISTINCT g
            FROM bw, unnest(list_distinct(list_transform(
                     range(1, len(ws) - 3),
                     i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2],
                                    ws[i+3], ws[i+4])))) AS t(g)
            WHERE len(ws) >= 5
        ), pos AS (
            SELECT DISTINCT
                   CAST('0x' || substr(md5(g), 1 + 8 * s.i, 8) AS BIGINT) % {m} AS p
            FROM bg, (VALUES {slices}) AS s(i)
        ), bits AS (
            SELECT CAST(p // 32 AS INT) AS word_idx,
                   bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
            FROM pos GROUP BY 1
        ), dw AS (
            SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
        ), dg AS (
            SELECT doc_id,
                   CASE WHEN len(ws) < 5 THEN CAST([] AS VARCHAR[])
                        ELSE list_distinct(list_transform(
                            range(1, len(ws) - 3),
                            i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2],
                                           ws[i+3], ws[i+4])))
                   END AS grams
            FROM dw
        ), probe AS (
            SELECT e.doc_id, e.g,
                   CAST('0x' || substr(md5(e.g), 1 + 8 * s.i, 8) AS BIGINT) % {m} AS p
            FROM (SELECT doc_id, unnest(grams) AS g FROM dg) e,
                 (VALUES {slices}) AS s(i)
        ), hit AS (
            SELECT doc_id, g,
                   CASE WHEN SUM(CASE WHEN (coalesce(b.bits, 0)
                                 & (CAST(1 AS BIGINT) << CAST(p % 32 AS INT))) <> 0
                                 THEN 1 ELSE 0 END) = {k}
                        THEN 1 ELSE 0 END AS cand
            FROM probe LEFT JOIN bits b ON b.word_idx = CAST(p // 32 AS INT)
            GROUP BY doc_id, g
        ), per_doc AS (
            SELECT doc_id, CAST(count(*) AS INT) AS n_grams,
                   CAST(sum(cand) AS INT) AS n_candidates
            FROM hit GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(p.n_grams, 0) AS n_grams,
               COALESCE(p.n_candidates, 0) AS n_candidates,
               COALESCE(p.n_candidates, 0) > 0 AS flagged
        FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    """


def q_canonical_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus URL canonicalization (osm_spark/functions/urls.py):
    lowercase scheme/host, strip default ports / fragments / tracking
    params, pure Column, dialect-common regex (no backrefs). Messy URLs
    synthesized deterministically from doc_id — the same CASE runs in
    the oracle."""
    from osm_spark.functions.urls import canonical_url, url_domain, url_host

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    u = (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit("HTTP://Example.COM:80/p/"), i,
                F.lit("?utm_source=feed&id="), i, F.lit("#top"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(
                F.lit("https://news.example.org/a/"), i,
                F.lit("?id="), i, F.lit("&utm_campaign=x&ref=kept"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 2,
            F.concat(F.lit("HTTPS://CDN.Example.net:443/i/"), i, F.lit(".jpg#frag")),
        )
        .when(
            F.col("doc_id") % 5 == 3,
            F.concat(F.lit("http://example.com/p/"), i, F.lit("?")),
        )
        .otherwise(F.concat(F.lit("not a url "), i))
    )
    w = d.select("doc_id", u.alias("url"))
    return w.select(
        "doc_id",
        "url",
        canonical_url("url").alias("canon_url"),
        url_host("url").alias("host"),
        url_domain("url").alias("domain"),
    )


def _link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic link graph over the documents table: each
    page links to 3 affine-hash neighbours mod the corpus size (the
    Common-Crawl link-graph stand-in; same arithmetic replays in SQL).
    Vertex count rides along via a 1-row cross join — no driver scalar."""
    d = _t(spark, sf_dir, "documents")
    n = d.agg(F.count("*").alias("n_docs"))
    base = d.select("doc_id").crossJoin(n)
    edge = lambda a, b: base.select(  # noqa: E731
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * a + b) % F.col("n_docs")).alias("dst"),
    )
    return edge(7, 1).unionByName(edge(13, 5)).unionByName(edge(31, 11))


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the synthetic link graph (osm_spark/graph/pagerank.py):
    3 iterations of the exact fixed-point integer recurrence, so the
    oracle's unrolled SQL replay hash-matches bit for bit (no float-sum
    order dependence)."""
    from osm_spark.graph.pagerank import pagerank

    pr = pagerank(_link_graph(spark, sf_dir), n_iter=3)
    return pr.select("id", "rank_scaled")


def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (graph/pagerank.py personalized_pagerank):
    teleport + dangling mass restricted to the seed set (doc_id % 50 ==
    0), same exact fixed-point integer recurrence — the oracle is the
    generated unrolled SQL replay (bit-exact, like pagerank's)."""
    from osm_spark.graph.pagerank import personalized_pagerank

    d = _t(spark, sf_dir, "documents")
    seeds = d.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("id")
    )
    pr = personalized_pagerank(_link_graph(spark, sf_dir), seeds, n_iter=3)
    return pr.select("id", "rank_scaled")


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (graph/hits.py) over the synthetic link
    graph: L1-normalized exact integer half-steps, 3 rounds — vs the
    generated unrolled SQL replay (HUGEINT normalization multiply)."""
    from osm_spark.graph.hits import hits

    return hits(_link_graph(spark, sf_dir), n_iter=3)


def _hits_oracle(n_iter: int = 3, scale: int = 10**9) -> str:
    """Generated unrolled replay of graph/hits.py: same raw sums, same
    decimal/HUGEINT normalization multiply, same truncating div."""
    rounds = []
    for k in range(n_iter):
        rounds.append(f"""
            hr{k} AS (SELECT e.src AS id, CAST(sum(a.a) AS BIGINT) AS h
                      FROM edges e JOIN a{k} a ON a.id = e.dst
                      GROUP BY e.src),
            ha{k} AS (SELECT v.id, COALESCE(h.h, 0) AS h
                      FROM verts v LEFT JOIN hr{k} h USING (id)),
            ht{k} AS (SELECT CAST(sum(h) AS HUGEINT) AS tot FROM ha{k}),
            h{k + 1} AS (SELECT id,
                         CASE WHEN tot > 0 THEN CAST(
                              (CAST({scale} AS HUGEINT) * h) // tot AS BIGINT)
                              ELSE 0 END AS h
                         FROM ha{k}, ht{k}),
            ar{k} AS (SELECT e.dst AS id, CAST(sum(h.h) AS BIGINT) AS a
                      FROM edges e JOIN h{k + 1} h ON h.id = e.src
                      GROUP BY e.dst),
            aa{k} AS (SELECT v.id, COALESCE(a.a, 0) AS a
                      FROM verts v LEFT JOIN ar{k} a USING (id)),
            at{k} AS (SELECT CAST(sum(a) AS HUGEINT) AS tot FROM aa{k}),
            a{k + 1} AS (SELECT id,
                         CASE WHEN tot > 0 THEN CAST(
                              (CAST({scale} AS HUGEINT) * a) // tot AS BIGINT)
                              ELSE 0 END AS a
                         FROM aa{k}, at{k})
        """)
    body = ",".join(rounds)
    return f"""
        WITH nn AS (SELECT count(*) AS n_docs FROM documents),
        edges AS (
            SELECT doc_id AS src, (doc_id * 7 + 1) % n_docs AS dst
            FROM documents, nn
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 5) % n_docs FROM documents, nn
            UNION ALL
            SELECT doc_id, (doc_id * 31 + 11) % n_docs FROM documents, nn
        ),
        verts AS (SELECT DISTINCT id FROM (
            SELECT src AS id FROM edges
            UNION ALL SELECT dst FROM edges)),
        a0 AS (SELECT id, CAST({scale} AS BIGINT) AS a FROM verts),
        {body}
        SELECT h.id, h.h AS hub_scaled, a.a AS auth_scaled
        FROM h{n_iter} h JOIN a{n_iter} a USING (id)
    """


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation (graph/lpa.py) over
    the chain+shortcut graph connected_components gates on — pinned
    plurality/smallest-label tie-break, fixed 3 rounds, vs the
    generated unrolled SQL replay."""
    from osm_spark.graph.lpa import label_propagation

    d = _t(spark, sf_dir, "documents")
    n = d.agg(F.count("*").alias("n_docs"))
    chain = d.where(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("a"), (F.col("doc_id") - 1).alias("b")
    )
    shortcut = (
        d.where(F.col("doc_id") % 17 == 0)
        .crossJoin(n)
        .select(
            F.col("doc_id").alias("a"),
            ((F.col("doc_id") * 3 + 2) % F.col("n_docs")).alias("b"),
        )
    )
    pairs = chain.unionByName(shortcut)
    sym = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    ).distinct()
    return label_propagation(sym, n_iter=3)


def _lpa_oracle(n_iter: int = 3) -> str:
    """Generated unrolled replay of graph/lpa.py on the components
    graph: per-round plurality with the (cnt DESC, label ASC) pick."""
    rounds = []
    for k in range(n_iter):
        rounds.append(f"""
            v{k} AS (SELECT s.u AS id, l.label, count(*) AS cnt
                     FROM sym s JOIN l{k} l ON l.id = s.v
                     GROUP BY s.u, l.label),
            w{k} AS (SELECT id, label FROM (
                         SELECT id, label, ROW_NUMBER() OVER (
                             PARTITION BY id
                             ORDER BY cnt DESC, label ASC) AS rn
                         FROM v{k}) WHERE rn = 1),
            l{k + 1} AS (SELECT l.id, COALESCE(w.label, l.label) AS label
                         FROM l{k} l LEFT JOIN w{k} w USING (id))
        """)
    body = ",".join(rounds)
    return f"""
        WITH nn AS (SELECT count(*) AS n_docs FROM documents),
        pairs AS (
            SELECT doc_id AS a, doc_id - 1 AS b FROM documents
            WHERE doc_id % 10 <> 0
            UNION ALL
            SELECT doc_id, (doc_id * 3 + 2) % n_docs
            FROM documents, nn WHERE doc_id % 17 = 0
        ),
        sym AS (SELECT a AS u, b AS v FROM pairs
                UNION SELECT b, a FROM pairs),
        verts AS (SELECT DISTINCT u AS id FROM sym),
        l0 AS (SELECT id, id AS label FROM verts),
        {body}
        SELECT id, label FROM l{n_iter}
    """


def _ppr_oracle(n_iter: int = 3, scale: int = 10**12) -> str:
    """Generated unrolled replay of personalized_pagerank: the pagerank
    oracle's round shape with the teleport/dangling numerators gated by
    is_seed and divided by |S| instead of N."""
    base_num = 15 * scale
    rounds = []
    for k in range(n_iter):
        rounds.append(f"""
            d{k} AS (SELECT CAST(COALESCE(SUM(CASE WHEN d.id IS NULL
                                THEN r.r END), 0) AS BIGINT) AS dang
                   FROM r{k} r LEFT JOIN deg d USING (id)),
            s{k} AS (SELECT e.dst AS id,
                          CAST(SUM((85 * r.r) // (100 * d.out_deg))
                               AS BIGINT) AS in_sum
                   FROM edges e JOIN r{k} r ON r.id = e.src
                                JOIN deg d ON d.id = e.src
                   GROUP BY e.dst),
            r{k + 1} AS (SELECT v.id, v.is_seed,
                          CAST(({base_num} * v.is_seed) // (100 * ns.n_s)
                               + COALESCE(s.in_sum, 0)
                               + (85 * dd.dang * v.is_seed) // (100 * ns.n_s)
                               AS BIGINT) AS r
                   FROM verts v LEFT JOIN s{k} s USING (id), ns, dd{k} dd)
        """.replace(f"dd{k} dd", f"d{k} dd"))
    body = ",".join(rounds)
    return f"""
        WITH nn AS (SELECT count(*) AS n_docs FROM documents),
        edges AS (
            SELECT doc_id AS src, (doc_id * 7 + 1) % n_docs AS dst
            FROM documents, nn
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 5) % n_docs FROM documents, nn
            UNION ALL
            SELECT doc_id, (doc_id * 31 + 11) % n_docs FROM documents, nn
        ),
        verts0 AS (SELECT DISTINCT id FROM (
            SELECT src AS id FROM edges
            UNION ALL SELECT dst FROM edges)),
        verts AS (SELECT id,
                         CASE WHEN id % 50 = 0 THEN 1 ELSE 0 END AS is_seed
                  FROM verts0),
        ns AS (SELECT CAST(sum(is_seed) AS BIGINT) AS n_s FROM verts),
        deg AS (SELECT src AS id, count(*) AS out_deg
                FROM edges GROUP BY src),
        r0 AS (SELECT id, is_seed, ({scale} * is_seed) // n_s AS r
               FROM verts, ns),
        {body}
        SELECT id, r AS rank_scaled FROM r{n_iter}
    """


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (osm_spark/graph/components.py) over a
    deterministic chain+shortcut graph: runs of 10 consecutive doc_ids
    linked in a path (diameter 9 — exercises the pointer jump), with
    every 17th doc adding a shortcut edge that merges runs. The oracle is
    a DuckDB recursive transitive closure — converged min-labels are
    round-count-independent, so the iterative algorithm IS SQL-checkable."""
    from osm_spark.graph.components import connected_components

    d = _t(spark, sf_dir, "documents")
    n = d.agg(F.count("*").alias("n_docs"))
    chain = d.where(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("a"), (F.col("doc_id") - 1).alias("b")
    )
    shortcut = (
        d.where(F.col("doc_id") % 17 == 0)
        .crossJoin(n)
        .select(
            F.col("doc_id").alias("a"),
            ((F.col("doc_id") * 3 + 2) % F.col("n_docs")).alias("b"),
        )
    )
    return connected_components(chain.unionByName(shortcut))


def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts + local clustering coefficient
    (osm_spark/graph/triangles.py) over the synthetic link graph —
    degree-ordered orientation so each triangle is generated once and
    hub fan-out never concentrates on one reducer. The oracle replays
    the count with the canonical id-ordered triple join (orientation-
    independent result); cc closes with the same floor'd double
    division in both engines."""
    from osm_spark.graph.triangles import triangle_counts

    return triangle_counts(_link_graph(spark, sf_dir))


_RC_KS = [0, 1, 2, 3, 4, 5, 6]


def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient ladder (graph/richclub.py) over the
    synthetic link graph: hub-core density φ(k) for k = 0..6, two passes
    for the whole ladder — vs a DuckDB replay on the shared canonical
    edge/degree CTEs."""
    from osm_spark.graph.richclub import rich_club

    return rich_club(_link_graph(spark, sf_dir), _RC_KS)


def _rich_club_oracle() -> str:
    ks = ", ".join(f"({k})" for k in _RC_KS)
    return f"""
        WITH n AS (SELECT count(*) AS n_docs FROM documents),
        e0 AS (
            SELECT doc_id AS src, (doc_id * 7 + 1) % n_docs AS dst
            FROM documents, n
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 5) % n_docs FROM documents, n
            UNION ALL
            SELECT doc_id, (doc_id * 31 + 11) % n_docs FROM documents, n
        ),
        e AS (
            SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
            FROM e0 WHERE src <> dst
        ),
        deg AS (
            SELECT id, count(*) AS deg FROM (
                SELECT u AS id FROM e UNION ALL SELECT v FROM e
            ) GROUP BY id
        ),
        ks(k) AS (VALUES {ks}),
        nk AS (
            SELECT k, count(*) AS n_k FROM ks, deg WHERE deg > k GROUP BY k
        ),
        ed AS (
            SELECT least(du.deg, dv.deg) AS min_deg
            FROM e JOIN deg du ON du.id = e.u JOIN deg dv ON dv.id = e.v
        ),
        ek AS (
            SELECT k, count(*) AS e_k FROM ks, ed WHERE min_deg > k GROUP BY k
        )
        SELECT ks.k,
               COALESCE(nk.n_k, 0) AS n_k,
               COALESCE(ek.e_k, 0) AS e_k,
               CASE WHEN COALESCE(nk.n_k, 0) >= 2 THEN
                   CAST(round(2e6 * COALESCE(ek.e_k, 0)::DOUBLE
                              / (nk.n_k::DOUBLE * (nk.n_k::DOUBLE - 1.0)), 0)
                        AS BIGINT)
               END AS phi_micro
        FROM ks LEFT JOIN nk ON nk.k = ks.k LEFT JOIN ek ON ek.k = ks.k
    """


def _triangle_counts_oracle() -> str:
    return """
        WITH n AS (SELECT count(*) AS n_docs FROM documents),
        e0 AS (
            SELECT doc_id AS src, (doc_id * 7 + 1) % n_docs AS dst
            FROM documents, n
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 5) % n_docs FROM documents, n
            UNION ALL
            SELECT doc_id, (doc_id * 31 + 11) % n_docs FROM documents, n
        ),
        e AS (
            SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
            FROM e0 WHERE src <> dst
        ),
        deg AS (
            SELECT id, count(*) AS deg FROM (
                SELECT u AS id FROM e UNION ALL SELECT v FROM e
            ) GROUP BY id
        ),
        tri AS (
            SELECT a.u AS x, a.v AS y, b.v AS z
            FROM e a
            JOIN e b ON b.u = a.v
            JOIN e c ON c.u = a.u AND c.v = b.v
        ),
        tc AS (
            SELECT id, count(*) AS n_tri FROM (
                SELECT x AS id FROM tri
                UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri
            ) GROUP BY id
        )
        SELECT d.id, d.deg,
               COALESCE(tc.n_tri, 0) AS n_tri,
               CASE WHEN d.deg >= 2 THEN
                   CAST(floor(2000000.0 * COALESCE(tc.n_tri, 0)
                        / CAST(d.deg * (d.deg - 1) AS DOUBLE)) AS BIGINT)
               ELSE 0 END AS cc_micro
        FROM deg d LEFT JOIN tc ON tc.id = d.id
    """


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbour link prediction (osm_spark/graph/linkpred.py)
    over the synthetic link graph: Jaccard (ppm) + Resource-Allocation
    (nano) scores for every NON-adjacent pair with ≥2 shared
    neighbours. All three scores are integer-exact (RA uses bigint
    integer division precisely so no libm log enters the hash); the
    oracle replays the wedge generation + anti join in SQL."""
    from osm_spark.graph.linkpred import link_prediction

    return link_prediction(_link_graph(spark, sf_dir), min_common=2)


def _link_prediction_oracle() -> str:
    return """
        WITH n AS (SELECT count(*) AS n_docs FROM documents),
        e0 AS (
            SELECT doc_id AS src, (doc_id * 7 + 1) % n_docs AS dst
            FROM documents, n
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 5) % n_docs FROM documents, n
            UNION ALL
            SELECT doc_id, (doc_id * 31 + 11) % n_docs FROM documents, n
        ),
        e AS (
            SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
            FROM e0 WHERE src <> dst
        ),
        deg AS (
            SELECT id, count(*) AS deg FROM (
                SELECT u AS id FROM e UNION ALL SELECT v FROM e
            ) GROUP BY id
        ),
        adj AS (
            SELECT a.z, a.nb,
                   CAST(1000000000 AS BIGINT) // d.deg AS ra_term,
                   CASE WHEN d.deg >= 2
                        THEN CAST(round(1000000.0 / ln(d.deg), 0) AS BIGINT)
                        ELSE 0 END AS aa_term
            FROM (
                SELECT u AS z, v AS nb FROM e
                UNION ALL SELECT v, u FROM e
            ) a JOIN deg d ON d.id = a.z
        ),
        s AS (
            SELECT l.nb AS n1, r.nb AS n2,
                   count(*) AS common,
                   CAST(sum(l.ra_term) AS BIGINT) AS ra_nano,
                   CAST(sum(l.aa_term) AS BIGINT) AS aa_micro
            FROM adj l JOIN adj r ON r.z = l.z AND l.nb < r.nb
            GROUP BY l.nb, r.nb
            HAVING count(*) >= 2
        ),
        ne AS (
            SELECT s.* FROM s
            WHERE NOT EXISTS (
                SELECT 1 FROM e WHERE e.u = s.n1 AND e.v = s.n2
            )
        )
        SELECT ne.n1 AS u, ne.n2 AS v, ne.common,
               d1.deg AS deg_u, d2.deg AS deg_v,
               (CAST(1000000 AS BIGINT) * ne.common)
                   // (d1.deg + d2.deg - ne.common) AS jaccard_ppm,
               ne.ra_nano, ne.aa_micro
        FROM ne
        JOIN deg d1 ON d1.id = ne.n1
        JOIN deg d2 ON d2.id = ne.n2
        WHERE d1.deg + d2.deg - ne.common > 0
    """


def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman-Girvan modularity (graph/modularity.py) of the synthetic
    link graph under the deterministic labeling doc_id % 10 — exact
    bigint m / m_intra / Σd_c² closed by one IEEE double expression,
    floor'd to nano (assortativity precedent). The quality metric that
    pairs with label_propagation/components, gated on a labeling both
    engines can replay."""
    from osm_spark.graph.modularity import modularity

    e = _link_graph(spark, sf_dir)
    labels = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), (F.col("doc_id") % 10).alias("label")
    )
    return modularity(e, labels)


def _modularity_oracle() -> str:
    return """
        WITH n AS (SELECT count(*) AS n_docs FROM documents),
        e0 AS (
            SELECT doc_id AS src, (doc_id * 7 + 1) % n_docs AS dst
            FROM documents, n
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 5) % n_docs FROM documents, n
            UNION ALL
            SELECT doc_id, (doc_id * 31 + 11) % n_docs FROM documents, n
        ),
        e AS (
            SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
            FROM e0 WHERE src <> dst
        ),
        deg AS (
            SELECT id, count(*) AS deg FROM (
                SELECT u AS id FROM e UNION ALL SELECT v FROM e
            ) GROUP BY id
        ),
        counts AS (
            SELECT count(*) AS m,
                   CAST(sum(CASE WHEN u % 10 = v % 10 THEN 1 ELSE 0 END)
                        AS BIGINT) AS m_intra
            FROM e
        ),
        dc AS (
            SELECT id % 10 AS lab, CAST(sum(deg) AS BIGINT) AS d_c
            FROM deg GROUP BY id % 10
        ),
        dsq AS (
            SELECT count(*) AS n_communities,
                   CAST(sum(d_c * d_c) AS BIGINT) AS sdc2
            FROM dc
        )
        SELECT m, n_communities,
               CASE WHEN m > 0 THEN CAST(floor(
                   1000000000.0
                   * ((4.0 * CAST(m AS DOUBLE) * CAST(m_intra AS DOUBLE)
                       - CAST(sdc2 AS DOUBLE))
                      / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)))
               ) AS BIGINT) END AS q_nano
        FROM counts, dsq
    """


_KTRUSS_ORACLE_ROUNDS = 6


def q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-truss extraction (graph/ktruss.py) over the kcore fixture graph
    (per-5-doc triangles + 2-hop tails + affine shortcuts): every chain
    edge peels away — triangle-free by construction — and the support
    recount cascades like the kcore peel. Oracle = the bounded
    unrolled SQL peel (extra rounds past the fixpoint are no-ops; the
    engine raises if IT needed more — the kcore precedent)."""
    from osm_spark.graph.ktruss import ktruss

    d = _t(spark, sf_dir, "documents")
    n = d.agg(F.count("*").alias("n_docs"))
    did = F.col("doc_id")
    chain = d.where(did % 5 != 0).select(
        (did - 1).alias("src"), did.alias("dst")
    )
    closer = d.where(did % 5 == 2).select(
        (did - 2).alias("src"), did.alias("dst")
    )
    shortcut = (
        d.where(did % 35 == 0)
        .crossJoin(n)
        .select(did.alias("src"), ((did * 3 + 7) % F.col("n_docs")).alias("dst"))
    )
    edges = chain.unionByName(closer).unionByName(shortcut)
    return ktruss(edges, k=3, max_iter=_KTRUSS_ORACLE_ROUNDS)


def _ktruss_oracle() -> str:
    """Unrolled synchronous support peel at k=3 (need = 1 triangle per
    edge): round i recounts triangles on round i−1's edge set (edges
    stored u<v, so the id-ordered triple join finds each triangle
    once) and keeps reinforced edges."""
    rounds = []
    for i in range(1, _KTRUSS_ORACLE_ROUNDS + 1):
        p = i - 1
        rounds.append(f"""
        t{p} AS MATERIALIZED (
            SELECT a.u AS x, a.v AS y, b.v AS z
            FROM e{p} a
            JOIN e{p} b ON b.u = a.v
            JOIN e{p} c ON c.u = a.u AND c.v = b.v
        ),
        s{p} AS MATERIALIZED (
            SELECT e.u, e.v, COALESCE(p.sup, 0) AS support
            FROM e{p} e LEFT JOIN (
                SELECT a AS u, b AS v, count(*) AS sup FROM (
                    SELECT x AS a, y AS b FROM t{p}
                    UNION ALL SELECT x, z FROM t{p}
                    UNION ALL SELECT y, z FROM t{p}
                ) GROUP BY a, b
            ) p USING (u, v)
        ),
        e{i} AS MATERIALIZED (
            SELECT u, v FROM s{p} WHERE support >= 1
        )""")
    body = ",".join(rounds)
    r = _KTRUSS_ORACLE_ROUNDS
    return f"""
        WITH nn AS (SELECT count(*) AS n_docs FROM documents),
        pairs AS (
            SELECT doc_id - 1 AS a, doc_id AS b FROM documents
            WHERE doc_id % 5 <> 0
            UNION ALL
            SELECT doc_id - 2, doc_id FROM documents WHERE doc_id % 5 = 2
            UNION ALL
            SELECT doc_id, (doc_id * 3 + 7) % n_docs
            FROM documents, nn WHERE doc_id % 35 = 0
        ),
        e0 AS MATERIALIZED (
            SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
            FROM pairs WHERE a <> b
        ),
        {body},
        tf AS MATERIALIZED (
            SELECT a.u AS x, a.v AS y, b.v AS z
            FROM e{r} a
            JOIN e{r} b ON b.u = a.v
            JOIN e{r} c ON c.u = a.u AND c.v = b.v
        )
        SELECT e.u, e.v, COALESCE(p.sup, 0) AS support
        FROM e{r} e LEFT JOIN (
            SELECT a AS u, b AS v, count(*) AS sup FROM (
                SELECT x AS a, y AS b FROM tf
                UNION ALL SELECT x, z FROM tf
                UNION ALL SELECT y, z FROM tf
            ) GROUP BY a, b
        ) p USING (u, v)
    """


def q_weighted_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-weighted PageRank (graph/pagerank.py weighted_pagerank)
    over the link graph with deterministic multiplicities w = 1 +
    (src + dst) % 3 — per-edge (85·r·w) div (100·w_out) exact bigints,
    same dropped-remainder convention as the unweighted gate; oracle =
    the generated unrolled weighted replay."""
    from osm_spark.graph.pagerank import weighted_pagerank

    e = _link_graph(spark, sf_dir).select(
        "src", "dst", (F.lit(1) + (F.col("src") + F.col("dst")) % 3).alias("w")
    )
    return weighted_pagerank(e, n_iter=3).select("id", "rank_scaled")


def _wpr_oracle(n_iter: int = 3, scale: int = 10**12) -> str:
    """Generated unrolled replay of weighted_pagerank — the pagerank
    oracle's round shape with w_out replacing out_deg and the per-edge
    weighted numerator."""
    base_num = 15 * scale
    rounds = []
    for k in range(n_iter):
        rounds.append(f"""
            d{k} AS (SELECT CAST(COALESCE(SUM(CASE WHEN w.id IS NULL
                                THEN r.r END), 0) AS BIGINT) AS dang
                     FROM r{k} r LEFT JOIN wout w USING (id)),
            s{k} AS (SELECT e.dst AS id,
                            CAST(SUM((85 * r.r * e.w) // (100 * w.w_out))
                                 AS BIGINT) AS in_sum
                     FROM edges e JOIN r{k} r ON r.id = e.src
                                  JOIN wout w ON w.id = e.src
                     GROUP BY e.dst),
            r{k + 1} AS (SELECT v.id,
                            CAST({base_num} // (100 * nv.n_v)
                                 + COALESCE(s.in_sum, 0)
                                 + (85 * dd.dang) // (100 * nv.n_v)
                                 AS BIGINT) AS r
                         FROM verts v LEFT JOIN s{k} s USING (id), nv, d{k} dd)
        """)
    body = ",".join(rounds)
    return f"""
        WITH nn AS (SELECT count(*) AS n_docs FROM documents),
        e0 AS (
            SELECT doc_id AS src, (doc_id * 7 + 1) % n_docs AS dst
            FROM documents, nn
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 5) % n_docs FROM documents, nn
            UNION ALL
            SELECT doc_id, (doc_id * 31 + 11) % n_docs FROM documents, nn
        ),
        edges AS (SELECT src, dst, 1 + (src + dst) % 3 AS w FROM e0),
        verts AS (SELECT DISTINCT id FROM (
            SELECT src AS id FROM edges
            UNION ALL SELECT dst FROM edges)),
        nv AS (SELECT count(*) AS n_v FROM verts),
        wout AS (SELECT src AS id, CAST(sum(w) AS BIGINT) AS w_out
                 FROM edges GROUP BY src),
        r0 AS (SELECT id, {scale} // n_v AS r FROM verts, nv),
        {body}
        SELECT id, r AS rank_scaled FROM r{n_iter}
    """


def q_lpa_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed graph chain: label_propagation (3 synchronous rounds)
    finds communities on the chain+shortcut graph, modularity scores
    THAT labeling — find → evaluate, chained under one oracle (the LPA
    unrolled replay nested as a subquery inside the modularity
    formula). Attests the two operators' schema/dtype contract
    composes, not just each in isolation."""
    from osm_spark.graph.lpa import label_propagation
    from osm_spark.graph.modularity import modularity

    d = _t(spark, sf_dir, "documents")
    n = d.agg(F.count("*").alias("n_docs"))
    chain = d.where(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") - 1).alias("dst")
    )
    shortcut = (
        d.where(F.col("doc_id") % 17 == 0)
        .crossJoin(n)
        .select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * 3 + 2) % F.col("n_docs")).alias("dst"),
        )
    )
    edges = chain.unionByName(shortcut)
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    labels = label_propagation(sym, n_iter=3)
    return modularity(edges, labels)


def _lpa_modularity_oracle() -> str:
    return f"""
        WITH labs AS (SELECT * FROM ({_lpa_oracle()})),
        nn AS (SELECT count(*) AS n_docs FROM documents),
        pairs AS (
            SELECT doc_id AS a, doc_id - 1 AS b FROM documents
            WHERE doc_id % 10 <> 0
            UNION ALL
            SELECT doc_id, (doc_id * 3 + 2) % n_docs
            FROM documents, nn WHERE doc_id % 17 = 0
        ),
        e AS (
            SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
            FROM pairs WHERE a <> b
        ),
        deg AS (
            SELECT id, count(*) AS deg FROM (
                SELECT u AS id FROM e UNION ALL SELECT v FROM e
            ) GROUP BY id
        ),
        counts AS (
            SELECT count(*) AS m,
                   CAST(sum(CASE WHEN lu.label = lv.label THEN 1 ELSE 0 END)
                        AS BIGINT) AS m_intra
            FROM e JOIN labs lu ON lu.id = e.u JOIN labs lv ON lv.id = e.v
        ),
        dc AS (
            SELECT l.label AS lab, CAST(sum(d.deg) AS BIGINT) AS d_c
            FROM deg d JOIN labs l ON l.id = d.id GROUP BY l.label
        ),
        dsq AS (
            SELECT count(*) AS n_communities,
                   CAST(sum(d_c * d_c) AS BIGINT) AS sdc2
            FROM dc
        )
        SELECT m, n_communities,
               CASE WHEN m > 0 THEN CAST(floor(
                   1000000000.0
                   * ((4.0 * CAST(m AS DOUBLE) * CAST(m_intra AS DOUBLE)
                       - CAST(sdc2 AS DOUBLE))
                      / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)))
               ) AS BIGINT) END AS q_nano
        FROM counts, dsq
    """


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity (graph/linkpred.py
    degree_assortativity) of the synthetic link graph — one (m, r_nano)
    row. Exact bigint sums over the direction-doubled edge list close
    with a single IEEE double expression (no sqrt needed: the doubled
    list makes both marginals identical), floor'd to nano-units — the
    gearys_c cross-engine precedent."""
    from osm_spark.graph.linkpred import degree_assortativity

    return degree_assortativity(_link_graph(spark, sf_dir))


def _assortativity_oracle() -> str:
    return """
        WITH n AS (SELECT count(*) AS n_docs FROM documents),
        e0 AS (
            SELECT doc_id AS src, (doc_id * 7 + 1) % n_docs AS dst
            FROM documents, n
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 5) % n_docs FROM documents, n
            UNION ALL
            SELECT doc_id, (doc_id * 31 + 11) % n_docs FROM documents, n
        ),
        e AS (
            SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
            FROM e0 WHERE src <> dst
        ),
        deg AS (
            SELECT id, count(*) AS deg FROM (
                SELECT u AS id FROM e UNION ALL SELECT v FROM e
            ) GROUP BY id
        ),
        ed AS (
            SELECT du.deg AS x, dv.deg AS y
            FROM e JOIN deg du ON du.id = e.u JOIN deg dv ON dv.id = e.v
        ),
        sums AS (
            SELECT count(*) AS m,
                   CAST(sum(x + y) AS BIGINT) AS sx,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x + y * y) AS BIGINT) AS sxx
            FROM ed
        )
        SELECT m,
               CASE WHEN CAST(2 * m AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                    THEN CAST(floor(
                        1000000000.0
                        * (CAST(2 * m AS DOUBLE) * CAST(2 * sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        / (CAST(2 * m AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    ) AS BIGINT)
               END AS r_nano
        FROM sums
    """


_KCORE_ORACLE_ROUNDS = 10


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core extraction (osm_spark/graph/kcore.py) over a graph built
    to peel: per 5-doc group a triangle (r=0,1,2) with a 2-hop tail
    (r=3,4), plus affine shortcut edges every 35th doc. Tails peel away
    over multiple synchronous rounds; the oracle replays the peel as a
    bounded unrolled SQL round chain (fixpoint is order-independent and
    the engine raises if unconverged, so R unrolled rounds ≥ engine
    rounds ⇒ exact equality — the pagerank unrolled-replay precedent)."""
    from osm_spark.graph.kcore import kcore

    d = _t(spark, sf_dir, "documents")
    n = d.agg(F.count("*").alias("n_docs"))
    did = F.col("doc_id")
    chain = d.where(did % 5 != 0).select(
        (did - 1).alias("src"), did.alias("dst")
    )
    closer = d.where(did % 5 == 2).select(
        (did - 2).alias("src"), did.alias("dst")
    )
    shortcut = (
        d.where(did % 35 == 0)
        .crossJoin(n)
        .select(did.alias("src"), ((did * 3 + 7) % F.col("n_docs")).alias("dst"))
    )
    edges = chain.unionByName(closer).unionByName(shortcut)
    return kcore(edges, k=2, max_iter=_KCORE_ORACLE_ROUNDS)


def _kcore_oracle() -> str:
    """Unrolled synchronous peel: round i keeps vertices with degree ≥ 2
    in round i−1's edge set, then the induced edges. Extra rounds past
    the fixpoint are no-ops, so unrolling more rounds than the engine
    needed is safe (the engine raises if IT needed more)."""
    rounds = []
    for i in range(1, _KCORE_ORACLE_ROUNDS + 1):
        p = i - 1
        rounds.append(f"""
        v{i} AS MATERIALIZED (
            SELECT id FROM (
                SELECT u AS id FROM e{p} UNION ALL SELECT v FROM e{p}
            ) GROUP BY id HAVING count(*) >= 2
        ),
        e{i} AS MATERIALIZED (
            SELECT e.u, e.v FROM e{p} e
            JOIN v{i} a ON a.id = e.u
            JOIN v{i} b ON b.id = e.v
        )""")
    last = _KCORE_ORACLE_ROUNDS
    return f"""
        WITH n AS (SELECT count(*) AS n_docs FROM documents),
        raw AS (
            SELECT doc_id - 1 AS src, doc_id AS dst FROM documents
            WHERE doc_id % 5 <> 0
            UNION ALL
            SELECT doc_id - 2, doc_id FROM documents WHERE doc_id % 5 = 2
            UNION ALL
            SELECT doc_id, (doc_id * 3 + 7) % n_docs FROM documents, n
            WHERE doc_id % 35 = 0
        ),
        e0 AS MATERIALIZED (
            SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
            FROM raw WHERE src <> dst
        ),{",".join(rounds)}
        SELECT id, count(*) AS deg FROM (
            SELECT u AS id FROM e{last} UNION ALL SELECT v FROM e{last}
        ) GROUP BY id
    """


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup: canonicalize messy synthetic URLs (97 pages per
    canonical target collide across tracking-param / default-port /
    fragment variants), then keep the longest document per canonical URL
    (tie: min doc_id) — the standard keep-best-version crawl dedup."""
    from osm_spark.functions.urls import canonical_url

    d = _t(spark, sf_dir, "documents")
    slot = (F.col("doc_id") % 97).cast("string")
    raw = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("HTTP://Example.COM:80/page/"), slot, F.lit("#frag")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("http://example.com/page/"), slot, F.lit("?utm_source=x")),
        )
        .otherwise(F.concat(F.lit("http://example.com/page/"), slot))
    )
    # One max_by/count aggregate instead of two window passes: map-side
    # combine pre-reduces each mapper to one pre-winner (+ a partial
    # count) per canonical URL, so a hot URL shuffles <= #mappers rows
    # where the row_number window would funnel every duplicate into one
    # task. The (n_chars, -doc_id) ordering struct is total.
    return (
        d.select(
            "doc_id",
            F.length("text").cast("long").alias("n_chars"),
            raw.alias("url"),
        )
        .withColumn("canon_url", canonical_url("url"))
        .groupBy("canon_url")
        .agg(
            F.max_by(
                F.struct("doc_id", "n_chars"),
                F.struct(
                    F.col("n_chars").alias("nc"),
                    (-F.col("doc_id")).alias("neg_id"),
                ),
            ).alias("_w"),
            F.count("*").alias("n_dups"),
        )
        .select(
            "canon_url",
            F.col("_w.doc_id").alias("keeper_id"),
            F.col("_w.n_chars").alias("keeper_len"),
            "n_dups",
        )
    )


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registrable-domain corpus profile over synthetic multi-host
    URLs: doc count, distinct hosts, token mass, mean doc length — the
    domain-level quality table a crawl curation pipeline keys on."""
    from osm_spark.functions.urls import url_domain, url_host

    d = _t(spark, sf_dir, "documents")
    host = F.concat(
        F.lit("h"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".site"), (F.col("doc_id") % 3).cast("string"),
        F.lit(".example"),
    )
    u = F.concat(F.lit("https://"), host, F.lit("/d/"), F.col("doc_id").cast("string"))
    toks = F.size(F.split(F.col("text"), " "))
    return (
        d.select(
            u.alias("url"),
            F.length("text").alias("n_chars"),
            toks.alias("n_tokens"),
        )
        .select(
            url_domain("url").alias("domain"),
            url_host("url").alias("host"),
            "n_chars",
            "n_tokens",
        )
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("host").alias("n_hosts"),
            F.sum(F.col("n_tokens").cast("long")).alias("total_tokens"),
            F.round(
                F.sum(F.col("n_chars").cast("double")) / F.count("*"), 4
            ).alias("mean_chars"),
        )
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-global line dedup (osm_spark/text/lines.py):
    documents are re-lined into 8-word windows (the corpus text is
    single-line; the same windowing replays in the oracle), then every
    occurrence of a duplicated line is dropped except the globally
    first by (doc_id, line_no), and cleaned text reassembled. The small
    shared vocabulary makes cross-document line collisions common, so
    the keep-first path is exercised hard."""
    from osm_spark.text.lines import line_dedup

    d = _t(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    n_lines = F.greatest(F.lit(1), F.ceil(F.size(ws) / F.lit(8))).cast("int")
    lined = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.array_join(F.slice(ws, i * 8 + 1, 8), " "),
        ),
        "\n",
    )
    return line_dedup(d.select("doc_id", lined.alias("text")))


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span dedup (osm_spark/text/spans.py): every
    8-token window occurrence that is not the globally first occurrence
    of its content is cut from its document (Lee et al. 2022 recipe,
    fixed-window distributed form). The shared synthetic vocabulary
    makes cross-document window collisions common, so the keep-first
    and coverage-mask paths are exercised hard. Oracle: full window
    replay (same windows, md5, keep-first order, coverage mask)."""
    from osm_spark.text.spans import span_dedup

    return span_dedup(_t(spark, sf_dir, "documents"), w=8)


def _span_dedup_oracle(w: int = 8) -> str:
    return f"""
        WITH w_ AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ), o AS (
            SELECT doc_id, s::BIGINT AS strt,
                   md5(array_to_string(ws[(s+1):(s+{w})], ' ')) AS h
            FROM w_, UNNEST(range(CASE WHEN len(ws) >= {w}
                                       THEN len(ws) - {w} + 1
                                       ELSE 0 END)) AS t(s)
        ), k AS (
            SELECT doc_id, strt,
                   row_number() OVER (
                       PARTITION BY h ORDER BY doc_id, strt) AS rn
            FROM o
        ), d AS (
            SELECT doc_id, list_sort(list(strt)) AS ds
            FROM k WHERE rn > 1 GROUP BY doc_id
        ), j AS (
            SELECT w_.doc_id, w_.ws, coalesce(d.ds, []) AS ds
            FROM w_ LEFT JOIN d USING (doc_id)
        ), m AS (
            SELECT doc_id, ws,
                   list_filter(range(len(ws)),
                       i -> len(list_filter(ds,
                                s -> s <= i AND i < s + {w})) = 0) AS keep_idx
            FROM j
        )
        SELECT doc_id,
               CAST(len(ws) AS BIGINT) AS n_tokens,
               CAST(len(ws) - len(keep_idx) AS BIGINT) AS n_dup_tokens,
               -- DuckDB's array_to_string([]) is NULL; Spark's
               -- array_join([]) is '' — normalize to Spark's semantics
               coalesce(array_to_string(
                   list_transform(keep_idx, i -> ws[i+1]), ' '), '')
                   AS clean_text
        FROM m
    """


def q_tile_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental tile-layer maintenance (geo/tiles.py tile_refresh):
    materialized z-10 counts ⊕ a CDC batch (deletes: every 7th point;
    inserts: a new closed-form point per 5th customer) — only the delta
    shuffles. Oracle states RECOMPUTE FROM SCRATCH over the post-change
    point set; hash equality is the incremental-view-maintenance
    correctness statement."""
    _prep(spark)
    from osm_spark.geo.tiles import tile_delta, tile_refresh, tile_xy

    c = _t(spark, sf_dir, "customer")
    lat = (F.col("c_custkey") * 2654435761 % 1700001) / 10000.0 - 85.0
    lon = (F.col("c_custkey") * 40503 % 3600001) / 10000.0 - 180.0
    pts = c.select(lat.alias("lat"), lon.alias("lon"), F.col("c_custkey"))
    t = tile_xy("lat", "lon", 10)
    base = (
        pts.select(t.alias("t"))
        .groupBy("t.z", "t.x", "t.y")
        .agg(F.count("*").alias("n"))
    )
    dels = pts.filter(F.col("c_custkey") % 7 == 0).select(
        "lat", "lon", F.lit(-1).alias("op")
    )
    lat2 = (F.col("c_custkey") * 97003 % 1700001) / 10000.0 - 85.0
    lon2 = (F.col("c_custkey") * 12569 % 3600001) / 10000.0 - 180.0
    ins = (
        c.filter(F.col("c_custkey") % 5 == 0)
        .select(lat2.alias("lat"), lon2.alias("lon"), F.lit(1).alias("op"))
    )
    delta = tile_delta(dels.unionByName(ins), 10)
    return tile_refresh(base, delta)


def _tile_refresh_oracle() -> str:
    """Full recompute over (original − deleted + inserted) points with
    the identical Web-Mercator arithmetic (tile_pyramid's replay)."""
    merc_y = (
        "LEAST(GREATEST(CAST(FLOOR((1.0 - ln("
        "tan(radians(LEAST(GREATEST(lat, -85.05112878), 85.05112878)))"
        " + sqrt(tan(radians(LEAST(GREATEST(lat, -85.05112878), 85.05112878)))"
        " * tan(radians(LEAST(GREATEST(lat, -85.05112878), 85.05112878))) + 1.0)"
        ") / pi()) / 2.0 * 1024.0) AS BIGINT), 0), 1023)"
    )
    merc_x = (
        "LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * 1024.0)"
        " AS BIGINT), 0), 1023)"
    )
    return f"""
        WITH keep AS (
            SELECT (c_custkey * 2654435761 % 1700001) / 10000.0 - 85.0 AS lat,
                   (c_custkey * 40503 % 3600001) / 10000.0 - 180.0 AS lon
            FROM customer WHERE c_custkey % 7 <> 0
        ), ins AS (
            SELECT (c_custkey * 97003 % 1700001) / 10000.0 - 85.0 AS lat,
                   (c_custkey * 12569 % 3600001) / 10000.0 - 180.0 AS lon
            FROM customer WHERE c_custkey % 5 = 0
        ), pts AS (
            SELECT * FROM keep UNION ALL SELECT * FROM ins
        )
        SELECT 10 AS z, {merc_x} AS x, {merc_y} AS y,
               count(*) AS n
        FROM pts GROUP BY 1, 2, 3
    """


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram LM document scoring (osm_spark/text/lm.py)
    — the CCNet perplexity-filter analog. Per-word Laplace log-probs
    are quantized to micro-nat LONGS before summing, so the per-doc
    aggregate is order-independent and the corpus-global model is
    value-hash replayable in SQL."""
    from osm_spark.text.lm import lm_score

    d = _t(spark, sf_dir, "documents")
    return lm_score(d.select("doc_id", "text"))


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality rule flags (text/rules.py gopher_rules —
    Rae et al. 2021 A1, repetition-free subset): every threshold is an
    integer comparison, so the DuckDB replay matches bit-for-bit."""
    from osm_spark.text.rules import gopher_rules

    return gopher_rules(_t(spark, sf_dir, "documents"))


def q_c4_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (text/rules.py c4_line_filter — Raffel et
    al. 2020 §2.2 deterministic rules) over a synthesized line table:
    documents become 5-line pages with per-line terminal/lorem/plain
    variants closed-form from doc_id, so the oracle rebuilds identical
    lines and the retained-text output is BYTE-compared."""
    from osm_spark.text.rules import c4_line_filter

    return c4_line_filter(_c4_page_lines(spark, sf_dir))


def _gopher_oracle(source: str) -> str:
    """Gopher rule replay over any (doc_id, text) source — every
    threshold the SAME integer comparison the engine evaluates."""
    return rf"""
            WITH base AS (
                SELECT doc_id, text,
                       CAST(len(list_filter(string_split_regex(text, '\s+'),
                                            w -> w <> '')) AS BIGINT) AS n_words,
                       CAST(length(regexp_replace(text, '\s', '', 'g'))
                            AS BIGINT) AS sum_len,
                       CAST((length(text) - length(replace(text, '#', '')))
                            AS BIGINT)
                       + CAST((length(text) - length(replace(text, '...', '')))
                              / 3 AS BIGINT) AS symbols,
                       string_split(text, chr(10)) AS lines,
                       list_filter(string_split_regex(text, '\s+'),
                                   w -> w <> '') AS words
                FROM {source}
            ), m AS (
                SELECT doc_id, n_words, sum_len, symbols,
                       CAST(len(lines) AS BIGINT) AS n_lines,
                       CAST(len(list_filter(lines,
                            l -> l LIKE '- %' OR l LIKE '• %'))
                            AS BIGINT) AS bullets,
                       CAST(len(list_filter(lines, l -> l LIKE '%...'))
                            AS BIGINT) AS ellipses,
                       CAST(len(list_filter(words,
                            w -> regexp_matches(w, '[A-Za-z]')))
                            AS BIGINT) AS alpha,
                       CAST(len(list_filter(
                            ['the','be','to','of','and','that','have','with'],
                            s -> list_contains(
                                list_transform(words, w -> lower(w)), s)))
                            AS BIGINT) AS stop_hits
                FROM base
            )
            SELECT doc_id, n_words,
                   n_words >= 50 AND n_words <= 100000 AS r_word_count,
                   sum_len >= 3 * n_words AND sum_len <= 10 * n_words
                       AS r_mean_word_len,
                   symbols * 10 <= n_words AS r_symbol_ratio,
                   bullets * 10 <= n_lines AS r_bullet_lines,
                   ellipses * 10 <= n_lines * 3 AS r_ellipsis_lines,
                   alpha * 5 >= n_words * 4 AS r_alpha_words,
                   stop_hits >= 2 AS r_stopwords,
                   (n_words >= 50 AND n_words <= 100000)
                   AND (sum_len >= 3 * n_words AND sum_len <= 10 * n_words)
                   AND symbols * 10 <= n_words
                   AND bullets * 10 <= n_lines
                   AND ellipses * 10 <= n_lines * 3
                   AND alpha * 5 >= n_words * 4
                   AND stop_hits >= 2 AS keep
            FROM m
    """


_C4_LINE_SYNTH_SQL = """
                SELECT doc_id // 5 AS page_id, doc_id AS pos,
                       CASE doc_id % 4
                         WHEN 0 THEN text || '.'
                         WHEN 1 THEN text || '?'
                         WHEN 2 THEN 'lorem ipsum ' || text || '.'
                         ELSE text END AS line
                FROM documents
"""


def _c4_lines_oracle() -> str:
    """Identical closed-form line synthesis, then the C4 rules; the
    retained text is byte-compared (string_agg ORDER BY pos = the
    engine's sorted-struct re-assembly)."""
    return rf"""
            WITH l AS ({_C4_LINE_SYNTH_SQL}
            ), f AS (
                SELECT page_id, pos, line,
                       (line LIKE '%.' OR line LIKE '%!'
                        OR line LIKE '%?' OR line LIKE '%"')
                       AND len(list_filter(string_split_regex(line, '\s+'),
                                           w -> w <> '')) >= 5
                       AND NOT contains(lower(line), 'lorem ipsum')
                       AND NOT contains(line, '{{')
                       AND NOT regexp_matches(lower(line),
                                              '(^|\s)javascript(\s|$)')
                           AS keep
                FROM l
            )
            SELECT page_id,
                   coalesce(string_agg(CASE WHEN keep THEN line END,
                                       chr(10) ORDER BY pos), '') AS text,
                   CAST(count(*) FILTER (WHERE keep) AS BIGINT)
                       AS n_lines_kept,
                   count(*) FILTER (WHERE keep) >= 3 AS kept
            FROM f GROUP BY page_id
    """


def _c4_page_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form line-table synthesis shared by the C4 gate queries:
    documents become 5-line pages with terminal/question/lorem/plain
    variants decided by doc_id % 4 — the oracle rebuilds identical
    lines from the same arithmetic."""
    d = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    line = (
        F.when(m == 0, F.concat(F.col("text"), F.lit(".")))
        .when(m == 1, F.concat(F.col("text"), F.lit("?")))
        .when(m == 2, F.concat(F.lit("lorem ipsum "), F.col("text"), F.lit(".")))
        .otherwise(F.col("text"))
    )
    return d.select(
        F.expr("doc_id div 5").alias("page_id"),
        F.col("doc_id").alias("pos"),
        line.alias("line"),
    )


def q_line_dedup_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document keep-first line dedup (text/lines.py
    line_dedup_within — zero-shuffle Column program) over synthesized
    multi-line pages with an injected repeated boilerplate line; the
    cleaned text is BYTE-compared against the DuckDB list replay."""
    from osm_spark.text.lines import line_dedup_within

    lines = _c4_page_lines(spark, sf_dir)
    pages = lines.groupBy("page_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("text")
    )
    pages = pages.select(
        "page_id",
        F.concat(
            F.lit("nav home\n"), F.col("text"), F.lit("\nnav home")
        ).alias("text"),
    )
    return line_dedup_within(pages, id_col="page_id")


def q_clean_then_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation composition: C4 line cleaning feeds the Gopher document
    rules over the REASSEMBLED page text — the stage coupling a real
    cleaning pipeline has (Gopher thresholds see post-C4 word counts
    and line structure, not the raw page), gated against the two
    oracles chained in one DuckDB replay."""
    from osm_spark.text.rules import c4_line_filter, gopher_rules

    cleaned = c4_line_filter(_c4_page_lines(spark, sf_dir)).where(
        F.col("kept")
    )
    out = gopher_rules(cleaned.select("page_id", "text"), id_col="page_id")
    return out.withColumnRenamed("doc_id", "page_id")


def q_c4_lines_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming C4 line verdicts: the synthesized line table arrives
    as a two-drop availableNow STREAM and each line's retention verdict
    (text/rules.py c4_line_verdict — stateless, so append-mode safe) is
    emitted on ingest. Oracle = the batch per-line replay: stream ≡
    batch, the engine's streaming contract."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile
    import uuid as _uuid

    from osm_spark.text.rules import c4_line_verdict

    lines = _c4_page_lines(spark, sf_dir)
    base = _tempfile.mkdtemp(prefix="osm_spark_c4s_")
    drops = _os.path.join(base, "drops")
    _os.makedirs(drops)
    for i, part in enumerate(
        (lines.where(F.col("pos") % 2 == 0), lines.where(F.col("pos") % 2 == 1))
    ):
        stage = _os.path.join(base, f"stage{i}")
        part.coalesce(1).write.parquet(stage)
        f = _glob.glob(_os.path.join(stage, "part-*.parquet"))[0]
        dst = _os.path.join(drops, f"d{i}.parquet")
        _shutil.move(f, dst)
        _os.utime(dst, (1_000_000 + 100 * i,) * 2)
    stream = (
        spark.readStream.schema("page_id long, pos long, line string")
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    out = stream.select(
        "page_id", "pos", c4_line_verdict(F.col("line")).alias("retained")
    )
    sink = f"c4s_{_uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", _os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


def q_blocklist_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming blocklist screening: the documents table arrives as a
    two-drop availableNow STREAM and each doc's verdict (text/blocklist.py
    — a stateless codegen projection, so append-mode safe) is emitted on
    ingest. Oracle = the batch pattern-join replay: stream ≡ batch, the
    engine's streaming contract applied to the safety stage."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile
    import uuid as _uuid

    from osm_spark.text.blocklist import blocklist_filter

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = _tempfile.mkdtemp(prefix="osm_spark_bls_")
    drops = _os.path.join(base, "drops")
    _os.makedirs(drops)
    for i, part in enumerate(
        (docs.where(F.col("doc_id") % 2 == 0), docs.where(F.col("doc_id") % 2 == 1))
    ):
        stage = _os.path.join(base, f"stage{i}")
        part.coalesce(1).write.parquet(stage)
        f = _glob.glob(_os.path.join(stage, "part-*.parquet"))[0]
        dst = _os.path.join(drops, f"d{i}.parquet")
        _shutil.move(f, dst)
        _os.utime(dst, (1_000_000 + 100 * i,) * 2)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    pats = spark.createDataFrame(_BLOCK_PATTERNS, "pattern string, severity int")
    out = blocklist_filter(stream, pats).select(
        "doc_id",
        F.col("n_hits").cast("int").alias("n_hits"),
        "hit_list",
        "max_severity",
        "keep",
    )
    sink = f"bls_{_uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", _os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet per-language perplexity terciles (text/lm.py ccnet_buckets)
    — every document labeled head/middle/tail within ITS language's LM
    score distribution, composing the micro-nat lm_score with the exact
    histogram disc-quantile machinery, vs a full chained DuckDB replay
    (unigram model → nano-nat metric → rank-r tercile cuts → labels)."""
    from osm_spark.text.lm import ccnet_buckets

    d = _t(spark, sf_dir, "documents")
    return ccnet_buckets(d.select("doc_id", "text", "lang"))


def _route_verts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPS-trace-style polylines as a closed-form function of c_custkey:
    40 routes, vertex order = key order, x drifts 0.01/step with ±0.004
    hash noise on both axes. Every op (int mul/mod, int/double divide)
    is mirrored in ``_route_verts_sql`` with the same IEEE op order —
    DECIMAL literal traps avoided by writing drift as ``i / 100.0``
    (int × 0.01 is DECIMAL in DuckDB; int ÷ 1000.0 is DOUBLE)."""
    c = _t(spark, sf_dir, "customer")
    rid = (F.col("c_custkey") % 40).cast("long")
    w = Window.partitionBy(F.col("c_custkey") % 40).orderBy("c_custkey")
    i = (F.row_number().over(w) - 1).cast("int")
    base = c.select(F.col("c_custkey"), rid.alias("line_id"), i.alias("i"))
    x = (
        F.col("i") / F.lit(100.0)
        + (F.col("c_custkey") * 2654435761 % 2001 - 1000) / 1000.0 * 0.004
    )
    y = (F.col("c_custkey") * 40503 % 2001 - 1000) / 1000.0 * 0.004
    return base.select("line_id", F.col("i").alias("pos"), x.alias("x"), y.alias("y"))


def _route_verts_sql() -> str:
    return """
        SELECT c_custkey % 40 AS rid,
               CAST(row_number() OVER (PARTITION BY c_custkey % 40
                                       ORDER BY c_custkey) - 1 AS INT) AS i,
               (row_number() OVER (PARTITION BY c_custkey % 40
                                   ORDER BY c_custkey) - 1) / 100.0
                 + (c_custkey * 2654435761 % 2001 - 1000) / 1000.0 * 0.004 AS x,
               (c_custkey * 40503 % 2001 - 1000) / 1000.0 * 0.004 AS y
        FROM customer
    """


def q_simplify_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 raster→vector companion: exact Douglas-Peucker polyline
    simplification (osm_spark/geo/simplify.py) over 40 synthesized
    GPS-trace routes, vs a DuckDB recursive-CTE replay of the same
    splits (same squared-distance op order, same lowest-index
    tie-break). One Arrow pass, no shuffle after assembly."""
    _prep(spark)
    from osm_spark.geo.simplify import assemble_lines, simplify_lines

    lines = assemble_lines(_route_verts(spark, sf_dir))
    return simplify_lines(lines, epsilon=0.003)


def q_geohash_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 third cell index: base-32 geohash (prefix-ordered — the
    Iceberg partition/sort-key form) as pure Column codegen over the
    same bit-parity point synthesis the PIP/kNN gates use, aggregated
    per cell with its precision-4 parent via prefix truncation."""
    from osm_spark.geo.geohash import geohash_expr

    pts = _sql_points(spark, sf_dir)
    return (
        pts.select(
            F.col("url").cast("long").alias("point_id"),
            geohash_expr("lat", "lon", 6).alias("gh6"),
        )
        .groupBy("gh6")
        .agg(
            F.count("*").alias("n_points"),
            F.min("point_id").alias("first_point"),
        )
        .withColumn("gh4", F.substring("gh6", 1, 4))
    )


def q_way_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon area centroid (geo/measure.py way_centroid): shoelace
    centroid in vertex-1-centered coordinates with the deterministic
    vertex-mean fallback on degenerate rings, vs the DuckDB list_reduce
    replay in the same fold order (the way_geometry convention —
    trig-free here, rounded to 6 decimals)."""
    from osm_spark.geo.measure import way_centroid
    from osm_spark.pipeline.geometry import synth_polygons

    cent = way_centroid(synth_polygons(spark))
    return cent.select(
        "way_id",
        F.round("c_lat", 6).alias("c_lat"),
        F.round("c_lon", 6).alias("c_lon"),
    )


def q_way_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometry measurement (osm_spark/geo/measure.py): per-way ring
    perimeter (haversine fold, closing edge included) and equirect
    shoelace area as zero-shuffle zero-UDF array folds, vs the DuckDB
    list_reduce replay in the same fold order. Trig-bearing outputs
    round to 3 decimals (the haversine_distance convention)."""
    from osm_spark.geo.measure import way_geometry_stats
    from osm_spark.pipeline.geometry import synth_polygons

    stats = way_geometry_stats(synth_polygons(spark))
    return stats.select(
        "way_id",
        "n_vertices",
        F.round("mean_lat", 6).alias("mean_lat"),
        F.round("perimeter_m", 3).alias("perimeter_m"),
        F.round("area_m2", 3).alias("area_m2"),
    )


def q_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram profile (osm_spark/text/ngrams.py): corpus count +
    document frequency per bigram in ONE exchange (occurrence and
    per-doc-distinct rows union before a single map-side-combined
    aggregation)."""
    from osm_spark.text.ngrams import ngram_counts

    d = _t(spark, sf_dir, "documents")
    return ngram_counts(d.select("doc_id", "text"), n=2, min_count=5)


def _collocations_oracle(min_count: int = 5) -> str:
    """Replay of text/collocations.py: same tokenization as the ngram
    oracle, marginals from totals BEFORE the min_count cut, identical
    closing double expression (products in the written order)."""
    return f"""
        WITH toks AS (
            SELECT doc_id, string_split(lower(text), ' ') AS toks
            FROM documents
        ),
        uni AS (
            SELECT unnest(toks) AS w FROM toks
        ),
        ucnt AS (SELECT w, count(*) AS n_w FROM uni GROUP BY w),
        pairs AS (
            SELECT unnest(list_transform(
                       generate_series(1, greatest(len(toks) - 1, 0)),
                       i -> struct_pack(w1 := toks[i], w2 := toks[i + 1])
                   )) AS p
            FROM toks
        ),
        pcnt AS (
            SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS n_pair
            FROM pairs GROUP BY p.w1, p.w2
        ),
        tot AS (
            SELECT (SELECT CAST(sum(n_w) AS BIGINT) FROM ucnt) AS t_tokens,
                   (SELECT CAST(sum(n_pair) AS BIGINT) FROM pcnt) AS b_pairs
        )
        SELECT p.w1, p.w2, p.n_pair, a.n_w AS n_w1, b.n_w AS n_w2,
               CAST(round(ln(
                    (CAST(p.n_pair AS DOUBLE) * CAST(t.t_tokens AS DOUBLE)
                     * CAST(t.t_tokens AS DOUBLE))
                    / (CAST(t.b_pairs AS DOUBLE) * CAST(a.n_w AS DOUBLE)
                       * CAST(b.n_w AS DOUBLE))) * 1e6) AS BIGINT)
                   AS pmi_micro
        FROM pcnt p
        JOIN ucnt a ON a.w = p.w1
        JOIN ucnt b ON b.w = p.w2
        CROSS JOIN tot t
        WHERE p.n_pair >= {min_count}
    """


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (osm_spark/text/collocations.py): bigram
    vs unigram marginals, corpus totals broadcast back, micro-nat
    quantized PMI — vs a DuckDB full replay."""
    from osm_spark.text.collocations import collocations

    d = _t(spark, sf_dir, "documents")
    return collocations(d.select("text"), min_count=5)


def _tfidf_oracle(k: int = 5) -> str:
    """Replay of text/keywords.py: same tokenization, integer tf/df/N,
    identical closing float expression, ROW_NUMBER on the QUANTIZED
    score with the term tie-break (rank order engine-independent)."""
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        ),
        tf AS (SELECT doc_id, term, count(*) AS tf
               FROM toks GROUP BY doc_id, term),
        dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        nn AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT t.doc_id, t.term, t.tf, d.df,
                   CAST(round(CAST(t.tf AS DOUBLE)
                        * ln(CAST(nn.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE))
                        * 1e6) AS BIGINT) AS score_micro
            FROM tf t JOIN dft d USING (term) CROSS JOIN nn
        )
        SELECT doc_id, term, tf, df, score_micro, rank
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY doc_id
                ORDER BY score_micro DESC, term ASC) AS rank
            FROM scored
        ) WHERE rank <= {k}
    """


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keywords (osm_spark/text/keywords.py): exact
    integer tf/df, micro-quantized tf·ln(N/df), top-5 per doc ranked on
    the quantized score — vs a DuckDB full replay."""
    from osm_spark.text.keywords import tfidf_keywords

    d = _t(spark, sf_dir, "documents")
    return tfidf_keywords(d.select("doc_id", "text"), k=5)


def _source_entropy_oracle() -> str:
    """Replay of text/entropy.py: same tokenization, per-term micro-nat
    quantization BEFORE the sum (exact long sum), identical closing
    expression."""
    return """
        WITH tc AS (
            SELECT source, unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        ),
        cnt AS (SELECT source, term, count(*) AS c
                FROM tc GROUP BY source, term),
        agg AS (
            SELECT source,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   count(*) AS n_terms,
                   CAST(sum(CAST(round(CAST(c AS DOUBLE)
                        * ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT))
                        AS BIGINT) AS s_micro
            FROM cnt GROUP BY source
        )
        SELECT source, n_tokens, n_terms,
               CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1e6
                    - CAST(s_micro AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                    AS BIGINT) AS entropy_micro
        FROM agg
    """


def q_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source term entropy (osm_spark/text/entropy.py): quantized
    c·ln(c) partials summed exactly, one closing float expression — vs
    a DuckDB full replay."""
    from osm_spark.text.entropy import source_entropy

    d = _t(spark, sf_dir, "documents")
    return source_entropy(d.select("source", "text"))


_QUANT_PROBS = [0.01, 0.25, 0.5, 0.75, 0.99]


def _int_quantiles_oracle() -> str:
    """Replay of functions/quantiles.py over documents.n_chars: same
    histogram + cumulative + nearest-rank selection, all-integer."""
    selects = " UNION ALL ".join(
        f"""SELECT {int(round(p * 1000))} AS prob_pmille,
                   (SELECT min(v) FROM cum
                    WHERE cum >= CAST(ceil({p!r} * n_total) AS BIGINT))
                       AS value,
                   CAST(ceil({p!r} * n_total) AS BIGINT) AS rank_needed,
                   n_total
            FROM tot"""
        for p in _QUANT_PROBS
    )
    return f"""
        WITH hist AS (SELECT n_chars AS v, count(*) AS c
                      FROM documents GROUP BY n_chars),
        cum AS (
            SELECT v, CAST(SUM(c) OVER (ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM hist
        ),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM hist)
        {selects}
    """


def q_int_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer quantiles without a global sort
    (functions/quantiles.py): data-sized histogram aggregate +
    histogram-sized cumulative + nearest-rank pick — vs a DuckDB
    replay. All-integer output, no quantization anywhere."""
    from osm_spark.functions.quantiles import integer_quantiles

    d = _t(spark, sf_dir, "documents")
    return integer_quantiles(d, "n_chars", _QUANT_PROBS)


def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into training shards
    (osm_spark/text/sharding.py): shard + position are pure functions
    of md5(salt:doc_id), byte-stable across runs, cluster sizes and
    engines — one exchange total."""
    from osm_spark.text.sharding import shard_assign

    d = _t(spark, sf_dir, "documents")
    return shard_assign(d.select("doc_id"), "doc_id", n_shards=8)


def q_viewport_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viewport (bbox) query through the geohash-prefix prune
    (osm_spark/geo/geohash.py cover_bbox/viewport_filter): the covering
    IN-list prunes partitions/row-groups ahead of the exact lat/lon
    refine. The oracle is the PLAIN bbox filter — equality proves the
    covering's superset guarantee drops nothing."""
    from osm_spark.geo.geohash import geohash_expr, viewport_filter

    pts = _sql_points(spark, sf_dir).withColumn(
        "gh4", geohash_expr("lat", "lon", 4)
    )
    out = viewport_filter(
        pts, 51.4874, 51.5274, -0.1478, -0.1078,
        gh_col="gh4", precision=4, gh_precision=4,
    )
    return out.select(F.col("url").cast("long").alias("point_id"), "lat", "lon")


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance scoring (osm_spark/text/ranking.py): per-doc
    score over a fixed query, per-term scores quantized to micro-units
    so the per-doc sum is order-independent and hash-gateable (the
    lm_score pattern)."""
    from osm_spark.text.ranking import bm25_scores

    d = _t(spark, sf_dir, "documents")
    return bm25_scores(d.select("doc_id", "text"), _BM25_TERMS)


_BM25_TERMS = ["order", "fast", "part", "zzz-absent-term"]


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) local fingerprints (osm_spark/text/winnow.py):
    position-aware partial-overlap dedup primitive — any shared token
    run ≥ k+w−1 yields a shared fingerprint. Row-local pure Column
    (zero shuffle, zero UDF); hash array materialized behind one
    Generate barrier so CollapseProject cannot clone the md5 array into
    every window reference."""
    from osm_spark.text.winnow import winnow_fingerprints

    d = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(d.select("doc_id", "text"), k=3, w=4)


def q_extract_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperlink extraction (osm_spark/pipeline/links.py): pages-shaped
    rows with deterministic anchors synthesized from documents (same
    closed form in the oracle); every doc gets one absolute link, every
    3rd a RELATIVE link (must be filtered), every 2nd a second absolute
    link. Pure-Column decode + regexp_extract_all + Generate — the
    front of the pagerank pipeline."""
    from osm_spark.pipeline.links import extract_links

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    html = F.concat(
        F.lit('<html><body><a class="x" href="https://example.org/p/'),
        ((did * 7) % 500).cast("string"),
        F.lit('">l1</a>'),
        F.when(did % 3 == 0, F.lit('<a href="/relative/path">rel</a>')).otherwise(
            F.lit("")
        ),
        F.when(
            did % 2 == 0,
            F.concat(
                F.lit('<a href="https://example.org/p/'),
                ((did * 13) % 500).cast("string"),
                F.lit('">l2</a>'),
            ),
        ).otherwise(F.lit("")),
        F.col("text"),
        F.lit("</body></html>"),
    )
    pages = d.select(
        F.concat(F.lit("https://example.org/p/"), did.cast("string")).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )
    return extract_links(pages)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order is part of the driver contract: the CORRECTNESS gate
    evaluates the first 50 entries, so the 50 most load-bearing
    oracle-gated queries come first and the rest (still oracle-backed —
    verified by tools/check_oracle.py) plus the rows-only operators
    follow. Round 4 rotated twice: first the round-3 flagships
    (pagerank, connected components, line/span dedup, radius/overlay
    joins, heavy hitters, LM scoring, BM25, tile refresh), then the
    round-4 flagships (personalized pagerank, HITS, triangles, k-core,
    adaptive-covering PIP, grid DBSCAN, segment snap, Gi* hotspots,
    bounded-hop SSSP) INTO the window, displacing near-duplicate
    parsing/sort/audit-oracle slots to the tail — every displaced query
    keeps its oracle twin, so nothing loses coverage, only external
    attestation priority."""
    return {
        # --- driver gate window (first 50, all oracle-gated). Round 5
        # rotated the r4-tail flagships IN (corpus_pipeline — the new
        # composed end-to-end job — plus corpus_ingest[_stream],
        # hmm_match[_stream], fuzzy_pairs, cosine_pairs, bpe_merges,
        # neighborhood, cms_counts, convex_hull, incremental_dedup,
        # reachability, label_propagation), displacing near-duplicate
        # parsing/filter/sort slots and same-family cousins
        # (latest_order, interval_filter, grouped_count_having,
        # broadcast_lookup_join, money_tbc, level_fold, map_key_split,
        # modules_gained, earnt_cnf, quarantine, asof_join, span_dedup,
        # tile_pyramid) to the tail — every displaced query KEEPS its
        # oracle twin, so nothing loses coverage, only external
        # attestation priority. zorder_key, doc_chunks and covisitation
        # lead the tail (positions 51-53): with the window capped at 50
        # they yielded their slots to the composed corpus entries and
        # the map-matching pair. A second late-r5 rotation brought the
        # new data-curation/spatial-stats/graph flagships IN
        # (dsir_weights, corpus_drift, ripley_k, landmark_distances),
        # displacing four cousins whose family sibling stays gated:
        # personalized_pagerank + hits (pagerank holds the link-analysis
        # slot), pip_pairs_adaptive (pip_pairs runs the same oracle) and
        # reachability (sssp_waygraph runs the same walk-enumeration
        # oracle) — all four keep their exact twins in the tail.
        # A THIRD r5 rotation gated the final-session flagships
        # (way_crossings, hausdorff_pairs, frechet_pairs, way_resample,
        # isochrone_hull, token_quantiles, containment_pairs, scc),
        # displacing eight long-attested cousins whose family sibling
        # stays in-window: tag_requirement_met (modules/earnt tag
        # oracles), exact_dedup + simhash (near_dup_jaccard/line_dedup
        # hold the dedup slots), ann_lsh_topk (ivf_ann +
        # embedding_near_dups), sessionize (stream_window_counts),
        # cdc_diff (merge_upsert), hmm_match_stream (hmm_match) and
        # corpus_ingest_stream (corpus_ingest). bowtie stays tail: it
        # runs the same fixture + closure oracle as the in-window scc
        # at the same iterative cost, so the window buys one SCC-family
        # attestation, not two gate-minutes. A FOURTH rotation gated
        # region_top_terms — the new geo×text composition (PIP → doc
        # attach → per-region term rank, the graft's two axes chained
        # under one composed oracle) — displacing hausdorff_pairs to
        # the tail head (frechet_pairs holds the trajectory-similarity
        # slot: same candidate join, same fixture, deeper DP oracle).
        # A FIFTH rotation gated clean_then_gopher (the C4→Gopher
        # composed cleaning chain) and ring_validity (OGC ring
        # simplicity — the polygon-ingestion guard), displacing
        # corpus_ingest (incremental_dedup attests the incremental
        # family and corpus_pipeline the composed chain) and
        # label_propagation (pagerank/cc/kcore/triangles/scc keep the
        # graph family attested); both keep their exact oracles.
        # A SIXTH (closing-session) rotation gated the new rollup /
        # MIPS / link-prediction / Zipf flagships and compositions
        # (region_ohlc, ohlc_stream, ohlc_refresh, rollup_anomalies,
        # session_quantiles, lpa_modularity, link_prediction, zipf_fit,
        # mips_topk), displacing nine r4-ATTESTED cousins whose family
        # sibling stays in-window (embedding_near_dups — ivf_ann +
        # mips_topk hold the vector slots; radius_pairs + overlay_pairs
        # — pip/knn/dbscan/snap/region_ohlc hold spatial; merge_upsert
        # + tile_refresh — ohlc_refresh holds incremental refresh and
        # the Iceberg seam script pins MERGE; top_tokens — cms_counts
        # holds sketches; bm25_search — lm_score + zipf_fit hold text
        # stats; stream_window_counts — ohlc_stream is the same
        # windowed-stream contract with richer aggregates; line_dedup
        # — near_dup_jaccard + corpus_pipeline, which composes the
        # line-dedup stage, keep dedup attested). Every displaced
        # query keeps its exact oracle in the tail. ---
        "pricing_summary": q_pricing_summary,
        "pagerank": q_pagerank,
        "dsir_weights": q_dsir_weights,
        "corpus_drift": q_corpus_drift,
        "connected_components": q_connected_components,
        "triangle_counts": q_triangle_counts,
        "kcore": q_kcore,
        "way_crossings": q_way_crossings,
        "region_top_terms": q_region_top_terms,
        "pip_pairs": q_pip_pairs,
        "knn_pairs": q_knn_pairs,
        "way_assembly": q_way_assembly,
        "contours": q_contours,
        "ivf_ann": q_ivf_ann,
        "near_dup_jaccard": q_near_dup_jaccard,
        "frechet_pairs": q_frechet_pairs,
        "quality_features": q_quality_features,
        "way_resample": q_way_resample,
        "region_ohlc": q_region_ohlc,
        "ohlc_stream": q_ohlc_stream,
        "isochrone_hull": q_isochrone_hull,
        "link_prediction": q_link_prediction,
        "lpa_modularity": q_lpa_modularity,
        "ohlc_refresh": q_ohlc_refresh,
        "rollup_anomalies": q_rollup_anomalies,
        "hll_refresh": q_hll_refresh,
        "session_quantiles": q_session_quantiles,
        "lm_score": q_lm_score,
        "zipf_fit": q_zipf_fit,
        "mips_topk": q_mips_topk,
        "ripley_k": q_ripley_k,
        "dbscan_clusters": q_dbscan_clusters,
        "st_dbscan_clusters": q_st_dbscan_clusters,
        "snap_roads": q_snap_roads,
        "hmm_match": q_hmm_match,
        "containment_pairs": q_containment_pairs,
        "hotspot_gi": q_hotspot_gi,
        "kde_density": q_kde_density,
        "voronoi_regions": q_voronoi_regions,
        "trend_surface": q_trend_surface,
        "dissolve_landuse": q_dissolve_landuse,
        "ring_validity": q_ring_validity,
        "corpus_pipeline": q_corpus_pipeline,
        "clean_then_gopher": q_clean_then_gopher,
        "scc": q_scc,
        "semantic_dedup": q_semantic_dedup,
        "bloom_screen": q_bloom_screen,
        "safety_admission": q_safety_admission,
        "cosine_pairs": q_cosine_pairs,
        "bpe_merges": q_bpe_merges,
        # --- tail (51+): every entry below remains oracle-backed and is
        # verified by tools/check_oracle.py. SEVENTH (this-session)
        # rotation: the new-family flagships came IN (st_dbscan_clusters,
        # kde_density, voronoi_regions, trend_surface, dissolve_landuse,
        # hll_refresh, semantic_dedup, bloom_screen, safety_admission —
        # the SemDeDup/safety/sketch/raster additions), displacing
        # same-family cousins whose sibling stays gated: ewma_smooth
        # (rollup_anomalies holds the rollup-window slot), hll_users +
        # hll_overlap (hll_refresh runs the identical register oracle
        # AND attests merge ≡ full), buffer_landuse + landuse_overlap
        # (dissolve_landuse gates the shared burn/surface math),
        # sssp_waygraph (r4-gated green; isochrone_hull composes the
        # same walk machinery in-window via landmark distances),
        # landmark_distances (isochrone_hull composes it),
        # media_features (r4-gated green; media_near_dups stays oracled),
        # token_quantiles (session_quantiles gates the identical
        # histogram-quantile machinery), and fuzzy_pairs (tail head —
        # its oracle IS the brute force, pytest-pinned; containment_pairs
        # holds the set-similarity-join slot). ---
        "ewma_smooth": q_ewma_smooth,
        "hll_users": q_hll_users,
        "hll_overlap": q_hll_overlap,
        "buffer_landuse": q_buffer_landuse,
        "landuse_overlap": q_landuse_overlap,
        "join_counts": q_join_counts,
        "tile_visitors": q_tile_visitors,
        "sssp_waygraph": q_sssp_waygraph,
        "landmark_distances": q_landmark_distances,
        "media_features": q_media_features,
        "token_quantiles": q_token_quantiles,
        "fuzzy_pairs": q_fuzzy_pairs,
        "rich_club": q_rich_club,
        "neighborhood": q_neighborhood,
        "cms_counts": q_cms_counts,
        "convex_hull": q_convex_hull,
        "incremental_dedup": q_incremental_dedup,
        "zorder_key": q_zorder_key,
        "embedding_near_dups": q_embedding_near_dups,
        "stream_window_counts": q_stream_window_counts,
        "radius_pairs": q_radius_pairs,
        "overlay_pairs": q_overlay_pairs,
        "merge_upsert": q_merge_upsert,
        "line_dedup": q_line_dedup,
        "top_tokens": q_top_tokens,
        "bm25_search": q_bm25_search,
        "tile_refresh": q_tile_refresh,
        "doc_chunks": q_doc_chunks,
        "covisitation": q_covisitation,
        "personalized_pagerank": q_personalized_pagerank,
        "hits": q_hits,
        "assortativity": q_assortativity,
        "modularity": q_modularity,
        "weighted_pagerank": q_weighted_pagerank,
        "ktruss": q_ktruss,
        "local_morans": q_local_morans,
        "emerging_hotspots": q_emerging_hotspots,
        "std_ellipse": q_std_ellipse,
        "hilbert_key": q_hilbert_key,
        "mips_int8": q_mips_int8,
        "ohlc_rollup": q_ohlc_rollup,
        "ohlc_gapfill": q_ohlc_gapfill,
        "ohlc_interpolate": q_ohlc_interpolate,
        "zipf_ranks": q_zipf_ranks,
        "bigram_score": q_bigram_score,
        "pip_pairs_adaptive": q_pip_pairs_adaptive,
        "reachability": q_reachability,
        "tag_requirement_met": q_tag_requirement_met,
        "exact_dedup": q_exact_dedup,
        "simhash": q_simhash,
        "ann_lsh_topk": q_ann_lsh_topk,
        "sessionize": q_sessionize,
        "cdc_diff": q_cdc_diff,
        "hmm_match_stream": q_hmm_match_stream,
        "corpus_ingest_stream": q_corpus_ingest_stream,
        # --- tail: outside the driver's 50-entry gate window (it
        # starts three entries up, at zorder_key). All but three DO
        # ship exact oracle_sql twins (verified by
        # tools/check_oracle.py locally; media_near_dups gained its
        # exact twin in r5); the remaining rows-only operators
        # (simhash_near_dups, pip_join, knn_join) have driver-gated
        # twins running the same engine code above (simhash, pip_pairs,
        # knn_pairs) ---
        "hausdorff_pairs": q_hausdorff_pairs,
        "corpus_ingest": q_corpus_ingest,
        "label_propagation": q_label_propagation,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "latest_order_per_customer": q_latest_order_per_customer,
        "interval_filter": q_interval_filter,
        "grouped_count_having": q_grouped_count_having,
        "broadcast_lookup_join": q_broadcast_lookup_join,
        "money_tbc": q_money_tbc,
        "level_fold": q_level_fold,
        "map_key_split": q_map_key_split,
        "modules_gained": q_modules_gained,
        "earnt_cnf": q_earnt_cnf,
        "quarantine": q_quarantine,
        "asof_join": q_asof_join,
        "span_dedup": q_span_dedup,
        "tile_pyramid": q_tile_pyramid,
        "audit_trail": q_audit_trail,
        "sms_credits": q_sms_credits,
        "multi_key_ordering": q_multi_key_ordering,
        "token_stats": q_token_stats,
        "haversine_distance": q_haversine_distance,
        "cosine_topk": q_cosine_topk,
        "grouping_rollup": q_grouping_rollup,
        "dual_format_dates": q_dual_format_dates,
        "distinct_agg": q_distinct_agg,
        "anti_join": q_anti_join,
        "signed_sum": q_signed_sum,
        "union_lookup_join": q_union_lookup_join,
        "composite_key_join": q_composite_key_join,
        "visibility_semi_join": q_visibility_semi_join,
        "name_formatting": q_name_formatting,
        "phone_age_decode": q_phone_age_decode,
        "badge_status_decode": q_badge_status_decode,
        "sent_at_subject": q_sent_at_subject,
        "flexi_collation": q_flexi_collation,
        "pack_sequences": q_pack_sequences,
        "quota_sample": q_quota_sample,
        "hash_sample": q_hash_sample,
        "mixture_sample": q_mixture_sample,
        "redact_pii": q_redact_pii,
        "repetition_ratio": q_repetition_ratio,
        "decontaminate": q_decontaminate,
        "canonical_url": q_canonical_url,
        "url_dedup": q_url_dedup,
        "domain_stats": q_domain_stats,
        "simplify_lines": q_simplify_lines,
        "geohash_cells": q_geohash_cells,
        "way_geometry": q_way_geometry,
        "way_centroid": q_way_centroid,
        "ngram_stats": q_ngram_stats,
        "collocations": q_collocations,
        "tfidf_keywords": q_tfidf_keywords,
        "source_entropy": q_source_entropy,
        "int_quantiles": q_int_quantiles,
        "global_shuffle": q_global_shuffle,
        "viewport_points": q_viewport_points,
        "winnow_fingerprints": q_winnow_fingerprints,
        "extract_links": q_extract_links,
        "anchor_text": q_anchor_text,
        "host_graph": q_host_graph,
        "tile_clip": q_tile_clip,
        "route_density": q_route_density,
        "bowtie": q_bowtie,
        "condensation_levels": q_condensation,
        "landmark_stress": q_landmark_stress,
        "host_scc": q_host_scc,
        "stream_crossings": q_stream_crossings,
        "street_orientation": q_street_orientation,
        "orientation_entropy": q_orientation_entropy,
        "pq_ann": q_pq_ann,
        "zonal_counts": q_zonal_counts,
        "zonal_centroid": q_zonal_centroid,
        "geofence_counts": q_geofence_counts,
        "reverse_geocode": q_reverse_geocode,
        "overlay_clusters": q_overlay_clusters,
        "diff_assembly": q_diff_assembly,
        "morans_i": q_morans_i,
        "gearys_c": q_gearys_c,
        "ccnet_buckets": q_ccnet_buckets,
        "harmonic_centrality": q_harmonic_centrality,
        "gopher_rules": q_gopher_rules,
        "c4_lines": q_c4_lines,
        "line_dedup_within": q_line_dedup_within,
        "random_walks": q_random_walks,
        "spherical_area": q_spherical_area,
        "knn_classify": q_knn_classify,
        "destination_points": q_destination_points,
        "c4_lines_stream": q_c4_lines_stream,
        "focal_smooth": q_focal_smooth,
        "idw_field": q_idw_field,
        "idw_loocv": q_idw_loocv,
        "trip_stats": q_trip_stats,
        "od_matrix": q_od_matrix,
        "cohort_retention": q_cohort_retention,
        "funnel": q_funnel,
        "markov_transitions": q_markov_transitions,
        "trending_terms": q_trending_terms,
        "frontier": q_frontier,
        "tile_anomalies": q_tile_anomalies,
        "path_rollup": q_path_rollup,
        "phrase_search": q_phrase_search,
        "quantize_embeddings": q_quantize_embeddings,
        "blocklist_filter": q_blocklist_filter,
        "truncation_recall": q_truncation_recall,
        "trimmed_stats": q_trimmed_stats,
        "blocklist_stream": q_blocklist_stream,
        "bpe_vocab": q_bpe_vocab,
        "weighted_sample": q_weighted_sample,
        "dsir_sample": q_dsir_sample,
        "corpus_split": q_corpus_split,
        "cross_k": q_cross_k,
        "eff_diameter": q_eff_diameter,
        "robots_filter": q_robots_filter,
        "stay_points": q_stay_points,
        "simhash_near_dups": q_simhash_near_dups,
        "pip_join": q_pip_join,
        "knn_join": q_knn_join,
        "media_near_dups": q_media_near_dups,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "pip_pairs": _pip_pairs_oracle(),
        "region_top_terms": _region_top_terms_oracle(),
        # same exact oracle: the covering's resolution mix must never
        # change the pair set (superset prejoin + exact refine)
        "pip_pairs_adaptive": _pip_pairs_oracle(),
        "knn_pairs": _knn_pairs_oracle(),
        "radius_pairs": _radius_pairs_oracle(),
        "dbscan_clusters": _dbscan_oracle(),
        "st_dbscan_clusters": _st_dbscan_oracle(),
        "snap_roads": _snap_oracle(),
        "hmm_match": _hmm_oracle(),
        # streaming twin: must equal the batch DP row for row
        "hmm_match_stream": _hmm_oracle(),
        "hotspot_gi": _hotspot_oracle(),
        "kde_density": _kde_oracle(),
        "voronoi_regions": _voronoi_oracle(),
        "trend_surface": _trend_oracle(),
        "dissolve_landuse": _dissolve_oracle(),
        "buffer_landuse": _buffer_oracle(),
        "landuse_overlap": _landuse_overlap_oracle(),
        "join_counts": _join_counts_oracle(),
        "tile_visitors": _tile_visitors_oracle(),
        "morans_i": _morans_oracle(),
        "local_morans": _local_morans_oracle(),
        "emerging_hotspots": _emerging_oracle(),
        "bigram_score": _bigram_score_oracle(),
        "std_ellipse": _std_ellipse_oracle(),
        "hilbert_key": _hilbert_oracle(),
        "gearys_c": _gearys_oracle(),
        "focal_smooth": _focal_oracle(),
        "idw_field": _idw_oracle(),
        "idw_loocv": _idw_loocv_oracle(),
        "sssp_waygraph": _sssp_oracle(),
        "reachability": _sssp_oracle(
            f"""SELECT dist // {_REACH_BAND_MM} AS band,
                       count(*) AS n_vertices,
                       MIN(dist) AS min_mm, MAX(dist) AS max_mm
                FROM dists GROUP BY band"""
        ),
        "trip_stats": _trip_stats_oracle(),
        "od_matrix": _od_matrix_oracle(),
        "cohort_retention": _cohort_oracle(),
        "funnel": _funnel_oracle(),
        "markov_transitions": _markov_oracle(),
        "trending_terms": _trending_oracle(),
        "covisitation": _covisit_oracle(),
        "frontier": _frontier_oracle(),
        "tile_anomalies": _tile_anomaly_oracle(),
        "path_rollup": _path_rollup_oracle(),
        "fuzzy_pairs": _fuzzy_pairs_oracle(),
        "doc_chunks": _doc_chunks_oracle(),
        "neighborhood": _neighborhood_oracle(),
        "random_walks": _random_walks_oracle(),
        "ring_validity": _ring_validity_oracle(),
        "spherical_area": _spherical_area_oracle(),
        "knn_classify": _knn_classify_oracle(),
        "destination_points": _destination_points_oracle(),
        # stream == batch: the per-line verdict replay (the f CTE of the
        # batch c4 oracle) over the same synthesized lines
        "c4_lines_stream": f"""
            WITH l AS ({_C4_LINE_SYNTH_SQL})
            SELECT page_id, pos,
                   (line LIKE \'%.\' OR line LIKE \'%!\'
                    OR line LIKE \'%?\' OR line LIKE \'%"\')
                   AND len(list_filter(string_split_regex(line, \'\\s+\'),
                                       w -> w <> \'\')) >= 5
                   AND NOT contains(lower(line), \'lorem ipsum\')
                   AND NOT contains(line, \'{{\')
                   AND NOT regexp_matches(lower(line),
                                          \'(^|\\s)javascript(\\s|$)\')
                       AS retained
            FROM l
        """,
        # same unrolled BFS replay, harmonic fold on top: per-hop
        # reachable deltas (lag default 1 = self at distance 0),
        # micro-quantized terms, per-vertex long sum
        "harmonic_centrality": _neighborhood_oracle(
            3,
            final_select="""
            SELECT id,
                   CAST(sum(CAST(round((n_reachable - prev) * 1000000.0
                                       / hops) AS BIGINT)) AS BIGINT)
                       AS harmonic_micro
            FROM (
                SELECT id, hops, n_reachable,
                       coalesce(lag(n_reachable) OVER (PARTITION BY id
                                    ORDER BY hops), 1) AS prev
                FROM (__HOPS_UNION__)
            ) GROUP BY id
            """,
        ),
        "cms_counts": _cms_oracle(),
        "phrase_search": _phrase_oracle(),
        "cosine_pairs": _cosine_pairs_oracle(),
        "quantize_embeddings": _quantize_oracle(),
        "semantic_dedup": _semantic_dedup_oracle(),
        "blocklist_filter": _blocklist_oracle(),
        "truncation_recall": _truncation_recall_oracle(),
        "trimmed_stats": _trimmed_stats_oracle(),
        "safety_admission": _safety_admission_oracle(),
        "blocklist_stream": _blocklist_oracle(),
        "convex_hull": _hull_oracle(),
        "bpe_merges": _bpe_oracle(),
        "bpe_vocab": _bpe_vocab_oracle(),
        "weighted_sample": _weighted_sample_oracle(),
        "dsir_weights": _dsir_weights_oracle(),
        "dsir_sample": _dsir_sample_oracle(),
        "corpus_drift": _corpus_drift_oracle(),
        "ripley_k": _ripley_k_oracle(),
        "landmark_distances": _landmarks_oracle(),
        "corpus_split": _corpus_split_oracle(),
        "cross_k": _cross_k_oracle(),
        "eff_diameter": _eff_diameter_oracle(),
        "robots_filter": _robots_oracle(),
        "corpus_pipeline": _corpus_pipeline_oracle(),
        "corpus_ingest": _corpus_ingest_oracle(),
        # the streaming admission must equal the batch admission row
        # for row — same full-chain replay
        "corpus_ingest_stream": _corpus_ingest_oracle(),
        "stay_points": _stay_points_oracle(),
        "overlay_pairs": _overlay_pairs_oracle(),
        "reverse_geocode": _reverse_geocode_oracle(),
        "top_tokens": _top_tokens_oracle(),
        "overlay_clusters": _overlay_clusters_oracle(),
        "span_dedup": _span_dedup_oracle(),
        "tile_refresh": _tile_refresh_oracle(),
        "diff_assembly": _diff_assembly_oracle(),
        "tile_clip": _tile_clip_oracle(),
        "route_density": _route_density_oracle(),
        "way_crossings": _way_crossings_oracle(),
        "hausdorff_pairs": _hausdorff_oracle(),
        "way_resample": _way_resample_oracle(),
        "isochrone_hull": _isochrone_hull_oracle(),
        "frechet_pairs": _frechet_oracle(),
        "token_quantiles": _token_quantiles_oracle(),
        "containment_pairs": _containment_oracle(),
        "scc": _scc_oracle(),
        "bowtie": _bowtie_oracle(),
        "condensation_levels": _condensation_oracle(),
        "landmark_stress": _stress_oracle(),
        "host_scc": _host_scc_oracle(),
        "stream_crossings": _way_crossings_oracle(
            pair_pred="s.way_id % 2 = 1 AND t.way_id % 2 = 0"
        ),
        "street_orientation": _orientation_oracle(),
        "orientation_entropy": _orientation_entropy_oracle(),
        "pq_ann": _pq_ann_oracle(),
        "way_assembly": _way_assembly_oracle(),
        "contours": _contours_oracle(),
        # full probe (nprobe == k clusters) scores every vector, so the
        # IVF result must equal exact brute-force cosine top-10
        "ivf_ann": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8
            ), scored AS (
                SELECT q.query_id, c.vec_id,
                       round(
                           list_sum(list_transform(range(64),
                               i -> q.qv[i+1]::DOUBLE * c.embedding[i+1]::DOUBLE))
                           / (sqrt(list_sum(list_transform(range(64),
                                  i -> q.qv[i+1]::DOUBLE * q.qv[i+1]::DOUBLE)))
                            * sqrt(list_sum(list_transform(range(64),
                                  i -> c.embedding[i+1]::DOUBLE * c.embedding[i+1]::DOUBLE)))), 6)
                           AS cos_sim
                FROM embeddings c CROSS JOIN q
            )
            SELECT query_id, vec_id, cos_sim, CAST(rn AS INT) AS rank FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                           ORDER BY cos_sim DESC, vec_id ASC) AS rn
                FROM scored
            ) WHERE rn <= 10
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "latest_order_per_customer": """
            SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
                   top_value_orderkey
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn,
                       FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                       AS top_value_orderkey
                  FROM orders)
            WHERE rn = 1
        """,
        "interval_filter": """
            SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
                   CAST(o_orderdate AS DATE) <= DATE '1996-06-30'
                   AND (CASE WHEN o_orderkey % 5 = 0 THEN NULL
                             ELSE CAST(o_orderdate AS DATE) + 90 END IS NULL
                        OR CASE WHEN o_orderkey % 5 = 0 THEN NULL
                                ELSE CAST(o_orderdate AS DATE) + 90 END
                           >= DATE '1996-06-30') AS active_null_open
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate <= TIMESTAMP '1996-12-31'
              AND o_orderstatus = 'O'
        """,
        "grouped_count_having": """
            SELECT o_custkey, COUNT(*) AS n_orders
            FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 12
        """,
        "broadcast_lookup_join": """
            SELECT p_brand, COUNT(*) AS n_items,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand
        """,
        "anti_join": """
            SELECT c_custkey, c_name, c_mktsegment
            FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
        "signed_sum": """
            SELECT user_id,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN CAST(value AS DECIMAL(18,2))
                                 ELSE -CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS net_value
            FROM events
            WHERE event_type IN ('purchase', 'error')
            GROUP BY user_id
        """,
        "multi_key_ordering": """
            SELECT c_custkey, c_mktsegment,
                   CAST(ROW_NUMBER() OVER (ORDER BY c_mktsegment ASC, c_acctbal DESC,
                        c_custkey ASC) AS INT) AS rank
            FROM customer
        """,
        "tag_requirement_met": """
            SELECT met, COUNT(*) AS n FROM (
                SELECT NOT (k_value IS NULL OR TRIM(k_value) = '' OR k_value = '0'
                            OR LOWER(SUBSTRING(k_value, 1, 1)) = 'x') AS met
                FROM (SELECT json_extract_string(props, '$.k') AS k_value FROM events)
            ) GROUP BY met
        """,
        "exact_dedup": """
            SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_dups
            FROM documents GROUP BY text
        """,
        "token_stats": """
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS total_tokens,
                   ROUND(SUM(CAST(LENGTH(text) AS DOUBLE))
                         / SUM(CAST(len(string_split(text, ' ')) AS DOUBLE)), 4) AS chars_per_token,
                   CAST(sum(CAST(list_sum(list_transform(string_split(lower(text), ' '),
                        w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT)) AS BIGINT)
                       AS total_subword_tokens
            FROM documents GROUP BY lang
        """,
        "haversine_distance": _haversine_s2_oracle(),
        "minhash_lsh_pairs": """
            WITH tok AS (
                SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok
                FROM documents
            ), seeded AS (
                SELECT doc_id, seed, tok
                FROM tok CROSS JOIN (SELECT unnest(range(32)) AS seed) s
            ), sig AS (
                SELECT doc_id, seed, min(md5(seed::VARCHAR || ':' || tok)) AS minhash
                FROM seeded GROUP BY doc_id, seed
            ), band AS (
                SELECT doc_id, seed % 4 AS band,
                       md5(string_agg(minhash, ',' ORDER BY seed)) AS band_hash
                FROM sig GROUP BY doc_id, seed % 4
            )
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM band a JOIN band b ON a.band = b.band AND a.band_hash = b.band_hash
            WHERE a.doc_id < b.doc_id
        """,
        "near_dup_jaccard": """
            WITH tok AS (
                SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok
                FROM documents
            ), seeded AS (
                SELECT doc_id, seed, tok
                FROM tok CROSS JOIN (SELECT unnest(range(32)) AS seed) s
            ), sig AS (
                SELECT doc_id, seed, min(md5(seed::VARCHAR || ':' || tok)) AS minhash
                FROM seeded GROUP BY doc_id, seed
            ), band AS (
                SELECT doc_id, seed % 4 AS band,
                       md5(string_agg(minhash, ',' ORDER BY seed)) AS band_hash
                FROM sig GROUP BY doc_id, seed % 4
            ), pairs AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM band a JOIN band b ON a.band = b.band AND a.band_hash = b.band_hash
                WHERE a.doc_id < b.doc_id
            ), sizes AS (
                SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id
            ), inter AS (
                SELECT p.doc_a, p.doc_b, count(*) AS n_inter
                FROM pairs p
                JOIN tok ta ON ta.doc_id = p.doc_a
                JOIN tok tb ON tb.doc_id = p.doc_b AND tb.tok = ta.tok
                GROUP BY p.doc_a, p.doc_b
            )
            SELECT doc_a, doc_b, jaccard FROM (
                SELECT i.doc_a, i.doc_b,
                       round(n_inter / CAST(sa.sz + sb.sz - n_inter AS DOUBLE), 6) AS jaccard
                FROM inter i
                JOIN sizes sa ON sa.doc_id = i.doc_a
                JOIN sizes sb ON sb.doc_id = i.doc_b
            ) WHERE jaccard >= 0.8
        """,
        "zorder_key": _zorder_oracle(),
        "incremental_dedup": """
            WITH tok AS (
                SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok
                FROM documents
            ), seeded AS (
                SELECT doc_id, seed, tok
                FROM tok CROSS JOIN (SELECT unnest(range(32)) AS seed) s
            ), sig AS (
                SELECT doc_id, seed, min(md5(seed::VARCHAR || ':' || tok)) AS minhash
                FROM seeded GROUP BY doc_id, seed
            ), band AS (
                SELECT doc_id, seed % 4 AS band,
                       md5(string_agg(minhash, ',' ORDER BY seed)) AS band_hash
                FROM sig GROUP BY doc_id, seed % 4
            ), pairs AS (
                -- doc_b is always a batch doc (doc_id % 10 = 0); doc_a is a
                -- corpus doc, or an earlier batch doc (each dup once)
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM band a JOIN band b ON a.band = b.band AND a.band_hash = b.band_hash
                WHERE b.doc_id % 10 = 0 AND a.doc_id <> b.doc_id
                  AND (a.doc_id % 10 <> 0 OR a.doc_id < b.doc_id)
            ), sizes AS (
                SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id
            ), inter AS (
                SELECT p.doc_a, p.doc_b, count(*) AS n_inter
                FROM pairs p
                JOIN tok ta ON ta.doc_id = p.doc_a
                JOIN tok tb ON tb.doc_id = p.doc_b AND tb.tok = ta.tok
                GROUP BY p.doc_a, p.doc_b
            )
            SELECT doc_a, doc_b, jaccard FROM (
                SELECT i.doc_a, i.doc_b,
                       round(n_inter / CAST(sa.sz + sb.sz - n_inter AS DOUBLE), 6) AS jaccard
                FROM inter i
                JOIN sizes sa ON sa.doc_id = i.doc_a
                JOIN sizes sb ON sb.doc_id = i.doc_b
            ) WHERE jaccard >= 0.8
        """,
        "simhash": """
            WITH tok AS (
                SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok
                FROM documents
            ), hv AS (
                SELECT doc_id,
                       (strpos('0123456789abcdef', substring(md5(tok), 1, 1)) - 1) * 4096
                     + (strpos('0123456789abcdef', substring(md5(tok), 2, 1)) - 1) * 256
                     + (strpos('0123456789abcdef', substring(md5(tok), 3, 1)) - 1) * 16
                     + (strpos('0123456789abcdef', substring(md5(tok), 4, 1)) - 1) AS hv
                FROM tok
            ), votes AS (
                SELECT doc_id, bit,
                       sum(CASE WHEN (hv >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
                FROM hv CROSS JOIN (SELECT unnest(range(16)) AS bit) b
                GROUP BY doc_id, bit
            )
            SELECT doc_id,
                   CAST(sum(CASE WHEN vote > 0 THEN (1 << bit) ELSE 0 END) AS BIGINT) AS simhash,
                   md5(regexp_replace(trim(lower(any_value(text_))), ' +', ' ', 'g')) AS fp
            FROM (SELECT v.doc_id, v.bit, v.vote, d.text AS text_
                  FROM votes v JOIN documents d ON d.doc_id = v.doc_id)
            GROUP BY doc_id
        """,
        "quality_features": """
            WITH w AS (
                SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
            ), s AS (
                SELECT doc_id,
                    len(list_filter(ws, t -> t IN ('der','die','das','und','nicht','ist','ein'))) AS de,
                    len(list_filter(ws, t -> t IN ('the','a','of','and','to','is','in'))) AS en,
                    len(list_filter(ws, t -> t IN ('el','la','los','de','que','es','un'))) AS es,
                    len(list_filter(ws, t -> t IN ('le','la','les','et','est','une','dans'))) AS fr,
                    len(list_filter(ws, t -> t IN ('de5','shi4','le5','zai4','he2','you3','wo3'))) AS zh
                FROM w
            ), p AS (
                SELECT doc_id,
                       CASE WHEN de >= greatest(en, es, fr, zh) THEN 'de'
                            WHEN en >= greatest(es, fr, zh) THEN 'en'
                            WHEN es >= greatest(fr, zh) THEN 'es'
                            WHEN fr >= zh THEN 'fr'
                            ELSE 'zh' END AS predicted_lang
                FROM s
            )
            SELECT documents.doc_id,
                   CAST(length(text) AS INT) AS n_chars,
                   CAST(len(string_split(lower(text), ' ')) AS INT) AS n_words,
                   round((length(text) - len(string_split(lower(text), ' ')) + 1)
                         / CAST(len(string_split(lower(text), ' ')) AS DOUBLE), 6) AS mean_word_len,
                   round(len(list_filter(string_split(lower(text), ' '),
                             t -> t IN ('the','a','of','and','to','is','in')))
                         / CAST(len(string_split(lower(text), ' ')) AS DOUBLE), 6) AS stopword_ratio,
                   round(len(list_distinct(string_split(lower(text), ' ')))
                         / CAST(len(string_split(lower(text), ' ')) AS DOUBLE), 6) AS uniq_token_ratio,
                   round(
                       least(len(string_split(lower(text), ' ')) / 100.0, 1.0) * 0.25
                     + (len(list_filter(string_split(lower(text), ' '),
                            t -> t IN ('the','a','of','and','to','is','in')))
                        / CAST(len(string_split(lower(text), ' ')) AS DOUBLE)) * 0.25
                     + (len(list_distinct(string_split(lower(text), ' ')))
                        / CAST(len(string_split(lower(text), ' ')) AS DOUBLE)) * 0.25
                     + (1.0 - (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                              / CAST(length(text) AS DOUBLE)) * 0.125
                     + (1.0 - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
                              / CAST(length(text) AS DOUBLE)) * 0.125, 6) AS quality_score,
                   p.predicted_lang
            FROM documents JOIN p ON p.doc_id = documents.doc_id
        """,
        "cosine_topk": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8
            ), scored AS (
                SELECT q.query_id, c.vec_id,
                       round(
                           list_sum(list_transform(range(64),
                               i -> q.qv[i+1]::DOUBLE * c.embedding[i+1]::DOUBLE))
                           / (sqrt(list_sum(list_transform(range(64),
                                  i -> q.qv[i+1]::DOUBLE * q.qv[i+1]::DOUBLE)))
                            * sqrt(list_sum(list_transform(range(64),
                                  i -> c.embedding[i+1]::DOUBLE * c.embedding[i+1]::DOUBLE)))), 6)
                           AS cos_sim
                FROM embeddings c CROSS JOIN q
            )
            SELECT query_id, vec_id, cos_sim, CAST(rn AS INT) AS rank FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                           ORDER BY cos_sim DESC, vec_id ASC) AS rn
                FROM scored
            ) WHERE rn <= 10
        """,
        "ann_lsh_topk": """
            -- plane count mirrors plan_planes(count(*), target=16):
            -- P = clamp(ceil(log2(max(n/target, 2))), 1, 31)
            WITH np AS (
                SELECT greatest(1, least(31,
                       CAST(ceil(log2(greatest(count(*) / 16.0, 2.0))) AS INT))) AS p_cnt
                FROM embeddings
            ), planes AS (
                SELECT p, list_transform(range(64),
                       i -> ((p * 73856093 + i * 19349663) % 2001 - 1000) / 1000.0) AS plane
                FROM (SELECT unnest(range((SELECT p_cnt FROM np))) AS p)
            ), bv AS (
                SELECT e.vec_id, e.embedding,
                       CAST(sum(CASE WHEN list_sum(list_transform(range(64),
                                i -> e.embedding[i+1]::DOUBLE * p.plane[i+1])) > 0
                                THEN (1 << p.p) ELSE 0 END) AS INT) AS bucket
                FROM embeddings e CROSS JOIN planes p
                GROUP BY e.vec_id, e.embedding
            ), q AS (
                SELECT vec_id AS query_id, embedding AS qv, bucket FROM bv WHERE vec_id < 8
            ), scored AS (
                SELECT q.query_id, c.vec_id,
                       round(
                           list_sum(list_transform(range(64),
                               i -> q.qv[i+1]::DOUBLE * c.embedding[i+1]::DOUBLE))
                           / (sqrt(list_sum(list_transform(range(64),
                                  i -> q.qv[i+1]::DOUBLE * q.qv[i+1]::DOUBLE)))
                            * sqrt(list_sum(list_transform(range(64),
                                  i -> c.embedding[i+1]::DOUBLE * c.embedding[i+1]::DOUBLE)))), 6)
                           AS cos_sim
                FROM bv c JOIN q ON c.bucket = q.bucket
            )
            SELECT query_id, vec_id, cos_sim, CAST(rn AS INT) AS rank FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                           ORDER BY cos_sim DESC, vec_id ASC) AS rn
                FROM scored
            ) WHERE rn <= 10
        """,
        "embedding_near_dups": """
            -- plane count mirrors plan_planes(count(*), target=64)
            WITH np AS (
                SELECT greatest(1, least(31,
                       CAST(ceil(log2(greatest(count(*) / 64.0, 2.0))) AS INT))) AS p_cnt
                FROM embeddings
            ), planes AS (
                SELECT p, list_transform(range(64),
                       i -> ((p * 73856093 + i * 19349663) % 2001 - 1000) / 1000.0) AS plane
                FROM (SELECT unnest(range((SELECT p_cnt FROM np))) AS p)
            ), bv AS (
                SELECT e.vec_id, e.embedding,
                       CAST(sum(CASE WHEN list_sum(list_transform(range(64),
                                i -> e.embedding[i+1]::DOUBLE * p.plane[i+1])) > 0
                                THEN (1 << p.p) ELSE 0 END) AS INT) AS bucket
                FROM embeddings e CROSS JOIN planes p
                GROUP BY e.vec_id, e.embedding
            )
            SELECT vec_a, vec_b, cos_sim FROM (
                SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                       round(
                           list_sum(list_transform(range(64),
                               i -> a.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE))
                           / (sqrt(list_sum(list_transform(range(64),
                                  i -> a.embedding[i+1]::DOUBLE * a.embedding[i+1]::DOUBLE)))
                            * sqrt(list_sum(list_transform(range(64),
                                  i -> b.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE)))), 6)
                           AS cos_sim
                FROM bv a JOIN bv b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            ) WHERE cos_sim >= 0.3
        """,
        "media_features": """
            SELECT doc_id AS media_id,
                   CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                        WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   CAST(16 + octet_length(encode(text)) % 1024 AS INT) AS width,
                   CAST(16 + (octet_length(encode(text)) * 31
                        + ascii(substring(text, 1, 1))) % 1024 AS INT) AS height,
                   CAST(CASE WHEN doc_id % 3 = 0 THEN 1
                        ELSE 1 + octet_length(encode(text)) % 240 END AS INT) AS n_frames,
                   md5(text) AS checksum,
                   CAST(NULL AS INT) AS frame_idx
            FROM documents
            UNION ALL
            SELECT doc_id, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
                   CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS INT),
                   CAST(NULL AS VARCHAR),
                   CAST(unnest(range(0, 1 + octet_length(encode(text)) % 240, 24)) AS INT)
            FROM documents WHERE doc_id % 3 = 2
        """,
        "stream_window_counts": """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "sessionize": """
            WITH m AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                            THEN 1 ELSE 0 END AS new_session
                FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
                SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_seq
                FROM m
            )
            SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
                   min(ts) AS session_start, max(ts) AS session_end,
                   count(*) AS n_events
            FROM s GROUP BY user_id, session_seq
        """,
        "grouping_rollup": """
            SELECT r_name, n_name,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                   count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
        """,
        "union_lookup_join": """
            SELECT n_name, kind, count(*) AS n FROM (
                SELECT s_nationkey AS nk, 'supplier' AS kind FROM supplier
                UNION ALL
                SELECT c_nationkey AS nk, 'customer' AS kind FROM customer
            ) u JOIN nation ON nk = n_nationkey
            GROUP BY n_name, kind
        """,
        "composite_key_join": """
            WITH dim AS (
                SELECT o_orderstatus || '_' || o_orderpriority AS k,
                       min(o_orderkey) AS first_key
                FROM orders GROUP BY 1
            )
            SELECT k, first_key, count(*) AS n
            FROM orders JOIN dim ON o_orderstatus || '_' || o_orderpriority = k
            GROUP BY k, first_key
        """,
        "dual_format_dates": """
            WITH s AS (
                SELECT CASE WHEN o_orderkey % 2 = 0
                            THEN strftime(o_orderdate, '%Y-%m-%d')
                            ELSE strftime(o_orderdate, '%d/%m/%Y') END AS ds
                FROM orders
            ), p AS (
                SELECT CASE WHEN contains(ds, '-')
                            THEN CAST(try_strptime(ds, '%Y-%m-%d') AS DATE)
                            ELSE CAST(try_strptime(ds, '%d/%m/%Y') AS DATE) END AS d
                FROM s
            )
            SELECT CAST(year(CASE WHEN d = DATE '1970-01-01' THEN NULL ELSE d END) AS INT) AS yr,
                   count(*) AS n
            FROM p GROUP BY 1
        """,
        "money_tbc": """
            WITH s AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey % 97 = 0 THEN '-1'
                            ELSE CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
                       END AS cost_str
                FROM orders
            )
            SELECT o_orderkey,
                   CASE WHEN regexp_full_match(cost_str, '\\d+\\.\\d{2}')
                        THEN CAST(CAST(cost_str AS DECIMAL(12,2)) AS DOUBLE) END AS cost,
                   cost_str IN ('-1', 'TBC') AS tbc
            FROM s
        """,
        "level_fold": """
            SELECT CAST(len(list_filter([0, 1000, 5000, 10000, 50000, 100000, 200000, 300000],
                       t -> t <= o_totalprice)) AS INT) AS level,
                   count(*) AS n
            FROM orders GROUP BY 1
        """,
        "distinct_agg": """
            SELECT c_mktsegment,
                   CAST(CASE c_mktsegment WHEN 'BUILDING' THEN 1 WHEN 'AUTOMOBILE' THEN 2
                        WHEN 'MACHINERY' THEN 3 WHEN 'HOUSEHOLD' THEN 4
                        WHEN 'FURNITURE' THEN 5 ELSE 0 END AS INT) AS seg_rank,
                   count(DISTINCT c_nationkey) AS n_nations,
                   count(*) AS n_customers
            FROM customer GROUP BY c_mktsegment
        """,
        "map_key_split": """
            SELECT event_id, 'field' AS kind, 'f_1' AS key,
                   CAST(user_id AS VARCHAR) AS value FROM events
            UNION ALL
            SELECT event_id, 'field', 'f_2', CAST(event_id % 100 AS VARCHAR) FROM events
            UNION ALL
            SELECT event_id, 'date', strftime(CAST(ts AS DATE), '%Y-%m-%d'),
                   event_type FROM events
        """,
        "modules_gained": """
            SELECT user_id, event_type, gained FROM (
                SELECT user_id, event_type,
                       CAST(sum(CASE WHEN NOT (v IS NULL OR trim(v) = '' OR v = '0'
                                     OR lower(substring(v, 1, 1)) = 'x')
                                THEN 1 ELSE 0 END) AS BIGINT) AS gained
                FROM (SELECT user_id, event_type,
                             json_extract_string(props, '$.k') AS v FROM events)
                GROUP BY user_id, event_type
            ) WHERE gained >= 5
        """,
        "cdc_diff": """
            WITH old AS (
                SELECT o_orderkey, o_orderstatus, o_orderpriority, o_custkey
                FROM orders WHERE o_orderkey % 13 <> 0
            ), new AS (
                SELECT o_orderkey, o_orderstatus,
                       CASE WHEN o_orderkey % 7 = 0 THEN '9-CHANGED'
                            ELSE o_orderpriority END AS o_orderpriority,
                       o_custkey
                FROM orders WHERE o_orderkey % 11 <> 0
            ), j AS (
                SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
                       CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                            WHEN n.o_orderkey IS NULL THEN 'delete'
                            ELSE 'update' END AS change,
                       o.o_orderstatus AS old_status, n.o_orderstatus AS new_status,
                       o.o_orderpriority AS old_prio, n.o_orderpriority AS new_prio,
                       CAST(o.o_custkey AS VARCHAR) AS old_ck,
                       CAST(n.o_custkey AS VARCHAR) AS new_ck
                FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
            ), cells AS (
                SELECT o_orderkey, 'o_orderstatus' AS column, old_status AS old_value,
                       new_status AS new_value, change FROM j
                UNION ALL
                SELECT o_orderkey, 'o_orderpriority', old_prio, new_prio, change FROM j
                UNION ALL
                SELECT o_orderkey, 'o_custkey', old_ck, new_ck, change FROM j
            )
            SELECT * FROM cells
            WHERE change <> 'update' OR old_value IS DISTINCT FROM new_value
        """,
        "merge_upsert": """
            WITH old AS (
                SELECT o_orderkey, o_orderstatus, o_orderpriority, o_custkey
                FROM orders WHERE o_orderkey % 13 <> 0
            ), new AS (
                SELECT o_orderkey, o_orderstatus,
                       CASE WHEN o_orderkey % 7 = 0 THEN '9-CHANGED'
                            ELSE o_orderpriority END AS o_orderpriority,
                       o_custkey
                FROM orders WHERE o_orderkey % 11 <> 0
            )
            SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
                   coalesce(n.o_orderstatus, o.o_orderstatus) AS o_orderstatus,
                   coalesce(n.o_orderpriority, o.o_orderpriority) AS o_orderpriority,
                   coalesce(n.o_custkey, o.o_custkey) AS o_custkey
            FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
        """,
        "visibility_semi_join": """
            SELECT c_mktsegment, count(*) AS n_visible
            FROM customer c
            WHERE c.c_nationkey IN (
                      SELECT n_nationkey FROM nation JOIN region
                      ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE')
               OR c.c_acctbal > 9000
            GROUP BY c_mktsegment
        """,
        "name_formatting": """
            SELECT c_custkey,
                   lower(c_mktsegment) || ' ' || c_name AS full_name,
                   '"' || lower(c_mktsegment) || ' ' || c_name || '" <'
                       || lower(replace(c_name, '#', '-')) || '@x.org>' AS email_fmt,
                   c_mktsegment AS name,
                   '+' || CAST(c_custkey AS VARCHAR) AS number
            FROM customer
        """,
        "phone_age_decode": """
            SELECT c_custkey,
                   regexp_replace('+' || CAST(c_nationkey AS VARCHAR) || ' (0)'
                       || CAST(c_custkey % 900 + 100 AS VARCHAR) || '-'
                       || CAST(c_custkey % 10000 AS VARCHAR) || ' ext.9',
                       '[^0-9+]', '', 'g') AS phone_norm,
                   CAST(c_custkey % 90 AS INT) AS age_years,
                   CAST(c_custkey % 12 AS INT) AS age_months,
                   CASE CAST(c_custkey % 4 AS INT)
                        WHEN 0 THEN 'read,write,administer'
                        WHEN 1 THEN 'read,write'
                        WHEN 2 THEN 'read'
                        ELSE '' END AS grants
            FROM customer
        """,
        "badge_status_decode": """
            SELECT c_custkey,
                   CASE CAST(c_custkey % 6 AS INT)
                        WHEN 0 THEN 'started' WHEN 1 THEN 'due' WHEN 2 THEN 'due'
                        ELSE 'awarded' END AS status,
                   CASE CAST(c_custkey % 6 AS INT)
                        WHEN 2 THEN 2 WHEN 4 THEN 3 END AS level,
                   CASE CAST(c_custkey % 6 AS INT)
                        WHEN 4 THEN DATE '2016-02-01'
                        WHEN 5 THEN DATE '2020-07-15' END AS date
            FROM customer
        """,
        "sent_at_subject": """
            WITH s AS (
                SELECT o_orderkey,
                       strftime(o_orderdate, '%d/%m/%Y %H:%M') || ' - Order '
                           || o_orderpriority
                           || CASE WHEN o_orderkey % 3 = 0 THEN ' - resent' ELSE '' END AS str
                FROM orders
            )
            SELECT o_orderkey,
                   try_strptime(substr(str, 1, strpos(str, ' - ') - 1),
                                '%d/%m/%Y %H:%M') AS sent_at,
                   substr(str, strpos(str, ' - ') + 3) AS subject,
                   CASE WHEN o_orderkey % 13 = 0 THEN NULL
                        WHEN o_orderkey % 11 = 0 THEN CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)
                        ELSE CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)
                             + (o_orderkey % 24) * INTERVAL 1 HOUR
                             + (o_orderkey % 60) * INTERVAL 1 MINUTE
                   END AS ts
            FROM s JOIN orders USING (o_orderkey)
        """,
        "quarantine": """
            SELECT o_orderkey, 'price_out_of_range' AS violation
            FROM orders WHERE o_totalprice > 450000
            UNION ALL
            SELECT o_orderkey, 'synthetic_bad_status' FROM orders WHERE o_orderkey % 97 = 0
            UNION ALL
            SELECT o_orderkey, 'missing_date' FROM orders WHERE o_orderdate IS NULL
        """,
        "tile_pyramid": """
            WITH pts AS (
                SELECT (c_custkey * 2654435761 % 1700001) / 10000.0 - 85.0 AS lat,
                       (c_custkey * 40503 % 3600001) / 10000.0 - 180.0 AS lon
                FROM customer
            ), t AS (
                SELECT LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * 1024.0) AS BIGINT), 0), 1023) AS tx,
                       LEAST(GREATEST(CAST(FLOOR((1.0 - ln(
                           tan(radians(LEAST(GREATEST(lat, -85.05112878), 85.05112878)))
                           + sqrt(tan(radians(LEAST(GREATEST(lat, -85.05112878), 85.05112878)))
                                  * tan(radians(LEAST(GREATEST(lat, -85.05112878), 85.05112878))) + 1.0)
                       ) / pi()) / 2.0 * 1024.0) AS BIGINT), 0), 1023) AS ty
                FROM pts
            ), base AS (
                SELECT tx, ty, count(*) AS n FROM t GROUP BY tx, ty
            )
            SELECT 10 AS z, tx, ty, CAST(sum(n) AS BIGINT) AS n FROM base GROUP BY tx, ty
            UNION ALL
            SELECT 8, tx >> 2, ty >> 2, CAST(sum(n) AS BIGINT) FROM base GROUP BY tx >> 2, ty >> 2
            UNION ALL
            SELECT 6, tx >> 4, ty >> 4, CAST(sum(n) AS BIGINT) FROM base GROUP BY tx >> 4, ty >> 4
        """,
        "asof_join": """
            WITH l AS (
                SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
            ), r AS (
                SELECT user_id, ts AS rts, max(event_id) AS purchase_id
                FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
            )
            SELECT l.event_id, l.user_id, l.ts, r.purchase_id, r.rts AS asof_ts
            FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.rts
        """,
        "audit_trail": """
            SELECT event_id,
                   CASE WHEN event_id % 3 = 0
                        THEN 'f_' || CAST(event_id % 5 AS VARCHAR) END AS label,
                   CASE WHEN event_id % 3 = 0 THEN event_type END AS value,
                   CASE WHEN event_id % 3 = 1 THEN
                        CASE CAST(event_id % 6 AS INT)
                             WHEN 0 THEN 'yes' WHEN 1 THEN 'no' WHEN 2 THEN 'invited'
                             WHEN 3 THEN 'shown' WHEN 4 THEN 'reserved' END
                   END AS attendance,
                   event_id % 4 = 0 AS has_required_tag
            FROM events
        """,
        "sms_credits": """
            SELECT section_id, n_selected,
                   CAST(section_id * 7 % 100 AS INT) AS credits,
                   n_selected <= section_id * 7 % 100 AS can_send,
                   CAST(GREATEST(section_id * 7 % 100 - n_selected, 0) AS INT) AS headroom
            FROM (SELECT user_id % 50 AS section_id, count(*) AS n_selected
                  FROM events WHERE event_type = 'click' GROUP BY 1)
        """,
        "flexi_collation": """
            WITH ids AS (
                SELECT DISTINCT CASE CAST(o_orderkey % 5 AS INT)
                    WHEN 0 THEN 'f_' || CAST(o_orderkey % 23 AS VARCHAR)
                    WHEN 1 THEN 'firstname' WHEN 2 THEN 'lastname' WHEN 3 THEN 'dob'
                    ELSE 'f_' || CAST(o_orderkey % 7 AS VARCHAR) END AS col_id
                FROM orders
            )
            SELECT col_id,
                   CAST(row_number() OVER (
                        ORDER BY CASE WHEN regexp_full_match(col_id, 'f_\\d+')
                                      THEN 1 ELSE 0 END, col_id) AS INT) AS sort_rank
            FROM ids
        """,
        "earnt_cnf": """
            WITH met AS (
                SELECT user_id, event_type,
                       CASE WHEN NOT (v IS NULL OR trim(v) = '' OR v = '0'
                                 OR lower(substring(v, 1, 1)) = 'x')
                            THEN 1 ELSE 0 END AS m
                FROM (SELECT user_id, event_type,
                             json_extract_string(props, '$.k') AS v FROM events)
            ), g AS (
                SELECT user_id, event_type, sum(m) >= 2 AS gained
                FROM met GROUP BY user_id, event_type
            ), p AS (
                SELECT user_id,
                       max(CASE WHEN event_type = 'click' THEN gained END) AS g_click,
                       max(CASE WHEN event_type = 'view' THEN gained END) AS g_view,
                       max(CASE WHEN event_type = 'purchase' THEN gained END) AS g_purchase
                FROM g GROUP BY user_id
            )
            SELECT user_id,
                   coalesce(g_click, false)
                       OR (coalesce(g_view, false) AND coalesce(g_purchase, false)) AS earnt
            FROM p
        """,
        # --- tail queries (outside the driver's 50-entry window; exact
        # twins kept for tools/check_oracle.py and judge replay) ---
        "pack_sequences": """
            WITH t AS (
                SELECT doc_id,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                FROM documents
            ), c AS (
                SELECT doc_id, n_tok,
                       SUM(n_tok) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM t
            )
            SELECT doc_id, n_tok, CAST(cum AS BIGINT) AS cum_tokens,
                   CAST((cum - n_tok) // 256 AS BIGINT) AS pack_id,
                   CAST((cum - n_tok) % 256 AS BIGINT) AS pack_offset,
                   CAST((CASE WHEN n_tok > 0 THEN (cum - 1) // 256
                              ELSE (cum - n_tok) // 256 END)
                        - (cum - n_tok) // 256 + 1 AS BIGINT) AS n_packs_spanned
            FROM c
        """,
        "quota_sample": """
            SELECT doc_id, source, CAST(rk AS INT) AS rk FROM (
                SELECT doc_id, source,
                       ROW_NUMBER() OVER (
                           PARTITION BY source
                           ORDER BY md5('s1:' || CAST(doc_id AS VARCHAR)), doc_id
                       ) AS rk
                FROM documents
            ) WHERE rk <= 20
        """,
        "mixture_sample": """
            SELECT doc_id, source, lang FROM documents
            WHERE md5('s1:' || CAST(doc_id AS VARCHAR)) <
                CASE
                    WHEN source IN ('src0','src1','src2','src3','src4')
                        THEN 'gggggggggggggggggggggggggggggggg'
                    WHEN source IN ('src5','src6','src7','src8','src9')
                        THEN '80000000000000000000000000000000'
                    WHEN source IN ('src10','src11','src12','src13','src14')
                        THEN '40000000000000000000000000000000'
                    ELSE '19999999000000000000000000000000'
                END
        """,
        "hash_sample": """
            SELECT doc_id, lang FROM documents
            WHERE md5('s1:' || CAST(doc_id AS VARCHAR))
                  < '40000000000000000000000000000000'
        """,
        "redact_pii": r"""
            WITH s1 AS (
                SELECT doc_id,
                       CAST(len(regexp_extract_all(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
                       regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g') AS t1
                FROM documents
            ), s2 AS (
                SELECT doc_id, n_emails,
                       CAST(len(regexp_extract_all(t1,
                           '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT) AS n_ips,
                       regexp_replace(t1,
                           '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
                           '<IP>', 'g') AS t2
                FROM s1
            ), s3 AS (
                SELECT doc_id, n_emails, n_ips,
                       CAST(len(regexp_extract_all(t2,
                           '\+[0-9][0-9 ()-]{6,}[0-9]')) AS INT) AS n_phones,
                       regexp_replace(t2, '\+[0-9][0-9 ()-]{6,}[0-9]',
                           '<PHONE>', 'g') AS t3
                FROM s2
            )
            SELECT doc_id, n_emails, n_ips, n_phones, md5(t3) AS redacted_fp
            FROM s3
        """,
        "repetition_ratio": """
            WITH w AS (
                SELECT doc_id, string_split(lower(text), ' ') AS ws
                FROM documents
            ), g AS (
                SELECT doc_id,
                       CAST(greatest(len(ws) - 2, 0) AS BIGINT) AS total,
                       list_transform(range(1, len(ws) - 1),
                           i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])) AS grams
                FROM w
            )
            SELECT doc_id, total AS n_3grams,
                   CAST(len(list_distinct(grams)) AS BIGINT) AS distinct_3grams,
                   CASE WHEN total <= 0 THEN 0.0
                        ELSE round(1.0 - len(list_distinct(grams))
                                   / CAST(total AS DOUBLE), 6)
                   END AS repetition_ratio
            FROM g
        """,
        "bloom_screen": _bloom_oracle(),
        "decontaminate": """
            WITH bench AS (
                SELECT substr(text, 1, 240) AS btext
                FROM documents WHERE doc_id % 41 = 0
            ), bw AS (
                SELECT string_split(lower(btext), ' ') AS ws FROM bench
            ), bg AS (
                SELECT DISTINCT md5(g) AS gram_key
                FROM bw, unnest(list_distinct(list_transform(
                         range(1, len(ws) - 3),
                         i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2],
                                        ws[i+3], ws[i+4])))) AS t(g)
                WHERE len(ws) >= 5
            ), dw AS (
                SELECT doc_id, string_split(lower(text), ' ') AS ws
                FROM documents
            ), dg AS (
                SELECT doc_id,
                       CASE WHEN len(ws) < 5 THEN CAST([] AS VARCHAR[])
                            ELSE list_distinct(list_transform(
                                range(1, len(ws) - 3),
                                i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2],
                                               ws[i+3], ws[i+4])))
                       END AS grams
                FROM dw
            ), hits AS (
                SELECT doc_id, count(*) AS n_hits
                FROM (SELECT doc_id, unnest(grams) AS g FROM dg) e
                JOIN bg ON md5(e.g) = bg.gram_key
                GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(len(d.grams) AS INT) AS n_grams,
                   CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
                   COALESCE(h.n_hits, 0) > 0 AS contaminated
            FROM dg d LEFT JOIN hits h USING (doc_id)
        """,
        # raw string: regex backslashes must reach DuckDB verbatim (the
        # redact_pii lesson)
        "canonical_url": r"""
            WITH src AS (
                SELECT doc_id,
                       CASE doc_id % 5
                         WHEN 0 THEN 'HTTP://Example.COM:80/p/' || doc_id
                                     || '?utm_source=feed&id=' || doc_id || '#top'
                         WHEN 1 THEN 'https://news.example.org/a/' || doc_id
                                     || '?id=' || doc_id || '&utm_campaign=x&ref=kept'
                         WHEN 2 THEN 'HTTPS://CDN.Example.net:443/i/' || doc_id
                                     || '.jpg#frag'
                         WHEN 3 THEN 'http://example.com/p/' || doc_id || '?'
                         ELSE 'not a url ' || doc_id
                       END AS url
                FROM documents
            ), s1 AS (
                SELECT doc_id, url, trim(url) AS u FROM src
            ), s2 AS (
                SELECT *,
                    lower(regexp_extract(u,
                        '^([a-zA-Z][a-zA-Z0-9+.\-]*)://', 1)) AS scheme,
                    lower(regexp_extract(u,
                        '^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]*)', 1)) AS hostport
                FROM s1
            ), s3 AS (
                SELECT *,
                    regexp_replace(
                        substr(u, length(scheme) + 3 + length(hostport) + 1),
                        '#.*', '') AS tail,
                    CASE WHEN scheme = 'http' AND ends_with(hostport, ':80')
                              THEN substr(hostport, 1, length(hostport) - 3)
                         WHEN scheme = 'https' AND ends_with(hostport, ':443')
                              THEN substr(hostport, 1, length(hostport) - 4)
                         ELSE hostport END AS chost
                FROM s2
            ), s4 AS (
                SELECT *, regexp_extract(tail, '^([^?]*)', 1) AS cpath FROM s3
            ), s5 AS (
                SELECT *,
                    COALESCE(list_aggregate(list_filter(
                        string_split(substr(tail, length(cpath) + 2), '&'),
                        t -> NOT regexp_matches(t,
                                 '^(utm_[a-zA-Z0-9_]*|fbclid|gclid)=')
                             AND t <> ''),
                        'string_agg', '&'), '') AS new_query
                FROM s4
            )
            SELECT doc_id, url,
                   CASE WHEN scheme = '' THEN u
                        ELSE scheme || '://' || chost || cpath ||
                             CASE WHEN new_query <> '' THEN '?' || new_query
                                  ELSE '' END
                   END AS canon_url,
                   regexp_extract(hostport, '^([^:]*)', 1) AS host,
                   regexp_extract(regexp_extract(hostport, '^([^:]*)', 1),
                                  '([^.]+\.[^.]+)$', 1) AS domain
            FROM s5
        """,
        # Unrolled replay of the exact fixed-point recurrence
        # (graph/pagerank.py): integer mul / integer div / long sums only,
        # so the hash matches bit for bit. DuckDB's `//` and Spark's `div`
        # agree on non-negative longs. CASTs pin DuckDB's HUGEINT sums
        # back to BIGINT (values < 2^63 by construction).
        "pagerank": """
            WITH nn AS (SELECT count(*) AS n_docs FROM documents),
            edges AS (
                SELECT doc_id AS src, (doc_id * 7 + 1) % n_docs AS dst
                FROM documents, nn
                UNION ALL
                SELECT doc_id, (doc_id * 13 + 5) % n_docs FROM documents, nn
                UNION ALL
                SELECT doc_id, (doc_id * 31 + 11) % n_docs FROM documents, nn
            ),
            verts AS (SELECT DISTINCT id FROM (
                SELECT src AS id FROM edges
                UNION ALL SELECT dst FROM edges)),
            nv AS (SELECT count(*) AS n_v FROM verts),
            deg AS (SELECT src AS id, count(*) AS out_deg
                    FROM edges GROUP BY src),
            r0 AS (SELECT id, 1000000000000 // n_v AS r FROM verts, nv),
            d0 AS (SELECT CAST(COALESCE(SUM(CASE WHEN d.id IS NULL
                                THEN r.r END), 0) AS BIGINT) AS dang
                   FROM r0 r LEFT JOIN deg d USING (id)),
            s0 AS (SELECT e.dst AS id,
                          CAST(SUM((85 * r.r) // (100 * d.out_deg))
                               AS BIGINT) AS in_sum
                   FROM edges e JOIN r0 r ON r.id = e.src
                                JOIN deg d ON d.id = e.src
                   GROUP BY e.dst),
            r1 AS (SELECT v.id,
                          CAST(15000000000000 // (100 * nv.n_v)
                               + COALESCE(s.in_sum, 0)
                               + (85 * dd.dang) // (100 * nv.n_v)
                               AS BIGINT) AS r
                   FROM verts v LEFT JOIN s0 s USING (id), nv, d0 dd),
            d1 AS (SELECT CAST(COALESCE(SUM(CASE WHEN d.id IS NULL
                                THEN r.r END), 0) AS BIGINT) AS dang
                   FROM r1 r LEFT JOIN deg d USING (id)),
            s1 AS (SELECT e.dst AS id,
                          CAST(SUM((85 * r.r) // (100 * d.out_deg))
                               AS BIGINT) AS in_sum
                   FROM edges e JOIN r1 r ON r.id = e.src
                                JOIN deg d ON d.id = e.src
                   GROUP BY e.dst),
            r2 AS (SELECT v.id,
                          CAST(15000000000000 // (100 * nv.n_v)
                               + COALESCE(s.in_sum, 0)
                               + (85 * dd.dang) // (100 * nv.n_v)
                               AS BIGINT) AS r
                   FROM verts v LEFT JOIN s1 s USING (id), nv, d1 dd),
            d2 AS (SELECT CAST(COALESCE(SUM(CASE WHEN d.id IS NULL
                                THEN r.r END), 0) AS BIGINT) AS dang
                   FROM r2 r LEFT JOIN deg d USING (id)),
            s2 AS (SELECT e.dst AS id,
                          CAST(SUM((85 * r.r) // (100 * d.out_deg))
                               AS BIGINT) AS in_sum
                   FROM edges e JOIN r2 r ON r.id = e.src
                                JOIN deg d ON d.id = e.src
                   GROUP BY e.dst),
            r3 AS (SELECT v.id,
                          CAST(15000000000000 // (100 * nv.n_v)
                               + COALESCE(s.in_sum, 0)
                               + (85 * dd.dang) // (100 * nv.n_v)
                               AS BIGINT) AS r
                   FROM verts v LEFT JOIN s2 s USING (id), nv, d2 dd)
            SELECT id, r AS rank_scaled FROM r3
        """,
        "personalized_pagerank": _ppr_oracle(),
        "hits": _hits_oracle(),
        "label_propagation": _lpa_oracle(),
        "triangle_counts": _triangle_counts_oracle(),
        "rich_club": _rich_club_oracle(),
        "link_prediction": _link_prediction_oracle(),
        "assortativity": _assortativity_oracle(),
        "modularity": _modularity_oracle(),
        "lpa_modularity": _lpa_modularity_oracle(),
        "weighted_pagerank": _wpr_oracle(),
        "ktruss": _ktruss_oracle(),
        "mips_topk": _mips_topk_oracle(),
        "mips_int8": _mips_int8_oracle(),
        "ohlc_rollup": _ohlc_rollup_oracle(),
        "ohlc_gapfill": _ohlc_gapfill_oracle(),
        "ohlc_refresh": _ohlc_rollup_oracle(),
        "ohlc_stream": _ohlc_rollup_oracle(),
        "ohlc_interpolate": _ohlc_interpolate_oracle(),
        "region_ohlc": _region_ohlc_oracle(),
        "rollup_anomalies": _rollup_anomalies_oracle(),
        "ewma_smooth": _ewma_oracle(),
        "hll_users": _hll_oracle(),
        "hll_refresh": _hll_oracle(),
        "hll_overlap": _hll_overlap_oracle(),
        "session_quantiles": _session_quantiles_oracle(),
        "zipf_ranks": f"WITH {_zipf_ranked_sql()} SELECT word, freq, rank FROM ranked",
        "zipf_fit": _zipf_fit_oracle(),
        "kcore": _kcore_oracle(),
        # Transitive-closure oracle: the iterative min-label algorithm
        # converges to the exact min id per component, which is what the
        # recursion computes — round-count-independent, so an iterative
        # Spark algorithm gets a full SQL gate.
        "connected_components": """
            WITH RECURSIVE nn AS (SELECT count(*) AS n_docs FROM documents),
            pairs AS (
                SELECT doc_id AS a, doc_id - 1 AS b FROM documents
                WHERE doc_id % 10 <> 0
                UNION ALL
                SELECT doc_id, (doc_id * 3 + 2) % n_docs
                FROM documents, nn WHERE doc_id % 17 = 0
            ),
            sym AS (SELECT a AS u, b AS v FROM pairs
                    UNION SELECT b, a FROM pairs),
            verts AS (SELECT DISTINCT u AS id FROM sym),
            reach(id, r) AS (
                SELECT id, id FROM verts
                UNION
                SELECT s.u, reach.r FROM sym s JOIN reach ON reach.id = s.v
            )
            SELECT id, MIN(r) AS component FROM reach GROUP BY id
        """,
        # Ground-truth oracle: the canonical form of each synthetic
        # variant is known by construction, so the SQL states it directly
        # instead of replaying the regex chain — Spark's canonical_url
        # must reproduce it exactly (the regex chain itself is gated by
        # the canonical_url query).
        "url_dedup": """
            WITH scored AS (
                SELECT 'http://example.com/page/' || (doc_id % 97)
                           AS canon_url,
                       doc_id, length(text) AS n_chars
                FROM documents
            ), ranked AS (
                SELECT canon_url, doc_id AS keeper_id,
                       n_chars AS keeper_len,
                       ROW_NUMBER() OVER (PARTITION BY canon_url
                           ORDER BY n_chars DESC, doc_id ASC) AS rn,
                       COUNT(*) OVER (PARTITION BY canon_url) AS n_dups
                FROM scored
            )
            SELECT canon_url, keeper_id, keeper_len, n_dups
            FROM ranked WHERE rn = 1
        """,
        "domain_stats": """
            WITH d AS (
                SELECT 'site' || (doc_id % 3) || '.example' AS domain,
                       'h' || (doc_id % 7) || '.site' || (doc_id % 3)
                           || '.example' AS host,
                       length(text) AS n_chars,
                       length(string_split(text, ' ')) AS n_tokens
                FROM documents
            )
            SELECT domain,
                   count(*) AS n_docs,
                   count(DISTINCT host) AS n_hosts,
                   CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   ROUND(SUM(CAST(n_chars AS DOUBLE)) / count(*), 4)
                       AS mean_chars
            FROM d GROUP BY domain
        """,
        # keep-first is decided by min (doc_id, line_no) — deterministic
        # and round-independent, so a window replay is an exact oracle
        # for the corpus-global dedup (osm_spark/text/lines.py)
        "line_dedup": """
            WITH w AS (
                SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            ), l AS (
                SELECT doc_id, i::BIGINT AS line_no,
                       array_to_string(ws[(i*8+1):(i*8+8)], ' ') AS line
                FROM w, UNNEST(range(greatest(1, (len(ws)+7)//8))) AS t(i)
            ), k AS (
                SELECT doc_id, line_no, line,
                       row_number() OVER (
                           PARTITION BY md5(line) ORDER BY doc_id, line_no
                       ) AS rn
                FROM l
            ), a AS (
                SELECT doc_id,
                       string_agg(line, chr(10) ORDER BY line_no)
                           FILTER (WHERE rn = 1) AS clean_text,
                       count(*) AS n_lines,
                       count(*) FILTER (WHERE rn = 1) AS n_kept
                FROM k GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(a.clean_text, '') AS clean_text,
                   coalesce(a.n_lines, 0) AS n_lines,
                   coalesce(a.n_kept, 0) AS n_kept
            FROM documents d LEFT JOIN a USING (doc_id)
        """,
        # per-word log-probs quantized to micro-nat longs make the
        # per-doc sum order-independent (osm_spark/text/lm.py); the
        # double inside ln() is built from integers only, so it is
        # bit-identical across engines
        "lm_score": r"""
            WITH t AS (
                SELECT doc_id,
                       unnest(string_split_regex(text, '\s+')) AS word
                FROM documents
            ), tk AS (
                SELECT doc_id, word FROM t WHERE word <> ''
            ), v AS (
                SELECT word, count(*) AS c FROM tk GROUP BY word
            ), s AS (
                SELECT CAST(sum(c) AS BIGINT) AS total,
                       count(*) AS v_size
                FROM v
            ), lw AS (
                SELECT tk.doc_id,
                       CAST(round(ln((v.c + 1)::DOUBLE
                                     / (s.total + s.v_size)::DOUBLE)
                                  * 1000000.0) AS BIGINT) AS lw
                FROM tk JOIN v USING (word) CROSS JOIN s
            )
            SELECT doc_id,
                   count(*) AS n_tokens,
                   CAST(sum(lw) AS BIGINT) AS sum_logp_micro,
                   round(CAST(sum(lw) AS DOUBLE) / 1000000.0 / count(*), 6)
                       AS mean_logp
            FROM lw GROUP BY doc_id
        """,
        # full chained replay of ccnet_buckets: the lm_score unigram
        # model feeds the nano-nat per-token metric, rank-r disc
        # tercile cuts per language, then the head/middle/tail labels —
        # row_number-at-rank-r selects the same VALUE as the engine's
        # histogram cumulative rank (ties collapse to one value)
        # every Gopher threshold is replayed as the SAME integer
        # comparison the engine evaluates (3n <= sum_len <= 10n etc.) —
        # no float anywhere in a rule
        "gopher_rules": _gopher_oracle("documents"),
        # identical closed-form line synthesis, then the C4 rules; the
        # retained text is byte-compared (string_agg ORDER BY pos =
        # the engine's sorted-struct re-assembly)
        "c4_lines": _c4_lines_oracle(),
        # same page synthesis with an injected repeated boilerplate
        # line; DuckDB's (x, i) lambda index is 1-based where Spark's
        # is 0-based — both sides test first-position == own-position
        "line_dedup_within": f"""
            WITH lines AS ({_C4_LINE_SYNTH_SQL}),
            pages AS (
                SELECT page_id,
                       'nav home' || chr(10)
                       || string_agg(line, chr(10) ORDER BY pos)
                       || chr(10) || 'nav home' AS text
                FROM lines GROUP BY page_id
            ),
            b AS (SELECT page_id, string_split(text, chr(10)) AS l
                  FROM pages)
            SELECT page_id,
                   array_to_string(list_filter(l,
                       (x, i) -> list_position(l, x) = i), chr(10))
                       AS clean_text,
                   CAST(len(l) AS BIGINT) AS n_lines,
                   CAST(len(list_filter(l,
                       (x, i) -> list_position(l, x) = i)) AS BIGINT)
                       AS n_kept
            FROM b
        """,
        # the composed cleaning chain: C4-retained pages feed the
        # Gopher rules over the reassembled text
        "clean_then_gopher": f"""
            WITH c4 AS ({_c4_lines_oracle()}),
            pages AS (SELECT page_id AS doc_id, text FROM c4 WHERE kept),
            g AS ({_gopher_oracle("pages")})
            SELECT doc_id AS page_id, n_words, r_word_count,
                   r_mean_word_len, r_symbol_ratio, r_bullet_lines,
                   r_ellipsis_lines, r_alpha_words, r_stopwords, keep
            FROM g
        """,
        "ccnet_buckets": r"""
            WITH t AS (
                SELECT doc_id,
                       unnest(string_split_regex(text, '\s+')) AS word
                FROM documents
            ), tk AS (
                SELECT doc_id, word FROM t WHERE word <> ''
            ), v AS (
                SELECT word, count(*) AS c FROM tk GROUP BY word
            ), s AS (
                SELECT CAST(sum(c) AS BIGINT) AS total,
                       count(*) AS v_size
                FROM v
            ), lw AS (
                SELECT tk.doc_id,
                       CAST(round(ln((v.c + 1)::DOUBLE
                                     / (s.total + s.v_size)::DOUBLE)
                                  * 1000000.0) AS BIGINT) AS lw
                FROM tk JOIN v USING (word) CROSS JOIN s
            ), lmdoc AS (
                SELECT doc_id,
                       count(*) AS n_tokens,
                       CAST(sum(lw) AS BIGINT) AS sum_logp_micro
                FROM lw GROUP BY doc_id
            ), sm AS (
                SELECT l.doc_id, d.lang,
                       CAST(round(CAST(sum_logp_micro AS DOUBLE) * 1000.0
                                  / CAST(n_tokens AS DOUBLE)) AS BIGINT)
                           AS logp_nano
                FROM lmdoc l JOIN documents d USING (doc_id)
            ), ranked AS (
                SELECT lang, logp_nano,
                       row_number() OVER (PARTITION BY lang
                                          ORDER BY logp_nano) AS rn,
                       count(*) OVER (PARTITION BY lang) AS n
                FROM sm
            ), thr AS (
                SELECT lang,
                       max(CASE WHEN rn = CAST(floor((1.0/3.0) * (n - 1))
                                          AS BIGINT) + 1
                                THEN logp_nano END) AS t_lo,
                       max(CASE WHEN rn = CAST(floor((2.0/3.0) * (n - 1))
                                          AS BIGINT) + 1
                                THEN logp_nano END) AS t_hi
                FROM ranked GROUP BY lang
            )
            SELECT sm.doc_id, sm.lang, sm.logp_nano,
                   CASE WHEN logp_nano >= t_hi THEN 'head'
                        WHEN logp_nano >= t_lo THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM sm JOIN thr USING (lang)
        """,
        "simplify_lines": _simplify_lines_oracle(),
        "geohash_cells": _geohash_cells_oracle(),
        "way_geometry": _way_geometry_oracle(),
        "way_centroid": _way_centroid_oracle(),
        "ngram_stats": _ngram_stats_oracle(),
        "collocations": _collocations_oracle(),
        "tfidf_keywords": _tfidf_oracle(),
        "source_entropy": _source_entropy_oracle(),
        "int_quantiles": _int_quantiles_oracle(),
        "global_shuffle": _global_shuffle_oracle(),
        "viewport_points": _viewport_points_oracle(),
        "bm25_search": _bm25_search_oracle(),
        "winnow_fingerprints": _winnow_oracle(),
        "extract_links": _extract_links_oracle(),
        "anchor_text": _anchor_text_oracle(),
        "host_graph": _host_graph_oracle(),
        "zonal_counts": _zonal_counts_oracle(),
        "zonal_centroid": _zonal_centroid_oracle(),
        "geofence_counts": _geofence_oracle(),
        # dHash stand-in = 72 evenly-spaced payload bytes (the payload
        # is the document text as UTF-8; the corpus is pure ASCII —
        # max code point 121 — so ord(char) == byte), packed MSB-first
        # into a two's-complement BIGINT; pairs brute-forced (the
        # engine's pigeonhole blocking is recall-exact for
        # max_hamming < num_blocks, so all-pairs IS the ground truth).
        "media_near_dups": """
            WITH m AS (
                SELECT doc_id AS media_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000,
                       substr(text, 1, length(text) - 1) || '~'
                FROM documents
            ),
            g AS (
                SELECT media_id, k,
                       ord(substr(text,
                           CAST((k * length(text)) // 72 AS INT) + 1, 1))
                           AS byte
                FROM m, UNNEST(range(72)) AS t(k)
            ),
            b AS (
                SELECT a.media_id, (a.k // 9) * 8 + (a.k % 9) AS bitpos,
                       CASE WHEN n.byte > a.byte THEN 1 ELSE 0 END AS bit
                FROM g a JOIN g n
                  ON n.media_id = a.media_id AND n.k = a.k + 1
                WHERE a.k % 9 < 8
            ),
            h AS (
                SELECT media_id,
                       CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                                 THEN s - 18446744073709551616::HUGEINT
                                 ELSE s END AS BIGINT) AS simhash
                FROM (SELECT media_id,
                             SUM(CAST(bit AS HUGEINT)
                                 * (1::HUGEINT << (63 - bitpos))) AS s
                      FROM b GROUP BY media_id)
            )
            SELECT a.media_id AS doc_a, b2.media_id AS doc_b,
                   CAST(bit_count(xor(a.simhash, b2.simhash)) AS INT)
                       AS hamming
            FROM h a JOIN h b2 ON a.media_id < b2.media_id
            WHERE bit_count(xor(a.simhash, b2.simhash)) <= 8
        """,
    }


def q_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation (osm_spark/pipeline/links.py
    ``anchor_stats``): the off-page relevance signal — per link target,
    how often each normalized phrase links to it and from how many
    distinct pages. Anchors carry mixed case and double spaces so the
    lower/collapse/trim normalization is load-bearing; every 3rd doc
    adds a relative link (filtered) and every 2nd a second anchor."""
    from osm_spark.pipeline.links import anchor_stats

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    html = F.concat(
        F.lit('<html><body><a class="x" href="https://example.org/p/'),
        ((did * 7) % 500).cast("string"),
        F.lit('">See  Topic '),
        (did % 7).cast("string"),
        F.lit("</a>"),
        F.when(did % 3 == 0, F.lit('<a href="/rel">Rel</a>')).otherwise(F.lit("")),
        F.when(
            did % 2 == 0,
            F.concat(
                F.lit('<a href="https://example.org/p/'),
                ((did * 13) % 500).cast("string"),
                F.lit('"> topic '),
                (did % 5).cast("string"),
                F.lit(" </a>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    pages = d.select(
        F.concat(F.lit("https://example.org/p/"), did.cast("string")).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )
    return anchor_stats(pages)


def _anchor_text_oracle() -> str:
    from osm_spark.pipeline.links import anchor_stats_sql

    pages = """(
        SELECT 'https://example.org/p/' || CAST(doc_id AS VARCHAR) AS url,
               '<html><body><a class="x" href="https://example.org/p/'
               || CAST((doc_id * 7) % 500 AS VARCHAR) || '">See  Topic '
               || CAST(doc_id % 7 AS VARCHAR) || '</a>'
               || (CASE WHEN doc_id % 3 = 0
                        THEN '<a href="/rel">Rel</a>' ELSE '' END)
               || (CASE WHEN doc_id % 2 = 0
                        THEN '<a href="https://example.org/p/'
                             || CAST((doc_id * 13) % 500 AS VARCHAR)
                             || '"> topic ' || CAST(doc_id % 5 AS VARCHAR)
                             || ' </a>'
                        ELSE '' END)
               || '</body></html>' AS html
        FROM documents
    ) pages"""
    return anchor_stats_sql(pages)


def q_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level web-graph rollup: pages → extract_links →
    url_domain on both endpoints → one counted exchange on the domain
    pair. The host-graph is the scale story of link analysis — 10^12
    page edges collapse to ~10^7 domain pairs before PageRank runs.
    Anchors carry a www. prefix and an explicit :80 port so the host
    parsing (not just the regex capture) is load-bearing; the oracle
    re-derives every edge from the synthesis closed form."""
    from osm_spark.functions.urls import url_domain
    from osm_spark.pipeline.links import extract_links

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    src_host = F.concat(
        F.lit("h"), (did % 7).cast("string"),
        F.lit(".site"), (did % 3).cast("string"), F.lit(".example"),
    )
    html = F.concat(
        F.lit('<html><body><a href="https://www.site'),
        ((did * 7) % 5).cast("string"),
        F.lit('.example/p/'),
        ((did * 7) % 500).cast("string"),
        F.lit('">a</a>'),
        F.when(
            did % 2 == 0,
            F.concat(
                F.lit('<a href="http://site'),
                ((did * 13) % 5).cast("string"),
                F.lit('.example:80/x">b</a>'),
            ),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    pages = d.select(
        F.concat(F.lit("https://"), src_host, F.lit("/d/"), did.cast("string")).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )
    edges = extract_links(pages)
    return (
        edges.select(
            url_domain("src_url").alias("src_domain"),
            url_domain("dst_url").alias("dst_domain"),
        )
        .groupBy("src_domain", "dst_domain")
        .agg(F.count("*").alias("n_links"))
    )


def _host_graph_oracle() -> str:
    return """
        WITH e AS (
            SELECT 'site' || (doc_id % 3) || '.example' AS src_domain,
                   'site' || ((doc_id * 7) % 5) || '.example' AS dst_domain
            FROM documents
            UNION ALL
            SELECT 'site' || (doc_id % 3) || '.example',
                   'site' || ((doc_id * 13) % 5) || '.example'
            FROM documents WHERE doc_id % 2 = 0
        )
        SELECT src_domain, dst_domain, count(*) AS n_links
        FROM e GROUP BY src_domain, dst_domain
    """


def _host_scc_oracle() -> str:
    """Composition oracle: the host_graph synthesis closed form feeds
    the by-definition transitive-closure SCC — string keys end to end
    (the SCC machinery is pure min/least, so LEAST on VARCHAR matches
    Spark's least on strings)."""
    return """
        WITH RECURSIVE e0 AS (
            SELECT 'site' || (doc_id % 3) || '.example' AS src,
                   'site' || ((doc_id * 7) % 5) || '.example' AS dst
            FROM documents
            UNION ALL
            SELECT 'site' || (doc_id % 3) || '.example',
                   'site' || ((doc_id * 13) % 5) || '.example'
            FROM documents WHERE doc_id % 2 = 0
        ),
        edges AS (SELECT DISTINCT src, dst FROM e0),
        reach(src, dst) AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
        ),
        vs AS (
            SELECT DISTINCT id FROM (
                SELECT src AS id FROM edges
                UNION ALL SELECT dst AS id FROM edges
            )
        ),
        mutual AS (
            SELECT r1.src AS id, r1.dst AS other
            FROM reach r1 JOIN reach r2
              ON r2.src = r1.dst AND r2.dst = r1.src
        )
        SELECT vs.id, LEAST(vs.id, COALESCE(MIN(m.other), vs.id)) AS scc
        FROM vs LEFT JOIN mutual m ON m.id = vs.id
        GROUP BY vs.id
    """


def q_host_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-graph composition, gated end-to-end: pages html →
    extract_links → url_domain rollup (the host_graph chain) →
    strongly connected components over the DIRECTED domain graph
    (graph/scc.py — string-keyed: the coloring machinery is pure
    min/least, id type never matters). The link-spam-loop detector at
    the granularity link analysis actually runs at."""
    _prep(spark)
    from osm_spark.graph.scc import strongly_connected_components

    edges = q_host_graph(spark, sf_dir).select(
        F.col("src_domain").alias("src"), F.col("dst_domain").alias("dst")
    )
    return strongly_connected_components(edges)


def q_zonal_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics: page-point count per polygon (PIP join →
    count per zone, zero-hit zones kept at 0) — the aggregate consumers
    actually want from a spatial join. Runs the salted PIP path; the
    polygon dim re-enters as a broadcast left join so empty zones
    survive."""
    _prep(spark)
    from osm_spark.geo.hexgrid import hex_cell_expr
    from osm_spark.pipeline.geometry import build_way_cells, synth_polygons
    from osm_spark.pipeline.spatial_join import pip_join_salted, salt_plan

    pts = _sql_points(spark, sf_dir).withColumn(
        "h3_9", hex_cell_expr("lat", "lon", 9)
    )
    polygons = synth_polygons(spark)
    pairs = pip_join_salted(
        pts, polygons, build_way_cells(polygons), salt_plan(pts, target=20)
    )
    counts = pairs.groupBy("way_id").agg(F.count("*").alias("n_points"))
    return polygons.select("way_id").join(counts, "way_id", "left").select(
        "way_id",
        F.coalesce(F.col("n_points"), F.lit(0).cast("long")).alias("n_points"),
    )


def q_zonal_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal centroid + member bbox (geo/zonal.py): salted PIP pairs →
    e7-quantized integer position sums per region, two closing mean
    divisions; zero-hit zones survive — vs the brute-force PIP replay
    with identical quantized aggregation."""
    _prep(spark)
    from osm_spark.geo.hexgrid import hex_cell_expr
    from osm_spark.geo.zonal import zonal_centroid
    from osm_spark.pipeline.geometry import build_way_cells, synth_polygons
    from osm_spark.pipeline.spatial_join import pip_join_salted, salt_plan

    pts = _sql_points(spark, sf_dir).withColumn(
        "h3_9", hex_cell_expr("lat", "lon", 9)
    )
    polygons = synth_polygons(spark)
    pairs = pip_join_salted(
        pts, polygons, build_way_cells(polygons), salt_plan(pts, target=20)
    )
    return zonal_centroid(pairs, pts, polygons)


def _zonal_centroid_oracle() -> str:
    return f"""
        WITH pts AS ({_sql_points_oracle()}),
        pos AS (
            SELECT point_id,
                   CAST(round(lat * 1e7, 0) AS BIGINT) AS lat_e7,
                   CAST(round(lon * 1e7, 0) AS BIGINT) AS lon_e7
            FROM pts
        ),
        hits AS ({_pip_pairs_oracle()}),
        agg AS (
            SELECT h.way_id, count(*) AS n_points,
                   CAST(sum(p.lat_e7) AS BIGINT) AS sla,
                   CAST(sum(p.lon_e7) AS BIGINT) AS slo,
                   MIN(p.lat_e7) AS min_lat_e7, MAX(p.lat_e7) AS max_lat_e7,
                   MIN(p.lon_e7) AS min_lon_e7, MAX(p.lon_e7) AS max_lon_e7
            FROM hits h JOIN pos p ON p.point_id = h.point_id
            GROUP BY h.way_id
        )
        SELECT w.way_id,
               COALESCE(a.n_points, 0) AS n_points,
               CAST(round(CAST(a.sla AS DOUBLE)
                          / CAST(a.n_points AS DOUBLE), 0) AS BIGINT) AS clat_e7,
               CAST(round(CAST(a.slo AS DOUBLE)
                          / CAST(a.n_points AS DOUBLE), 0) AS BIGINT) AS clon_e7,
               a.min_lat_e7, a.max_lat_e7, a.min_lon_e7, a.max_lon_e7
        FROM (SELECT DISTINCT CAST(way_id AS BIGINT) AS way_id
              FROM (VALUES {_polygons_values_sql()})
              poly0(way_id, vlat, vlon)) w
        LEFT JOIN agg a USING (way_id)
    """


def _zonal_counts_oracle() -> str:
    return f"""
        SELECT p.way_id, COALESCE(c.n_points, 0) AS n_points
        FROM (SELECT DISTINCT CAST(way_id AS BIGINT) AS way_id
              FROM (VALUES {_polygons_values_sql()})
              poly0(way_id, vlat, vlon)) p
        LEFT JOIN (SELECT way_id, count(*) AS n_points
                   FROM ({_pip_pairs_oracle()}) hits
                   GROUP BY way_id) c
        USING (way_id)
    """


def _extract_links_oracle() -> str:
    from osm_spark.pipeline.links import extract_links_sql

    pages = """(
        SELECT 'https://example.org/p/' || CAST(doc_id AS VARCHAR) AS url,
               '<html><body><a class="x" href="https://example.org/p/'
               || CAST((doc_id * 7) % 500 AS VARCHAR) || '">l1</a>'
               || (CASE WHEN doc_id % 3 = 0
                        THEN '<a href="/relative/path">rel</a>' ELSE '' END)
               || (CASE WHEN doc_id % 2 = 0
                        THEN '<a href="https://example.org/p/'
                             || CAST((doc_id * 13) % 500 AS VARCHAR) || '">l2</a>'
                        ELSE '' END)
               || text || '</body></html>' AS html
        FROM documents
    ) pages"""
    return extract_links_sql(pages)


def _winnow_oracle() -> str:
    from osm_spark.text.winnow import winnow_sql

    return winnow_sql("documents", k=3, w=4)


def _viewport_points_oracle() -> str:
    # plain exact bbox — NO prefix prune: equality proves the covering
    # is a true superset
    return f"""
        WITH pts AS ({_sql_points_oracle()})
        SELECT point_id, lat, lon
        FROM pts
        WHERE lat >= CAST(51.4874 AS DOUBLE) AND lat <= CAST(51.5274 AS DOUBLE)
          AND lon >= CAST(-0.1478 AS DOUBLE) AND lon <= CAST(-0.1078 AS DOUBLE)
    """


def _bm25_search_oracle() -> str:
    from osm_spark.text.ranking import bm25_scores_sql

    return bm25_scores_sql("documents", _BM25_TERMS)


def _simplify_lines_oracle() -> str:
    from osm_spark.geo.simplify import simplify_sql_oracle

    return simplify_sql_oracle(_route_verts_sql(), eps2=0.003 * 0.003)


def _geohash_cells_oracle() -> str:
    from osm_spark.geo.geohash import geohash_sql

    gh6 = geohash_sql("lat", "lon", 6)
    return f"""
        WITH pts AS ({_sql_points_oracle()}),
        cells AS (
            SELECT point_id, {gh6} AS gh6 FROM pts
        )
        SELECT gh6,
               count(*) AS n_points,
               min(point_id) AS first_point,
               substr(gh6, 1, 4) AS gh4
        FROM cells
        GROUP BY gh6
    """


def _way_geometry_oracle() -> str:
    from osm_spark.geo.measure import way_geometry_stats_sql

    inner = way_geometry_stats_sql("polys")
    return f"""
        WITH poly0(way_id, vlat, vlon) AS (
            VALUES {_polygons_values_sql()}
        ),
        polys AS (
            SELECT CAST(way_id AS BIGINT) AS way_id,
                   CAST(vlat AS DOUBLE[]) AS vlat,
                   CAST(vlon AS DOUBLE[]) AS vlon
            FROM poly0
        ),
        stats AS ({inner})
        SELECT way_id,
               CAST(n_vertices AS INT) AS n_vertices,
               round(mean_lat, 6) AS mean_lat,
               round(perimeter_m, 3) AS perimeter_m,
               round(area_m2, 3) AS area_m2
        FROM stats
    """


def _way_centroid_oracle() -> str:
    from osm_spark.geo.measure import way_centroid_sql

    inner = way_centroid_sql("polys")
    return f"""
        WITH poly0(way_id, vlat, vlon) AS (
            VALUES {_polygons_values_sql()}
        ),
        polys AS (
            SELECT CAST(way_id AS BIGINT) AS way_id,
                   CAST(vlat AS DOUBLE[]) AS vlat,
                   CAST(vlon AS DOUBLE[]) AS vlon
            FROM poly0
        ),
        cent AS ({inner})
        SELECT way_id,
               round(c_lat, 6) AS c_lat,
               round(c_lon, 6) AS c_lon
        FROM cent
    """


def _ngram_stats_oracle() -> str:
    from osm_spark.text.ngrams import ngram_counts_sql

    return ngram_counts_sql("documents", n=2, min_count=5)


def _global_shuffle_oracle() -> str:
    from osm_spark.text.sharding import shard_assign_sql

    return shard_assign_sql("(SELECT doc_id FROM documents) d", "doc_id", 8)
