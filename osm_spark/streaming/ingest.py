"""Streaming corpus admission — ``corpus_ingest`` as a continuous job.

The production shape of the continuous-ingestion composition
(pipeline/corpus.py ``corpus_ingest``): crawl drops arrive as files, a
Structured Streaming file source turns them into micro-batches, and
each micro-batch is admitted against the STANDING corpus via
``foreachBatch`` — the standard Spark pattern for per-batch logic that
a pure streaming plan cannot express (the admission chain holds
multiple aggregations, anti joins and an iterative-free but
multi-stage plan, all unsupported inside one continuous query).

Why ``foreachBatch`` and not a streaming plan: admission is
batch-vs-index by NATURE — the LM model, the corpus line-digest index
and the corpus minhash index are all *static-at-batch-boundary*
snapshots that the batch is judged against, then atomically extended
with the batch's accepted docs before the next batch. That
read-judge-extend cycle is exactly a micro-batch loop, not a
record-at-a-time stream.

Exactly-once story (the part worth engineering): ``foreachBatch`` is
at-least-once — on failure/restart the same epoch REPLAYS with the
same epoch_id. Both sinks here are therefore epoch-keyed directory
overwrites (``.../epoch=N`` written with mode=overwrite): a replay
rewrites the same directory with the same deterministic content
instead of appending duplicates, so the union-over-epochs read is
effectively exactly-once. The standing corpus a later batch reads is
the base corpus plus every already-committed epoch directory
(partition discovery over the growth dir) — i.e. batch N+1 is judged
against base ∪ accepted(1..N), which is precisely ``corpus_ingest``'s
sequential-admission semantics.

Scale notes: the per-epoch work is ``corpus_ingest``'s documented
scale shape (candidate volume ∝ batch, corpus×corpus never paired);
the growth sink appends only ACCEPTED rows (post-dedup, the small
side); nothing collects to the driver. In production the two
epoch-keyed parquet dirs are Iceberg tables and the overwrite is a
``REPLACE WHERE epoch = N`` / MERGE (pipeline/merge.py) — same
idempotence contract, table-format transactionality on top.

Line-representation contract: the standing corpus's ``text`` must be
in the SAME representation the admission chain lines it with. With
real multi-line text (``reline_words=None``) the accepted docs'
``clean_text`` is line-exact, so it extends the corpus verbatim. With
the synthetic single-line corpora (``reline_words=k``) the accepted
text is flattened back to one line before it joins the corpus, and
re-lining shifts chunk boundaries for docs that LOST lines to dedup —
a synthetic-fixture artifact, not a production behavior (tests pin
the None path for multi-batch growth).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "ACCEPTED_SCHEMA",
    "corpus_ingest_stream",
    "read_accepted",
    "read_corpus_with_growth",
    "stream_docs",
]

# the documents-table shape (TESTDATA.md): the default crawl-drop
# schema the file source expects; pass your own for drops that already
# carry a url column
DOCS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)

# corpus_ingest's output shape + the sink's epoch partition column
ACCEPTED_SCHEMA = (
    "doc_id long, source string, canon_url string, clean_text string, "
    "n_tok long, epoch int"
)


def _has_epoch_dirs(spark: SparkSession, path: str) -> bool:
    """True when ``path`` holds at least one ``epoch=N`` child — probed
    through the path's OWN Hadoop filesystem, so the answer is correct
    for ``hdfs://``/``s3a://`` URIs exactly as for local dirs. A
    driver-local ``os.listdir`` here would silently report "no epochs"
    for any non-local URI, making every epoch judge against the base
    corpus only and re-admit duplicates of already-accepted docs."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return False
    return any(
        st.getPath().getName().startswith("epoch=")
        for st in fs.listStatus(p)
    )


def read_accepted(spark: SparkSession, accepted_path: str) -> DataFrame:
    """The accepted-docs sink as a DataFrame. A stream whose every
    micro-batch was empty (or that never fired) writes NO epoch
    directory, and parquet cannot infer a schema from an empty dir —
    that legitimate outcome returns an empty frame of the known shape
    instead of an AnalysisException."""
    if not _has_epoch_dirs(spark, accepted_path):
        return spark.createDataFrame([], ACCEPTED_SCHEMA)
    return spark.read.parquet(accepted_path)


def stream_docs(
    spark: SparkSession,
    docs_path: str,
    schema: str = DOCS_SCHEMA,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source stream over a crawl-drop directory (or a single
    parquet file, streamed from its parent via pathGlobFilter — the
    stream_events idiom). One file ≈ one crawl drop ≈ one admission
    micro-batch at the default ``maxFilesPerTrigger=1``. The
    single-file probe goes through the path's Hadoop filesystem, so a
    ``hdfs://``/``s3a://`` file URI takes the same branch a local one
    does."""
    reader = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    p = spark._jvm.org.apache.hadoop.fs.Path(docs_path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(p) and fs.getFileStatus(p).isFile():
        reader = reader.option("pathGlobFilter", p.getName())
        docs_path = p.getParent().toString()
    return reader.parquet(docs_path)


def read_corpus_with_growth(
    spark: SparkSession,
    corpus_path: str,
    growth_path: str,
    before_epoch: int | None = None,
) -> DataFrame:
    """The standing corpus as epoch ``before_epoch`` sees it: the base
    corpus plus every accepted epoch STRICTLY BEFORE it (partition
    discovery over the epoch-keyed growth dir; empty dir = base only;
    ``None`` = all epochs — the final-corpus view).

    The strict filter is what makes replay idempotent: a replayed
    epoch N must be judged against exactly the corpus its first
    attempt saw — base ∪ epochs < N — never against its own or later
    epochs' output (a replay that read its own prior output would
    self-collide at the URL index and re-admit nothing)."""
    corpus = spark.read.parquet(corpus_path).select(
        "doc_id", "canon_url", "text"
    )
    if _has_epoch_dirs(spark, growth_path):
        grown = spark.read.parquet(growth_path)
        if before_epoch is not None:
            grown = grown.where(F.col("epoch") < int(before_epoch))
        corpus = corpus.unionByName(
            grown.select("doc_id", "canon_url", "text")
        )
    return corpus


def corpus_ingest_stream(
    batch_stream: DataFrame,
    corpus_path: str,
    rules: DataFrame,
    accepted_path: str,
    checkpoint: str,
    *,
    growth_path: str | None = None,
    available_now: bool = True,
    **ingest_kw: Any,
):
    """Run continuous corpus admission; returns the StreamingQuery.

    ``batch_stream``: streaming (doc_id, source, text, url) — e.g.
    ``stream_docs`` over a crawl-drop dir (projections on top are
    fine). ``corpus_path``: base standing corpus parquet
    (doc_id, canon_url, text). ``accepted_path``: epoch-keyed sink of
    admitted rows (doc_id, source, canon_url, clean_text, n_tok).
    ``growth_path``: where accepted docs extend the standing corpus
    for SUBSEQUENT batches (default ``accepted_path + "_corpus"``);
    pass the same dir across restarts — epoch replays overwrite, never
    duplicate. ``ingest_kw`` forwards to ``corpus_ingest``
    (quality_min, lm_min, reline_words, jaccard_threshold, ...).

    Ids must satisfy the ingest-reality precondition batches-after-
    corpus AND later-batches-after-earlier (monotone crawl ids), the
    same contract ``corpus_ingest`` documents.
    """
    from osm_spark.pipeline.corpus import RELINE_WORDS_DEFAULT, corpus_ingest

    growth = growth_path or accepted_path.rstrip("/") + "_corpus"
    # the ONE default corpus_ingest uses (pipeline/corpus.py) — a second
    # literal here could desync the growth sink's line representation
    # from the admission chain's
    reline_words = ingest_kw.get("reline_words", RELINE_WORDS_DEFAULT)

    def admit(mb: DataFrame, epoch_id: int) -> None:
        from osm_spark.pipeline.corpus import release_stage_caches

        if mb.isEmpty():
            return
        spark = mb.sparkSession
        corpus = read_corpus_with_growth(
            spark, corpus_path, growth, before_epoch=int(epoch_id)
        )
        accepted = corpus_ingest(corpus, mb, rules, **ingest_kw)
        # epoch-keyed overwrite = idempotent under foreachBatch replay
        accepted.write.mode("overwrite").parquet(
            f"{accepted_path.rstrip('/')}/epoch={int(epoch_id)}"
        )
        spark.read.parquet(
            f"{accepted_path.rstrip('/')}/epoch={int(epoch_id)}"
        ).select(
            "doc_id",
            "canon_url",
            # line-representation contract (module docstring): exact
            # clean_text for real multi-line corpora, flattened for
            # the synthetic single-line fixtures. Truthiness, not
            # ``is None`` — corpus_ingest skips relining for ANY falsy
            # value, and this decision must mirror that one exactly.
            (
                F.translate("clean_text", "\n", " ")
                if reline_words
                else F.col("clean_text")
            ).alias("text"),
        ).write.mode("overwrite").parquet(
            f"{growth.rstrip('/')}/epoch={int(epoch_id)}"
        )
        # both sinks are written — this epoch's stage caches are dead
        # weight; release them so a long-running stream's storage
        # memory stays flat across epochs
        release_stage_caches()

    writer = (
        batch_stream.writeStream.foreachBatch(admit)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
