"""Incremental extraction via Structured Streaming.

The reference has no streaming surface (SURVEY §2.9) — its
incremental behaviors are skip-existing sinks (src/cli.py:396-398)
and retry/resume (src/infrastructure/http_client.py:61-113).  The
engine offers two distributed analogs:

- ``sources/checkpoint.py``   — batch resume from a file-lineage
  manifest (Iceberg-snapshot-shaped bookkeeping).
- this module                 — the same pipeline as a Structured
  Streaming job: the file source's own checkpoint gives exactly-once
  incremental processing of newly-landed corpus files; with
  ``availableNow`` it drains the backlog and stops, so a cron'd
  re-run is a resumable batch job with zero custom bookkeeping.

The extraction plan is IDENTICAL to the batch path (same
``extract()`` call — mapInPandas and column algebra are both
streaming-compatible, stateless transforms), so span parity carries
over unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from web_content_extractor_spark.plans.pipeline import extract
from web_content_extractor_spark.schemas import DOCS


def read_docs_stream(
    spark: SparkSession,
    input_path: str,
    max_files_per_trigger: int | None = None,
    fmt: str = "parquet",
) -> DataFrame:
    """File-source stream over a landing directory of docs shards.

    ``fmt``: "parquet" (default), "jsonl" or "warc" — JSONL landing
    dirs are what upstream producers most often drop; the stream picks
    each shard up exactly once (file-source semantics) and torn lines
    inside a shard drop, never kill the query (PERMISSIVE + corrupt
    column, same contract as sources/jsonl.read_jsonl — Spark's
    streaming JSON source accepts the same options).  "warc" reads
    landed WARC archives (:func:`read_warc_stream`) as DOCS rows, the
    streaming twin of the batch CLI's ``--input-format warc``."""
    if fmt == "warc":
        from web_content_extractor_spark.sources.warc import warc_docs

        return warc_docs(
            read_warc_stream(spark, input_path, max_files_per_trigger)
        )
    if fmt == "jsonl":
        from pyspark.sql import types as T

        from web_content_extractor_spark.sources.jsonl import CORRUPT_COL

        with_corrupt = T.StructType(
            list(DOCS.fields)
            + [T.StructField(CORRUPT_COL, T.StringType())]
        )
        reader = (
            spark.readStream.schema(with_corrupt)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", CORRUPT_COL)
        )
        if max_files_per_trigger:
            reader = reader.option(
                "maxFilesPerTrigger", max_files_per_trigger
            )
        return (
            reader.json(input_path)
            .where(F.col(CORRUPT_COL).isNull())
            .drop(CORRUPT_COL)
        )
    reader = spark.readStream.schema(DOCS)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_path)


def stream_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    variant: str = "context",
    available_now: bool = True,
    fmt: str = "parquet",
) -> StreamingQuery:
    """Incrementally extract newly-landed doc files; exactly-once sink.

    ``available_now=True`` processes the current backlog and stops
    (resumable batch); ``False`` runs continuously on new files.
    ``fmt``: "parquet", "jsonl" or "warc" landing files.
    """
    docs = read_docs_stream(spark, input_path, fmt=fmt)
    ex = extract(docs, variant=variant)
    writer = (
        ex.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


FIRST_SEEN_OUTPUT = "url string, first_doc_id string, n_first_batch bigint"
FIRST_SEEN_STATE = "n_seen bigint"


def stateful_first_seen(spans_stream: DataFrame, key: str = "media_ref") -> DataFrame:
    """Custom stateful operator: streaming first-seen dedup.

    The continuously-running analog of the crawl visited-set (D1/D2,
    service.py:152-158) and of the first-wins PDF manifest
    (cli.py:381-387): keyed managed state remembers every URL the
    stream has ever seen; a key's rows are emitted exactly once — on
    first encounter — with the (deterministic) min doc_id and that
    batch's occurrence count.  Later occurrences only bump the state
    counter.

    Built on ``applyInPandasWithState`` (Arrow-batched, state scoped
    per key group, persisted in the streaming checkpoint — a restart
    resumes with the visited set intact).  State per key is one int64:
    at 10^12 URLs this shards across executors by the groupBy hash,
    the same partitioning the update shuffle already pays.
    """
    import pandas as pd  # local: executors import lazily

    def fn(key_tuple, pdfs, state):
        total = 0
        first_doc: str | None = None
        for pdf in pdfs:
            if len(pdf):
                total += len(pdf)
                lo = pdf["doc_id"].min()
                first_doc = lo if first_doc is None else min(first_doc, lo)
        if state.exists:
            (n_seen,) = state.get
            state.update((n_seen + total,))
            return iter(())  # already emitted: dedup
        state.update((total,))
        return iter(
            [
                pd.DataFrame(
                    {
                        "url": [key_tuple[0]],
                        "first_doc_id": [first_doc],
                        "n_first_batch": [total],
                    }
                )
            ]
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = spans_stream.withColumn("url", F.col(key))
    return keyed.groupBy("url").applyInPandasWithState(
        fn,
        FIRST_SEEN_OUTPUT,
        FIRST_SEEN_STATE,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def windowed_span_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time windowed per-kind span counts with late-data bound.

    Takes an exploded span stream carrying an event-time column;
    watermarking bounds state so the agg runs indefinitely at scale.
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "kind")
        .agg(F.count("*").alias("n_spans"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "kind",
            "n_spans",
        )
    )


def enrich_stream(
    stream: DataFrame, dim: DataFrame, on: str = "host", how: str = "left"
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the stream is
    joined against a static dimension table (host priority/category,
    allow/deny lists, quality tiers).

    The static side is broadcast — in Structured Streaming a
    stream-static equi-join re-evaluates the static plan per
    micro-batch, and broadcasting keeps the stream side from ever
    shuffling, so the streaming stage stays as parallel as the source.
    Dims that are too big to broadcast should be pre-bucketed on the
    key instead (sources/bucketed.py) — same no-stream-shuffle
    property via storage layout.
    """
    return stream.join(F.broadcast(dim), on, how)


CURATED_OUTPUT = "fp string, doc_id bigint, n_first_batch long"
CURATED_STATE = "n long"


def curate_stream(
    docs_stream: DataFrame,
    snippets: DataFrame | None = None,
) -> DataFrame:
    """Incremental corpus curation: the batch curation plan
    (plans/curation.py) as a continuously-running stream.

    - quality filter — stateless Column algebra, applied per micro-batch;
    - decontamination — stream-static LEFT ANTI join against the
      broadcast benchmark-snippet table (a contaminated doc never
      reaches the state store);
    - exact dedup — keyed state on the content fingerprint via
      ``applyInPandasWithState``: the first document with a given
      fingerprint is emitted exactly once (min doc_id on within-batch
      ties), every later arrival — in any later micro-batch, across
      restarts — only bumps the state counter.  The visited set lives
      in the streaming checkpoint, so a re-submitted job continues
      curating against everything it has ever accepted.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from web_content_extractor_spark.functions import text_quality as tq

    from web_content_extractor_spark.operators.decontam import _norm

    passed = docs_stream.where(tq.quality_filter(F.col("text")))
    if snippets is not None:
        passed = passed.withColumn("_t", _norm(F.col("text"))).join(
            F.broadcast(snippets),
            F.col("_t").contains(F.col("snippet")),
            "left_anti",
        )
    keyed = passed.select(
        tq.fingerprint(F.col("text")).alias("fp"), "doc_id"
    )

    import pandas as pd

    def fn(key_tuple, pdfs, state):
        total = 0
        first: int | None = None
        for pdf in pdfs:
            if len(pdf):
                total += len(pdf)
                lo = int(pdf["doc_id"].min())
                first = lo if first is None else min(first, lo)
        if state.exists:
            (n_seen,) = state.get
            state.update((n_seen + total,))
            return iter(())
        state.update((total,))
        return iter(
            [
                pd.DataFrame(
                    {
                        "fp": [key_tuple[0]],
                        "doc_id": [first],
                        "n_first_batch": [total],
                    }
                )
            ]
        )

    return keyed.groupBy("fp").applyInPandasWithState(
        fn,
        CURATED_OUTPUT,
        CURATED_STATE,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def sessionized_counts(
    stream: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming dynamic-gap sessionization: the stateful form of the
    batch ``session_window`` query (driver key ``session_windows``).

    Watermarking bounds session state — a session closes (and emits,
    in append mode) once the watermark passes its end, so state never
    grows beyond the late-data horizon regardless of stream length.
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(key, F.session_window(ts_col, gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            key,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def read_warc_stream(
    spark: SparkSession,
    input_path: str,
    max_files_per_trigger: int | None = None,
    glob: str = "*.warc*",
) -> DataFrame:
    """File-source stream over a landing directory of WARC archives —
    the continuous-crawl ingestion shape: the crawler drops
    .warc/.warc.gz files, the stream picks up each file exactly once
    (checkpointed file log), and the same record walker and extraction
    plan run per micro-batch.  ``glob`` keeps half-written ``.tmp``
    sidecars out of the exactly-once file log (a stream that ingests
    a partial file never re-reads the finished rename)."""
    from pyspark.sql import functions as F

    from web_content_extractor_spark.sources.warc import parse_warc_records

    # the binaryFile source's fixed schema must be stated explicitly
    # for streaming (no inference on a stream)
    reader = spark.readStream.format("binaryFile").schema(
        "path string, modificationTime timestamp, "
        "length long, content binary"
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    files = reader.load(input_path)
    blobs = files.select(
        F.xxhash64("path").alias("blob_id"), F.col("content").alias("blob")
    )
    return parse_warc_records(blobs)


def dedup_stream_within_watermark(
    docs_stream: DataFrame,
    delay: str = "10 minutes",
    ts_col: str = "fetched_at",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Watermark-bounded streaming exact dedup — the production
    complement of :func:`stateful_first_seen`.

    ``stateful_first_seen`` keeps EVERY key forever (the crawl
    visited-set semantics: correct, but state grows with the corpus).
    This variant keeps the batch engine's exact-dedup fingerprint
    (``functions.text_quality.fingerprint``, the same normalization as
    ``dedup_docs.exact_duplicates``) only within the watermark horizon
    via ``dropDuplicatesWithinWatermark``: duplicates that arrive
    within ``delay`` of the first copy are dropped, and state for a
    fingerprint is evicted once the watermark passes it.  At 10^12
    docs/day this is the only dedup whose state is bounded by the
    duplication *window* rather than the corpus size — the standard
    trade for near-real-time feeds where dup bursts are temporally
    local (re-crawls, retries, mirror storms); a periodic batch
    ``exact_duplicates`` pass sweeps cross-window dups.
    """
    from web_content_extractor_spark.functions.text_quality import fingerprint

    # NULL-text docs must never dedup against each other (batch
    # exact_duplicates joins on the fingerprint, and a NULL key never
    # matches there — but dropDuplicatesWithinWatermark treats NULL
    # keys as equal), so they get a per-doc surrogate key instead
    fp = docs_stream.withColumn(
        "fp",
        F.coalesce(
            fingerprint(F.col(text_col)),
            F.concat(
                F.lit("__null_text__:"), F.col(id_col).cast("string")
            ),
        ),
    ).withWatermark(ts_col, delay)
    return fp.dropDuplicatesWithinWatermark(["fp"]).drop("fp")
