"""Incremental extraction via Structured Streaming.

The reference has no streaming surface (SURVEY §2.9) — its
incremental behaviors are skip-existing sinks (src/cli.py:396-398)
and retry/resume (src/infrastructure/http_client.py:61-113).  The
engine's one analog is :func:`stream_extract`, which also backs
``jobs extract --resume``: the file source's own checkpoint
(Armbrust et al., *Structured Streaming*, SIGMOD 2018) remembers
which landed corpus files were read, an ``availableNow`` trigger
drains the backlog and stops, and each micro-batch goes through the
batch CLI's writer (``sources/checkpoint.py::write_extract``).  A
cron'd re-run is a resumable batch job with no custom bookkeeping.

The docs source and the extraction plan are IDENTICAL to the batch
path (the same ``read_docs()`` and ``extract()`` calls), so span parity
carries over unchanged.  The rest of the module holds the stateful
streaming operators.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from web_content_extractor_spark.sources.checkpoint import write_extract
from web_content_extractor_spark.sources.docs import read_docs


def stream_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    fmt: str | None = None,
    metrics_path: str | None = None,
    errors_path: str | None = None,
    content_path: str | None = None,
    variant: str = "context",
    balance: bool | str = False,
) -> dict:
    """Extract the doc files landed under ``input_path`` since the last
    call; returns ``{"run_id", "docs"}`` like the one-shot extract.

    ``fmt``: "parquet", "jsonl" or "warc" landing files, read by
    :func:`~web_content_extractor_spark.sources.docs.read_docs` exactly
    as the batch CLI reads them.  Each micro-batch runs
    :func:`~web_content_extractor_spark.sources.checkpoint.write_extract`
    with the other arguments, under one ``run_id`` per call.  The file
    source's checkpoint lives at ``<output_path>/_checkpoint``, which
    parquet readers of the spans table skip (leading ``_``).  The call
    drains the backlog (``availableNow``) and returns; ``docs == 0``
    marks a run that found no new file.

    Delivery is at-least-once: a crash after a batch's writes and
    before Spark commits the batch replays it on the next call, so its
    rows can appear twice.  (The spans-only streaming file sink this
    replaced was exactly-once, but wrote no metrics, errors or content
    table.)
    """
    run_id = uuid.uuid4().hex[:12]
    counts = []

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        counts.append(
            write_extract(
                batch,
                output_path,
                run_id,
                metrics_path=metrics_path,
                errors_path=errors_path,
                content_path=content_path,
                variant=variant,
                balance=balance,
            )
        )

    (
        read_docs(spark, input_path, fmt=fmt, stream=True)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", os.path.join(output_path, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return {"run_id": run_id, "docs": sum(counts)}


FIRST_SEEN_OUTPUT = "url string, first_doc_id string, n_first_batch bigint"
CURATED_OUTPUT = "fp string, doc_id bigint, n_first_batch long"


def _first_seen(keyed: DataFrame, key: str, id_out: str, output: str) -> DataFrame:
    """Keyed first-seen state over ``keyed`` (``key``, ``doc_id``): a
    key's first micro-batch emits one row (key, min doc_id as
    ``id_out``, that batch's row count as ``n_first_batch``); later
    batches only add their count to the key's state.

    Built on ``applyInPandasWithState`` (Arrow-batched, state scoped
    per key group, persisted in the streaming checkpoint — a restart
    resumes with the seen set intact).  State per key is one int64:
    at 10^12 keys this shards across executors by the groupBy hash,
    the same partitioning the update shuffle already pays.
    """
    import pandas as pd  # local: executors import lazily
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key_tuple, pdfs, state):
        total = 0
        first = None
        for pdf in pdfs:
            if len(pdf):
                total += len(pdf)
                lo = pdf["doc_id"].min()
                first = lo if first is None else min(first, lo)
        if state.exists:
            (n_seen,) = state.get
            state.update((n_seen + total,))
            return iter(())  # already emitted: dedup
        state.update((total,))
        return iter(
            [
                pd.DataFrame(
                    {
                        key: [key_tuple[0]],
                        id_out: [first],
                        "n_first_batch": [total],
                    }
                )
            ]
        )

    return keyed.groupBy(key).applyInPandasWithState(
        fn, output, "n_seen bigint", "append", GroupStateTimeout.NoTimeout
    )


def stateful_first_seen(spans_stream: DataFrame) -> DataFrame:
    """Custom stateful operator: streaming first-seen dedup.

    The continuously-running analog of the crawl visited-set (D1/D2,
    service.py:152-158) and of the first-wins PDF manifest
    (cli.py:381-387): keyed managed state remembers every URL the
    stream has ever seen; a key's rows are emitted exactly once — on
    first encounter — with the (deterministic) min doc_id and that
    batch's occurrence count.  Later occurrences only bump the state
    counter (:func:`_first_seen`).
    """
    keyed = spans_stream.select(F.col("media_ref").alias("url"), "doc_id")
    return _first_seen(keyed, "url", "first_doc_id", FIRST_SEEN_OUTPUT)


def windowed_span_counts(stream: DataFrame) -> DataFrame:
    """Event-time 10-minute windowed per-kind span counts with late-data
    bound.

    Takes an exploded span stream carrying an event-time ``ts`` column;
    a 30-minute watermark bounds state so the agg runs indefinitely at
    scale.
    """
    return (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "kind")
        .agg(F.count("*").alias("n_spans"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "kind",
            "n_spans",
        )
    )


def enrich_stream(stream: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the stream is
    left-joined on ``host`` against a static dimension table (host
    priority/category, allow/deny lists, quality tiers).

    The static side is broadcast — in Structured Streaming a
    stream-static equi-join re-evaluates the static plan per
    micro-batch, and broadcasting keeps the stream side from ever
    shuffling, so the streaming stage stays as parallel as the source.
    Dims that are too big to broadcast should be pre-bucketed on the
    key instead (sources/bucketed.py) — same no-stream-shuffle
    property via storage layout.
    """
    return stream.join(F.broadcast(dim), "host", "left")


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
    return _first_seen(keyed, "fp", "doc_id", CURATED_OUTPUT)


def sessionized_counts(stream: DataFrame) -> DataFrame:
    """Streaming sessionization of ``user_id`` events on ``ts`` with a
    30-minute gap: the stateful form of the batch ``session_window``
    query (driver key ``session_windows``).

    A 1-hour watermark bounds session state — a session closes (and emits,
    in append mode) once the watermark passes its end, so state never
    grows beyond the late-data horizon regardless of stream length.
    """
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream_within_watermark(docs_stream: DataFrame) -> DataFrame:
    """Watermark-bounded streaming exact dedup — the production
    complement of :func:`stateful_first_seen`.

    ``stateful_first_seen`` keeps EVERY key forever (the crawl
    visited-set semantics: correct, but state grows with the corpus).
    This variant keeps the batch engine's exact-dedup fingerprint
    (``functions.text_quality.fingerprint``, the same normalization as
    ``dedup_docs.exact_duplicates``) only within the watermark horizon
    via ``dropDuplicatesWithinWatermark``: duplicates whose
    ``fetched_at`` lies within 10 minutes of the first copy are dropped,
    and state for a fingerprint is evicted once the watermark passes it.  At 10^12
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
            fingerprint(F.col("text")),
            F.concat(F.lit("__null_text__:"), F.col("doc_id").cast("string")),
        ),
    ).withWatermark("fetched_at", "10 minutes")
    return fp.dropDuplicatesWithinWatermark(["fp"]).drop("fp")
