"""The end-to-end extraction plan.

    docs(doc_id, spans[]) --(optional repartitionByRange)--
      mapInArrow(tokenize + fold) -> doc_id, spans[, stats][, errors]

The default ("context") variant is one Python stage: the Arrow kernel
tokenizes, ranks and orders each document's candidates and ships only
the columns the caller asked for.  ``variant="regex"`` runs
:func:`tokenize` and classifies with the native Column chain
(operators/assemble.py).

Scale notes (the plan you'd want on 1000 executors over 100 TB):

- The only shuffle in the whole pipeline is the *optional*
  ``repartitionByRange(doc_id)`` rebalance; with well-sized input
  files the pipeline is shuffle-free and scales linearly (the
  north-rule scaling-efficiency criterion).  Set ``balance="rows"``
  when the input layout is skewed (a few giant
  files / giant hosts): range partitioning splits hot doc_id ranges
  across executors and AQE coalesces the small ones.  Turn
  ``balance="bytes"`` when doc SIZES are heavy-tailed (interleaved
  text+media corpora): row-balanced ranges then still straggle on
  byte-heavy partitions, and the byte-weighted rebalance
  (operators/rebalance.py) equalizes partition BYTES at the cost of
  the same single exchange.
- Column pruning reaches the parquet/Iceberg scan: the tokenizer only
  consumes (doc_id, spans), nothing else is read.
- Arrow batches are capped at 2,048 records and 64 MiB (session.py),
  so a batch of giant documents stays within executor memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from web_content_extractor_spark.functions.tokenizer import (
    arrow_batches,
    tokenize_batches,
)
from web_content_extractor_spark.operators.assemble import assemble_spans
from web_content_extractor_spark.schemas import TOKENIZED


def span_bytes():
    """Per-doc payload size: total text+media_ref chars in ``spans``.

    The weight for ``balance="bytes"``; one interpreted HOF fold per
    doc (~1us) — noise next to the ~300us/doc parse it load-balances.
    """
    return F.aggregate(
        F.coalesce(F.col("spans"), F.array()),
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.coalesce(F.length(s["text"]), F.lit(0))
        + F.coalesce(F.length(s["media_ref"]), F.lit(0)),
    )


def _balanced(
    docs: DataFrame,
    balance: bool | str = False,
    partitions: int | None = None,
) -> DataFrame:
    """(doc_id, spans) of ``docs``, laid out for the tokenizer stage.

    ``balance``: False = keep input layout (shuffle-free); "rows" =
    ``repartitionByRange(doc_id)``, ~equal rows per
    partition; "bytes" = byte-weighted rebalance, ~equal payload bytes
    per partition (heavy-tailed interleaved corpora).  Anything else
    raises — a typo silently falling back to row-balancing would
    reintroduce the exact straggler skew "bytes" exists to remove.
    The "bytes" weight is :func:`span_bytes`, so its boundary-sampling
    job reads the payload column.
    """
    df = docs.select("doc_id", "spans")
    if balance == "bytes":
        from web_content_extractor_spark.operators.rebalance import (
            byte_balanced,
        )

        return byte_balanced(
            df,
            "doc_id",
            span_bytes(),
            partitions or df.sparkSession.sparkContext.defaultParallelism,
        ).select("doc_id", "spans")
    if balance == "rows":
        return (
            df.repartitionByRange(partitions, "doc_id")
            if partitions
            else df.repartitionByRange("doc_id")
        )
    if balance:
        raise ValueError(
            f"balance must be False, 'rows' or 'bytes'; got {balance!r}"
        )
    return df


def tokenize(
    docs: DataFrame,
    balance: bool | str = False,
    partitions: int | None = None,
) -> DataFrame:
    """DOCS -> TOKENIZED: every column, for callers that need the
    candidate arrays (crawl, navigation links, the errors table, the
    regex variant).  ``balance``/``partitions``: see :func:`_balanced`.
    """
    return _balanced(docs, balance, partitions).mapInPandas(
        tokenize_batches, schema=TOKENIZED
    )


def extract(
    docs: DataFrame,
    variant: str = "context",
    balance: bool | str = False,
    partitions: int | None = None,
    with_stats: bool = False,
    with_errors: bool = False,
) -> DataFrame:
    """Full extraction: docs -> (doc_id, spans[, stats columns]).

    Output spans satisfy the per-row invariant: sequence equality of
    (kind, text, media_ref, order) against the reference extractor.
    ``balance``/``partitions`` pass through to :func:`_balanced`.
    ``with_errors`` carries the per-drop error records through
    (operators/errors.py explodes them into the errors table).
    """
    cols = ["doc_id", "spans"]
    if with_stats:
        cols += ["page_title", "parse_failures", "proc_us"]
    if with_errors:
        cols += ["err_stages", "err_reasons", "err_targets"]
    if variant == "context":
        return _balanced(docs, balance, partitions).mapInArrow(
            arrow_batches(tuple(cols)),
            schema=T.StructType([TOKENIZED[c] for c in cols]),
        )
    spans = assemble_spans(
        F.col("cand_urls"), F.col("cand_texts"), F.col("cand_tags"), variant
    )
    return tokenize(docs, balance, partitions).select(
        *[spans.alias(c) if c == "spans" else c for c in cols]
    )
