"""The end-to-end extraction plan.

    docs(doc_id, spans[]) --(optional repartitionByRange)--
      mapInPandas(tokenize) -> assemble_spans (native) -> spans + stats

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
- Arrow batch size is bounded (session.py) so a batch of padded
  ~100 KB documents stays within executor memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from web_content_extractor_spark.functions.tokenizer import tokenize_batches
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


def tokenize(
    docs: DataFrame,
    balance: bool | str = False,
    partitions: int | None = None,
) -> DataFrame:
    """DOCS -> TOKENIZED (the engine's single Python/Arrow stage).

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

        df = byte_balanced(
            df,
            "doc_id",
            span_bytes(),
            partitions or df.sparkSession.sparkContext.defaultParallelism,
        ).select("doc_id", "spans")
    elif balance == "rows":
        df = (
            df.repartitionByRange(partitions, "doc_id")
            if partitions
            else df.repartitionByRange("doc_id")
        )
    elif balance:
        raise ValueError(
            f"balance must be False, 'rows' or 'bytes'; got {balance!r}"
        )
    return df.mapInPandas(tokenize_batches, schema=TOKENIZED)


def tokenized_spans(variant: str = "context"):
    """The ``spans`` column of a TOKENIZED frame: its candidates
    classified and ordered by the native assembly."""
    return assemble_spans(
        F.col("cand_urls"),
        F.col("cand_texts"),
        F.col("cand_tags"),
        variant,
        ranks=F.col("cand_ranks"),
    ).alias("spans")


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
    ``balance``/``partitions`` pass through to :func:`tokenize`.
    """
    tok = tokenize(docs, balance=balance, partitions=partitions)
    cols = [F.col("doc_id"), tokenized_spans(variant)]
    if with_stats:
        cols += [
            F.col("page_title"),
            F.col("parse_failures"),
            F.col("proc_us"),
        ]
    if with_errors:
        # carry the per-drop error records through (operators/errors.py
        # explodes them into the errors table); empty for healthy docs
        cols += [
            F.col("err_stages"),
            F.col("err_reasons"),
            F.col("err_targets"),
        ]
    return tok.select(*cols)
