"""Exact duplicate-substring detection (token k-gram anchors).

Training-corpus exact-substring dedup in the style of Lee et al.,
"Deduplicating Training Data Makes Language Models Better" (ACL 2022):
a position in a document is *duplicated* when the k-token gram starting
there occurs at least twice corpus-wide (within-doc repeats
count, as in the suffix-array formulation).  Runs of duplicated
positions are merged into maximal spans — the substrings a curation
pass would cut or down-weight.

The reference engine has no such operator; this is a training-data
addition (driver brief), built from the same token algebra as
``functions/text_quality.py``.

Shuffle profile at 10^12 docs (vs the suffix array of the paper, which
needs a global sort of every suffix):

- Gram generation is narrow: ``explode(sequence)`` + ``slice`` +
  ``array_join`` — pure codegen, no Python, no shuffle.
- ONE corpus-wide shuffle on the gram key for the occurrence count,
  done as a window count so no second join is needed to recover the
  (doc_id, start) positions.  The key is a hash of free text —
  high-cardinality and uniform, no skew.
- ``hash_keys=True`` shuffles the 64-bit ``xxhash64`` of the gram
  instead of the gram string, cutting shuffle bytes by ~(k * avg word
  length)/8 at a ~2^-64 per-pair collision risk — the right call at
  scale.  ``hash_keys=False`` keys on the exact string (what the
  DuckDB oracle can express); tests pin the two modes equal.
- Span merging shuffles once on doc_id — the natural partitioning of
  every per-doc downstream stage, so it is reusable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _tokens(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def kgram_positions(docs: DataFrame, k: int = 8) -> DataFrame:
    """(doc_id, start, gram): every token k-gram of ``docs.text`` with
    its 0-based start position.  Documents shorter than k tokens emit nothing.
    Narrow plan — no shuffle, no Python."""
    toks = _tokens(F.col("text"))
    starts = F.when(
        F.size(toks) >= k, F.sequence(F.lit(0), F.size(toks) - k)
    ).otherwise(F.array().cast("array<int>"))
    return (
        docs.select("doc_id", toks.alias("toks"), F.explode(starts).alias("start"))
        .select(
            "doc_id",
            "start",
            F.array_join(
                F.slice("toks", F.col("start") + 1, k), " "
            ).alias("gram"),
        )
    )


def duplicate_spans(
    docs: DataFrame,
    k: int = 8,
    hash_keys: bool = False,
) -> DataFrame:
    """Maximal duplicated-substring spans per document (``docs.text``).

    Returns (doc_id, span_start, span_end, span_tokens) with
    ``span_end`` exclusive, in token positions: every k-gram starting
    in [span_start, span_end - k] occurs at least twice in the
    corpus, and the spans are maximal (merging overlapping/adjacent
    duplicated k-gram windows — two starts s1 < s2 merge iff
    s2 <= s1 + k, i.e. their coverage overlaps or touches).
    """
    grams = kgram_positions(docs, k)
    key = F.xxhash64("gram") if hash_keys else F.col("gram")
    pos = grams.select("doc_id", "start", key.alias("gram_key"))
    cnt = F.count("*").over(Window.partitionBy("gram_key"))
    dup = (
        pos.withColumn("cnt", cnt)
        .where(F.col("cnt") >= 2)
        .select("doc_id", "start")
    )
    prev = F.lag("start").over(Window.partitionBy("doc_id").orderBy("start"))
    brk = F.when(
        prev.isNull() | (F.col("start") > prev + k), 1
    ).otherwise(0)
    islands = dup.withColumn("brk", brk).withColumn(
        "island",
        F.sum("brk").over(
            Window.partitionBy("doc_id")
            .orderBy("start")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("start").alias("span_start"),
        (F.max("start") + k).alias("span_end"),
        (F.max("start") + k - F.min("start")).alias("span_tokens"),
    ).drop("island")


def remove_duplicate_spans(docs: DataFrame, k: int = 8) -> DataFrame:
    """Cut the maximal duplicated substrings out of each document —
    the actual Lee et al. (ACL 2022) dedup *transform*, where
    :func:`duplicate_spans` is the detector.

    Returns (doc_id, n_tokens, removed_tokens, clean_text) for EVERY
    document.  ``clean_text`` is the whitespace-normalised join of the
    surviving tokens (original runs of whitespace collapse to one
    space, matching the token algebra of the detector); documents with
    no duplicated span pass through with all tokens kept.

    Scale shape: the detector's one gram-key shuffle plus one doc_id
    shuffle for the span aggregate; the cut itself is per-row Column
    algebra — the spans array per doc is tiny (merged maximal spans,
    typically 0-3), so the exists() probe per token is O(tokens *
    spans) with a small constant and never shuffles.
    """
    spans = duplicate_spans(docs, k, hash_keys=True)
    per_doc = spans.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("spans"),
        F.sum("span_tokens").alias("removed_tokens"),
    )
    toks = _tokens(F.col("text"))
    spans_or_empty = F.coalesce(
        F.col("spans"),
        F.array().cast("array<struct<span_start:int,span_end:int>>"),
    )
    kept = F.filter(
        toks,
        lambda tok, i: ~F.exists(
            spans_or_empty,
            lambda s: (s["span_start"] <= i) & (i < s["span_end"]),
        ),
    )
    return (
        docs.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.size(toks).alias("n_tokens"),
            F.coalesce("removed_tokens", F.lit(0)).alias("removed_tokens"),
            F.array_join(kept, " ").alias("clean_text"),
        )
    )


def substring_dup_stats(docs: DataFrame) -> DataFrame:
    """Per-document duplicated-token coverage.

    Returns (doc_id, n_tokens, dup_tokens, dup_fraction) for EVERY
    document — zero-span docs report 0 / 0.0 (left join, not inner),
    so the output is a drop-in curation signal like the quality
    battery.  ``dup_tokens`` is the union length of the maximal spans
    (spans never overlap after merging, so a plain sum is the union).
    """
    spans = duplicate_spans(docs, hash_keys=True)
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("span_tokens").alias("dup_tokens")
    )
    return (
        docs.select(
            "doc_id", F.size(_tokens(F.col("text"))).alias("n_tokens")
        )
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            F.when(F.col("n_tokens") > 0,
                   F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"))
            .otherwise(F.lit(0.0))
            .alias("dup_fraction"),
        )
    )
