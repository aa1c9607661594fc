"""Line-level corpus curation: boilerplate-line removal and chunking.

RefinedWeb/CCNet-style line dedup: a line whose normalized form occurs
in many distinct documents (cookie banners, nav bars, copyright
footers) is boilerplate and is stripped from *every* document, while
per-document line order is preserved for the survivors.

Shuffle profile at 10^12 docs:

- ``posexplode`` is narrow (no shuffle).
- The document-frequency aggregation shuffles once on the normalized
  line key — high-cardinality, uniform (hash of free text), so no skew.
- The boilerplate set (df >= min_df) is a tiny fraction of distinct
  lines under any realistic threshold; the anti-join against it is
  left to AQE, which turns it into a broadcast join when the set fits
  (no explicit hint: at extreme thresholds the set may legitimately
  exceed broadcast size, and a shuffled anti-join on the same uniform
  key is the correct fallback).
- Reassembly groups by doc_id — the natural partitioning of every
  downstream per-doc operator, so the shuffle is reusable.

Chunking (``chunk_documents``) is pure Column algebra: sequence +
explode + slice, no Python, no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_lines(docs: DataFrame, min_df: int = 2) -> DataFrame:
    """Strip ``docs.text`` lines whose normalized form appears in >=
    ``min_df`` docs.

    Returns (doc_id, text, n_lines_kept, n_lines_dropped) with the
    surviving lines re-joined by ``\\n`` in original order.  Documents
    whose every line is boilerplate survive with text = ''.

    Normalization is lower(trim(line)); blank lines (empty after trim)
    are never counted as boilerplate and are always kept — they are
    formatting, not content, and counting them would make the df
    aggregation's hottest key a semantically empty one.
    """
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line"),
    ).withColumn("line_key", F.lower(F.trim("line")))

    boiler = (
        lines.where(F.col("line_key") != "")
        .groupBy("line_key")
        .agg(F.count_distinct("doc_id").alias("df"))
        .where(F.col("df") >= min_df)
        .select("line_key")
    )

    marked = lines.join(
        boiler.withColumn("dropped", F.lit(True)), "line_key", "left"
    ).withColumn("dropped", F.coalesce("dropped", F.lit(False)))

    kept = (
        marked.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("dropped"),
                                F.struct(F.col("pos"), F.col("line")),
                            )
                        )
                    ),
                    lambda s: s.getField("line"),
                ),
                "\n",
            ).alias("text"),
            F.sum(F.when(~F.col("dropped"), 1).otherwise(0)).alias(
                "n_lines_kept"
            ),
            F.sum(F.when(F.col("dropped"), 1).otherwise(0)).alias(
                "n_lines_dropped"
            ),
        )
    )
    return kept.select("doc_id", "text", "n_lines_kept", "n_lines_dropped")


def chunk_documents(
    docs: DataFrame,
    chunk_size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split each doc's text into whitespace-token chunks with overlap.

    Chunk i covers tokens [i*step, i*step + chunk_size) with
    step = chunk_size - overlap; the final chunk may be short.  Every
    doc emits at least one chunk (empty docs emit one empty chunk) so
    downstream joins on doc_id never silently lose documents.

    Returns (doc_id, chunk_id, n_tokens, chunk_text).  Pure native
    Columns (sequence/explode/slice) — narrow plan, no Python, no
    shuffle; the explode fan-out is bounded by tokens/step per doc.
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    step = chunk_size - overlap

    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda t: F.length(t) > 0,
    )
    d = docs.select("doc_id", toks.alias("w")).withColumn("n", F.size("w"))
    # integer-arithmetic ceil((n - chunk_size) / step), floored at 0
    n_chunks = F.lit(1) + F.greatest(
        F.lit(0),
        F.floor((F.col("n") - chunk_size + step - 1) / step).cast("int"),
    )
    out = (
        d.withColumn("chunk_id", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
        .withColumn(
            "piece", F.slice(F.col("w"), F.col("chunk_id") * step + 1, chunk_size)
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size("piece").alias("n_tokens"),
            F.array_join("piece", " ").alias("chunk_text"),
        )
    )
    return out
