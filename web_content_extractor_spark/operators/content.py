"""Main-content block classification + span assembly (north star).

Densitometric boilerplate filtering in pure Column algebra over the
block features produced by ``functions/blocks.py``
(Kohlschütter et al., WSDM 2010, simplified to its strongest signals):

- link density = anchor_words / words; boilerplate blocks (nav bars,
  footers, related-links lists) are anchor-dominated;
- prose blocks need a minimum word count; headings are kept with a
  relaxed word floor so section structure survives;
- kind = 'heading' for h1-h6 blocks, else 'paragraph'.

Output spans reuse the engine's span struct (kind, text, media_ref,
offset) with media_ref NULL — ADDITIVE span kinds, never touching the
link-extraction path, so link-span parity (the reference contract) is
unaffected (SURVEY §7.2 item 12).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from web_content_extractor_spark.functions.blocks import segment_batches

_HEADINGS = ("h1", "h2", "h3", "h4", "h5", "h6")
# keep rules: a prose block needs MIN_WORDS words and at most
# MAX_LINK_DENSITY anchor words per word; headings get relaxed bounds
MIN_WORDS, MAX_LINK_DENSITY = 10, 0.33
HEADING_MIN_WORDS, HEADING_MAX_LINK_DENSITY = 1, 0.5

BLOCK_FEATURES = (
    "doc_id string, block_tags array<string>, block_texts array<string>, "
    "block_words array<int>, block_anchor_words array<int>"
)


def segment(docs: DataFrame) -> DataFrame:
    """DOCS -> per-doc block feature arrays (single Python stage)."""
    return docs.select("doc_id", "spans").mapInPandas(
        segment_batches, schema=BLOCK_FEATURES
    )


def assemble_content(
    tags: Column,
    texts: Column,
    words: Column,
    anchor_words: Column,
) -> Column:
    """Block features -> ordered content spans (native, shuffle-free)."""
    zipped = F.arrays_zip(
        tags.alias("t"), texts.alias("x"), words.alias("w"), anchor_words.alias("a")
    )
    is_heading = lambda t: t.isin(*_HEADINGS)  # noqa: E731
    density = lambda b: b["a"] / b["w"]  # noqa: E731  (w > 0 by construction)
    kept = F.filter(
        zipped,
        lambda b: F.when(
            is_heading(b["t"]),
            (b["w"] >= HEADING_MIN_WORDS)
            & (density(b) <= HEADING_MAX_LINK_DENSITY),
        ).otherwise(
            (b["w"] >= MIN_WORDS) & (density(b) <= MAX_LINK_DENSITY)
        ),
    )
    return F.transform(
        kept,
        lambda b, i: F.struct(
            F.when(is_heading(b["t"]), F.lit("heading"))
            .otherwise(F.lit("paragraph"))
            .alias("kind"),
            b["x"].alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )


def extract_content(docs: DataFrame) -> DataFrame:
    """docs -> (doc_id, spans) of heading/paragraph content spans.

    Same plan shape as the link pipeline: scan -> one mapInPandas ->
    native classify/assemble; shuffle-free end to end.
    """
    seg = segment(docs)
    return seg.select(
        "doc_id",
        assemble_content(
            F.col("block_tags"),
            F.col("block_texts"),
            F.col("block_words"),
            F.col("block_anchor_words"),
        ).alias("spans"),
    )


def content_stats(docs: DataFrame) -> DataFrame:
    """Per-doc blocks_kept / blocks_dropped extraction metrics."""
    seg = segment(docs)
    kept = F.size(
        assemble_content(
            F.col("block_tags"),
            F.col("block_texts"),
            F.col("block_words"),
            F.col("block_anchor_words"),
        )
    )
    total = F.size("block_tags")
    return seg.select(
        "doc_id",
        total.cast("int").alias("blocks_total"),
        kept.cast("int").alias("blocks_kept"),
        (total - kept).cast("int").alias("blocks_dropped"),
    )
