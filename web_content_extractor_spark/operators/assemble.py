"""Span assembly in Column algebra: classify + order candidates into
the output array, JVM-side with NO shuffle.

This is the ``variant="regex"`` path of ``plans/pipeline.py::extract``
(the default "context" variant orders its spans in the tokenizer's
Arrow kernel, functions/tokenizer.py::fold_spans) and, with
``variant="context"``, the Column oracle that tests hold that kernel
to:

1. zip (cand_urls, cand_texts, cand_tags) with ``arrays_zip`` — the
   array index IS the document parse order (invalid candidates were
   already dropped in the tokenizer: drop-not-fail,
   link_classifier.py:50-53);
2. classify each candidate with the when/rlike chain
   (functions/classify.py); input media spans (tag='media') pass
   through as kind='other' with their media_ref preserved and used as
   text fallback (engine rule for interleaved payloads, FIXTURES.md
   F14);
3. order by (type-rank, document parse order) — the ExtractionResult
   invariant: pdf list, then youtube list, then other list, each in
   parse order (service.py:80-88, models.py:171-173) — via
   ``sort_array`` on a struct whose leading fields are (rank, pos);
4. re-number the final array positions into ``offset``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from web_content_extractor_spark.functions import classify


def assemble_spans(
    urls: Column, texts: Column, tags: Column, variant: str
) -> Column:
    """Flat (urls, texts, tags) candidate arrays -> ordered spans array,
    classified by the ``variant`` Column chain."""
    zipped = F.arrays_zip(urls.alias("u"), texts.alias("t"), tags.alias("g"))
    ranked = F.transform(
        zipped,
        lambda x, i: F.struct(
            classify.type_rank(
                F.when(x["g"] == "media", F.lit(classify.OTHER)).otherwise(
                    classify.classify_kind(x["u"], x["t"], variant)
                )
            ).alias("rank"),
            i.alias("pos"),
            F.when(F.length(x["t"]) == 0, x["u"]).otherwise(x["t"]).alias("text"),
            x["u"].alias("media_ref"),
        ),
    )
    # struct sort is lexicographic over (rank, pos, ...); pos is unique
    ordered = F.sort_array(ranked)
    return F.transform(
        ordered,
        lambda x, i: F.struct(
            classify.rank_kind(x["rank"]).alias("kind"),
            x["text"].alias("text"),
            x["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )


def explode_spans(extracted: DataFrame) -> DataFrame:
    """Exploded relational view (doc_id, kind, text, media_ref, offset)."""
    return extracted.select("doc_id", F.inline("spans"))
