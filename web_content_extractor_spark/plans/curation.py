"""Corpus-curation plan: quality ∧ ¬duplicate ∧ ¬contaminated.

The composed keep/drop manifest a training-data pipeline ships — each
leg is an independently oracle-verified operator (quality filter
battery, exact dedup, benchmark decontamination), composed as plain
DataFrame joins.  Shared by the driver query (``__spark_entry__``)
and the spark-submit job (``jobs.py curate --input/--output``).

Scale shape: the quality leg is per-row Column algebra on the main
scan; exact dedup is one balanced shuffle on the content hash; the
contaminated doc-id set is benchmark-bounded (tiny) and broadcast, so
the composition adds no extra shuffle of the corpus beyond dedup's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from web_content_extractor_spark.functions import text_quality as tq
from web_content_extractor_spark.operators import decontam, dedup_docs


def curation_manifest(
    docs: DataFrame, snippets: DataFrame | None = None
) -> DataFrame:
    """(doc_id, keep_quality, is_duplicate, is_contaminated, selected).

    ``snippets`` defaults to the deterministic synthetic benchmark set
    (decontam.benchmark_snippets); pass the real eval-set table in
    production.
    """
    if snippets is None:
        snippets = decontam.benchmark_snippets(docs)
    quality = docs.select(
        "doc_id", tq.quality_filter(F.col("text")).alias("keep_quality")
    )
    # LEFT join + coalesce: exact_duplicates drops NULL-text docs (their
    # fingerprint is NULL, and the fp equi-join is null-unsafe), but the
    # manifest must carry a verdict row for EVERY input doc — NULL text
    # is simply not a duplicate (it is quality-dropped anyway)
    dup = dedup_docs.exact_duplicates(docs).select("doc_id", "is_duplicate")
    cont = (
        decontam.contaminated_pairs(docs, snippets)
        .select("doc_id")
        .distinct()
        .withColumn("is_contaminated", F.lit(True))
    )
    return (
        quality.join(dup, "doc_id", "left")
        .join(F.broadcast(cont), "doc_id", "left")
        .select(
            "doc_id",
            "keep_quality",
            F.coalesce("is_duplicate", F.lit(False)).alias("is_duplicate"),
            F.coalesce("is_contaminated", F.lit(False)).alias(
                "is_contaminated"
            ),
            (
                F.col("keep_quality")
                & ~F.coalesce("is_duplicate", F.lit(False))
                & ~F.coalesce("is_contaminated", F.lit(False))
            ).alias("selected"),
        )
    )
