"""Extraction metrics + per-partition lineage.

Distributed analog of the reference's ExtractionMetadata
(src/core/models.py:93-131) and of the crawl-merge aggregation
(models.py:201-240): counts are associative, so the per-partition and
per-corpus rollups are plain distributed aggregations.

Derived business metrics mirror the reference:
- link distribution percentages, zero-safe   (models.py:106-116)
- is_content_rich: total >= 10               (models.py:118-120)
- quality score: min(total*5,50) + distinct_domains*5 + pdf*10, cap 100
                                             (models.py:187-199)
- links_per_second: total / seconds          (models.py:128-130)
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def kind_count(kind: str):
    """Number of ``kind`` spans in the row's ``spans`` array."""
    return F.size(F.filter("spans", lambda s: s["kind"] == F.lit(kind)))


def doc_metrics(extracted: DataFrame) -> DataFrame:
    """Per-document metric columns from an extracted (with_stats) frame."""
    total = F.size("spans")
    pdf = kind_count("pdf")
    yt = kind_count("youtube")
    other = kind_count("other")
    secs = F.col("proc_us") / 1e6
    return extracted.select(
        "doc_id",
        total.alias("total_links"),
        pdf.alias("pdf_count"),
        yt.alias("youtube_count"),
        other.alias("other_count"),
        F.col("parse_failures"),
        F.col("proc_us"),
        # zero-safe distribution (models.py:106-116)
        F.when(total == 0, 0.0)
        .otherwise(F.round(pdf * 100.0 / total, 1))
        .alias("pdf_pct"),
        F.when(total == 0, 0.0)
        .otherwise(F.round(yt * 100.0 / total, 1))
        .alias("youtube_pct"),
        F.when(total == 0, 0.0)
        .otherwise(F.round(other * 100.0 / total, 1))
        .alias("other_pct"),
        (total >= 10).alias("is_content_rich"),
        # quality score over the span array, all native (models.py:187-199):
        # distinct domains via transform -> array_distinct on host minus www.
        F.when(total == 0, 0.0)
        .otherwise(
            F.least(
                F.lit(100.0),
                F.least(total * 5, F.lit(50)).cast("double")
                + F.size(
                    F.array_distinct(
                        F.transform(
                            "spans",
                            lambda s: F.regexp_replace(
                                F.try_parse_url(s["media_ref"], F.lit("HOST")),
                                r"^www\.",
                                "",
                            ),
                        )
                    )
                )
                * 5.0
                + pdf * 10.0,
            )
        )
        .alias("quality_score"),
        F.when(secs > 0, F.round(total / secs, 2))
        .otherwise(F.lit(None).cast("double"))
        .alias("links_per_second"),
    )


def perf_category(proc_us: F.Column) -> F.Column:
    """Reference performance buckets (value_objects.py:56-65).

    fast < 1 s, normal < 3 s, slow < 10 s, critical >= 10 s — pinned by
    the reference's own tests at 0.5 / 2 / 7 / 15 s
    (tests/unit/test_value_objects.py).
    """
    secs = proc_us / 1e6
    return (
        F.when(secs < 1.0, F.lit("fast"))
        .when(secs < 3.0, F.lit("normal"))
        .when(secs < 10.0, F.lit("slow"))
        .otherwise(F.lit("critical"))
    )


def is_slow(proc_us: F.Column) -> F.Column:
    """> 5 s per page (value_objects.py:52-54)."""
    return proc_us / 1e6 > 5.0


def partition_metrics(extracted: DataFrame, run_id: str | None = None) -> DataFrame:
    """METRICS-shaped per-partition lineage rollup (north rule).

    blocks_kept / blocks_dropped = links kept vs candidates dropped
    (parse failures); correlation_id is run+partition scoped, the
    distributed analog of CorrelationId (value_objects.py:68-86).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    per_doc = extracted.select(
        F.spark_partition_id().alias("partition_id"),
        F.size("spans").alias("total"),
        kind_count("pdf").alias("pdf"),
        kind_count("youtube").alias("yt"),
        kind_count("other").alias("oth"),
        F.col("parse_failures").alias("pf"),
        F.col("proc_us"),
    )
    return per_doc.groupBy("partition_id").agg(
        F.count("*").alias("doc_count"),
        F.sum("total").alias("total_links"),
        F.sum("pdf").alias("pdf_count"),
        F.sum("yt").alias("youtube_count"),
        F.sum("oth").alias("other_count"),
        F.sum("pf").alias("parse_failures"),
        F.sum("total").alias("blocks_kept"),
        F.sum("pf").alias("blocks_dropped"),
        (F.sum("proc_us") / 1000.0).alias("processing_ms"),
    ).select(
        F.lit(run_id).alias("run_id"),
        "partition_id",
        "doc_count",
        "total_links",
        "pdf_count",
        "youtube_count",
        "other_count",
        "parse_failures",
        "blocks_kept",
        "blocks_dropped",
        "processing_ms",
        F.concat(F.lit(run_id), F.lit("-p"), F.col("partition_id")).alias(
            "correlation_id"
        ),
        F.current_timestamp().alias("ts"),
    )
