"""Bucketed tables: shuffle-free co-located joins on doc_id.

At 100-TB scale the docs table is joined on ``doc_id`` by every
downstream consumer (metrics, errors, content blocks, span views).
Writing producer and consumer tables bucketed by the SAME key and
bucket count lets Spark's bucketing-aware scan satisfy the join's
hash-partitioning requirement straight from the file layout — the join
runs with ZERO Exchange on either side, turning the biggest recurring
shuffle of the pipeline into a free merge.  (Iceberg's
``bucket(N, doc_id)`` hidden partitioning is the same contract; this
module is the Spark-catalog rendition that works on a plain
warehouse dir.)

Bucket-count rule of thumb: corpus_bytes / 256 MB, fixed once for the
table family — co-location requires equal counts on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, buckets: int = 8) -> None:
    """Persist ``df`` as a table bucketed (+ sorted within buckets) by
    ``doc_id``, replacing any previous one.

    Sorting within buckets by the join key lets the sort-merge join
    skip its per-partition sort as well.
    """
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, "doc_id")
        .sortBy("doc_id")
        .format("parquet")
        .saveAsTable(table)
    )


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def cojoin(spark: SparkSession, left: str, right: str) -> DataFrame:
    """Join two same-bucketed tables on their bucket key ``doc_id``.

    With matching bucket specs the physical plan contains no Exchange:
    each task merges bucket i of both tables locally
    (``tests/test_bucketed.py`` asserts this on the executed plan).
    """
    return read_table(spark, left).join(read_table(spark, right), "doc_id")
