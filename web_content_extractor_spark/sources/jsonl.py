"""JSONL corpus source/sink — the interchange format LLM training
corpora actually ship in (one JSON object per line, usually
zstd/gzip-compressed shards).

Read policy is drop-not-fail, the same contract as the tokenizer's
candidate handling: a torn line, truncated shard tail, or
schema-divergent record must never kill a 100 TB ingest.  Spark's
PERMISSIVE mode parses what it can and routes unparseable lines into a
corrupt-record column; :func:`read_jsonl` drops them and (optionally)
appends them to a quarantine path so the loss is auditable, mirroring
the per-doc errors table.

Scale notes:
- plain ``.jsonl`` is line-splittable — one 100 GB file still fans out
  across executors; ``.gz`` and ``.zst`` shards are NOT splittable
  (one task per file), so compressed corpora must arrive as many
  shards — which is how they are published anyway.  Write-side
  defaults to zstd for that reason.
- schema is mandatory: schema inference runs a whole extra pass over
  the data AND silently widens types on dirty corpora.
- the JSON parse (Jackson) is JVM-side and pipelines with the scan;
  there is no Python in this path.

Reference: the engine's document contract is schemas.DOCS
(doc_id, spans[]); flat text corpora use their own schema, e.g.
``"doc_id long, text string, source string"``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    quarantine_path: str | None = None,
) -> DataFrame:
    """Schema-enforced JSONL read with drop-not-fail corrupt handling.

    Unparseable lines (torn JSON, truncated shard tails) are dropped,
    never raised; pass ``quarantine_path`` to append them (one column,
    the raw line) for audit.  Rows that parse but miss fields come
    back with nulls — downstream filters own that policy, as with any
    source.  One Jackson quirk to know: a line with TRAILING JUNK
    after a valid first object (``{}{}``) parses as the first object,
    silently — it is a null-field row, not a corrupt one.

    The parse is ``read.text`` + ``from_json``, NOT the JSON
    datasource, for two reasons probed the hard way:

    - the datasource's corrupt column carries an analyzer guard
      (``QUERY_ONLY_CORRUPT_RECORD_COLUMN``) that REJECTS any plan
      referencing only that column from the raw file — which is
      exactly what ``df.count()`` becomes once the optimizer prunes
      the data columns above the drop filter.  A source whose output
      cannot be counted without an AnalysisException violates this
      module's drop-not-fail contract; Spark's sanctioned workaround
      is ``cache()``, which at a 100 TB ingest is exactly backwards.
    - ``from_json`` under the same PERMISSIVE options makes the
      identical corrupt/kept call as the datasource on every probed
      edge case (torn JSON, bare scalars, arrays, trailing junk), so
      nothing is lost; a blank line — which the datasource silently
      skips — parses to a NULL struct here and is dropped by the same
      filter, preserving that behavior too.

    One text scan when ``quarantine_path`` is None; two independent
    pipelined text scans otherwise (the quarantine pass re-reads and
    keeps only corrupt lines — strictly cheaper than materializing
    the parsed corpus to make one scan legal).
    """
    raw = spark.read.text(path)
    if quarantine_path is not None:
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        with_corrupt = T.StructType(
            list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
        )
        rec = F.from_json(
            F.col("value"),
            with_corrupt,
            {"mode": "PERMISSIVE",
             "columnNameOfCorruptRecord": CORRUPT_COL},
        )
        (
            raw.where(rec[CORRUPT_COL].isNotNull())
            .select(F.col("value").alias("line"))
            .write.mode("append")
            .json(quarantine_path)
        )
    return parse_jsonl_lines(raw, "value", schema)


def write_jsonl(df: DataFrame, path: str, compression: str = "gzip") -> None:
    """JSONL sink, replacing ``path``.  Compressed JSONL shards are not
    splittable, so the writer's partitioning (many shards) IS the
    read-side parallelism; repartition before calling if the frame has
    collapsed to a few partitions.  gzip by default: Hadoop's TEXT codec
    list in this image is bzip2/deflate/snappy/lz4/gzip — zstd needs
    libhadoop native, present on real clusters but not here (parquet
    zstd is unaffected; it ships in parquet-java)."""
    df.write.mode("overwrite").option("compression", compression).json(path)


def parse_jsonl_lines(
    lines: DataFrame, line_col: str, schema: T.StructType | str
) -> DataFrame:
    """Column-level JSONL parse for lines already in a DataFrame
    (e.g. out of a message bus or a custom splitter): drop-not-fail
    with the same corrupt-column mechanism as :func:`read_jsonl` —
    ``from_json`` in PERMISSIVE mode does NOT return a null struct on
    malformed input (it yields an all-null record), so dropping on a
    null struct would keep every torn line as a ghost row."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    with_corrupt = T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    parsed = lines.select(
        F.from_json(
            F.col(line_col),
            with_corrupt,
            {"mode": "PERMISSIVE",
             "columnNameOfCorruptRecord": CORRUPT_COL},
        ).alias("__rec")
    )
    return (
        parsed.where(
            F.col("__rec").isNotNull()
            & F.col(f"__rec.{CORRUPT_COL}").isNull()
        )
        .select("__rec.*")
        .drop(CORRUPT_COL)
    )
