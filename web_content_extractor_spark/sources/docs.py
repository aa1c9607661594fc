"""Docs-table IO: the one reader of every DOCS input format.

The engine's contract is an Iceberg table of interleaved documents
(BASELINE.json input_hint).  The sandbox image carries no
iceberg-spark-runtime jar, so reads/writes fall back to plain parquet
with the identical schema — the pipeline code is format-agnostic
(schemas.DOCS either way).  On a real cluster, pass
``format="iceberg"`` and a table identifier instead of a path.

:func:`read_docs` also turns JSONL shards and WARC archives into DOCS
rows, as a batch read or (``stream=True``) as a file-source stream,
so the one-shot CLI extract and the incremental one (``--resume``,
``stream_extract``) share one dispatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from web_content_extractor_spark.schemas import DOCS

READ_FORMATS = ("parquet", "iceberg", "jsonl", "warc")
WRITE_FORMATS = ("parquet", "iceberg")

# A file-source stream skips, with no log line, any new file whose mtime
# is more than maxFileAge (default 7 days) older than the newest file it
# has seen; no landed file is too old to extract.
MAX_FILE_AGE = "36500d"


def _reader(spark: SparkSession, stream: bool):
    """``spark.read``, or for ``stream`` a file-source stream reader that
    never skips a file for its age."""
    return spark.readStream.option("maxFileAge", MAX_FILE_AGE) if stream else spark.read


def _format(location: str, fmt: str | None, accepted: tuple[str, ...]) -> str:
    """``fmt``, or the default for ``location``: Iceberg for a table id
    (no ``/``), parquet for a path.  A name outside ``accepted`` raises
    rather than falling back to parquet."""
    fmt = fmt or ("iceberg" if location.count("/") == 0 else "parquet")
    if fmt not in accepted:
        raise ValueError(f"fmt must be one of {', '.join(accepted)}; got {fmt!r}")
    return fmt


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def read_docs(
    spark: SparkSession,
    location: str,
    fmt: str | None = None,
    stream: bool = False,
) -> DataFrame:
    """DOCS rows from ``location`` in ``fmt``: "parquet", "iceberg",
    "jsonl" or "warc" (anything else raises ``ValueError``).  The
    default is Iceberg for a table id (no ``/``) and parquet for a
    path.

    - jsonl: one JSON object per line, schema-enforced; torn lines,
      blank lines and bare scalars drop, never fail
      (:func:`~web_content_extractor_spark.sources.jsonl.parse_jsonl_lines`).
    - warc: one doc per response record of the ``*.warc*`` archives
      (:func:`~web_content_extractor_spark.sources.warc.read_warc`,
      :func:`~web_content_extractor_spark.sources.warc.warc_docs`).

    ``stream=True`` returns the same rows as a file-source stream
    (``spark.readStream``) for ``streaming/incremental.py::stream_extract``:
    the stream's checkpoint lists each landed file once, whatever its
    age, and a consumer that crashes before committing a batch reads
    that batch's files again.
    """
    fmt = _format(location, fmt, READ_FORMATS)
    reader = _reader(spark, stream)
    if fmt == "iceberg":
        return reader.format("iceberg").load(location)
    if fmt == "jsonl":
        from web_content_extractor_spark.sources.jsonl import parse_jsonl_lines

        return parse_jsonl_lines(reader.text(location), "value", DOCS)
    if fmt == "warc":
        from web_content_extractor_spark.sources.warc import read_warc, warc_docs

        return warc_docs(read_warc(spark, location, stream=stream))
    return reader.schema(DOCS).parquet(location)


def write_docs(
    df: DataFrame, location: str, fmt: str | None = None, mode: str = "append"
) -> None:
    """Write DOCS rows to ``location`` as "parquet" or "iceberg"
    (anything else raises ``ValueError``), with :func:`read_docs`'s
    default format."""
    if _format(location, fmt, WRITE_FORMATS) == "iceberg":
        # hidden partitioning bucket(N, doc_id) is configured on table DDL
        df.writeTo(location).append()
    else:
        df.write.mode(mode).parquet(location)
