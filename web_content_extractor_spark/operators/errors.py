"""Per-document error table: queryable drop/failure context.

The reference wraps every failure in a ``ContextualExtractionError``
carrying url / correlation_id / start_time
(src/core/exceptions.py:46-67, applied in service.py:126-140).  The
engine keeps the reference's drop-not-fail semantics
(link_classifier.py:50-53) but makes every drop *attributable*: the
tokenizer emits (stage, reason, target) per dropped candidate or parse
failure, and this module explodes them into an errors table

    (doc_id, stage, reason, target, run_id, correlation_id)

so "why did 0.3% of docs lose links" is one filter away on a 100-TB
run.  Stages: ``input`` (``null_doc_id``: the row has no doc_id, so no
base URL; its absolute links still extract; ``null_span``: a null
element of the row's spans array, skipped while its other spans still
extract), ``parse`` (HTML tokenizer
exception — reason carries the exception class), ``url_validation``
(invalid resolved URL), ``text_selection`` (empty link text after the
selection priority).

Scale shape: a narrow projection + explode of the already-computed
tokenizer output — no extra Python stage, no shuffle; the error arrays
are empty for healthy docs so the exploded table is tiny relative to
the corpus.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def doc_errors(tokenized: DataFrame, run_id: str | None = None) -> DataFrame:
    """TOKENIZED -> one row per dropped candidate / parse failure.

    ``correlation_id`` follows the reference's CorrelationId contract
    (value_objects.py:68-86: >= 8 chars, uuid-derived): deterministic
    per (run, doc) so retried tasks emit identical rows (idempotent
    appends).
    """
    rid = run_id or uuid.uuid4().hex[:12]
    errs = tokenized.where(F.size("err_stages") > 0).select(
        "doc_id",
        F.posexplode(
            F.arrays_zip(
                F.col("err_stages").alias("stage"),
                F.col("err_reasons").alias("reason"),
                F.col("err_targets").alias("target"),
            )
        ).alias("err_idx", "e"),
    )
    return errs.select(
        "doc_id",
        F.col("e.stage").alias("stage"),
        F.col("e.reason").alias("reason"),
        F.col("e.target").alias("target"),
        "err_idx",
        F.lit(rid).alias("run_id"),
        F.substring(
            F.md5(F.concat_ws("|", F.lit(rid), F.col("doc_id"))), 1, 12
        ).alias("correlation_id"),
    )


def write_errors(errors: DataFrame, path: str) -> None:
    """Append the errors table next to the metrics table.

    Plain append (parquet here, Iceberg append on a real catalog):
    error rows are deterministic per (run_id, doc_id, err_idx), so
    re-running a failed job with the same run_id double-writes nothing
    new after an Iceberg MERGE on that key; for the parquet fallback,
    downstream readers dedupe on the same key.
    """
    errors.write.mode("append").parquet(path)
