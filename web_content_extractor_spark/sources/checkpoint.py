"""The one extract writer: every run's tables from one ``docs`` frame.

:func:`write_extract` appends one run's spans plus the optional
metrics, errors and content tables, all keyed by the caller's
``run_id``.  The one-shot CLI extract calls it once; the incremental
extract (``streaming/incremental.py::stream_extract``, behind
``jobs extract --resume``) calls it once per micro-batch of newly
landed files, with Spark's file-source checkpoint as the only
bookkeeping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from web_content_extractor_spark.operators.content import extract_content
from web_content_extractor_spark.operators.errors import doc_errors, write_errors
from web_content_extractor_spark.operators.metrics import partition_metrics
from web_content_extractor_spark.plans.pipeline import extract


def write_extract(
    docs: DataFrame,
    output_path: str,
    run_id: str,
    metrics_path: str | None = None,
    errors_path: str | None = None,
    content_path: str | None = None,
    variant: str = "context",
    balance: bool | str = False,
) -> int:
    """Extract ``docs`` once and append one run's tables: spans to
    ``output_path``, plus the optional metrics and errors tables (keyed
    by ``run_id``) and the boilerpipe content branch.  Every table is
    computed from the same ``docs`` frame.  Returns the docs count."""
    extracted = extract(
        docs,
        variant=variant,
        balance=balance,
        with_stats=True,
        with_errors=bool(errors_path),
    )
    extracted.persist()
    try:
        extracted.select("doc_id", "spans").write.mode("append").parquet(output_path)
        if metrics_path:
            partition_metrics(extracted, run_id=run_id).write.mode("append").parquet(
                metrics_path
            )
        if errors_path:
            write_errors(doc_errors(extracted, run_id=run_id), errors_path)
        n_docs = extracted.count()
    finally:
        extracted.unpersist()
    if content_path:
        extract_content(docs).write.mode("append").parquet(content_path)
    return n_docs
