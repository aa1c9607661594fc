"""Checkpointed, resumable extraction runs with file-level lineage.

Distributed analog of the reference's idempotent skip-existing
behavior (src/cli.py:396-398) and retry/backoff resume
(src/infrastructure/http_client.py:61-113): a run processes input
*files* it has not seen before, appends output, then durably records
the processed files in a lineage manifest.  A crashed or re-submitted
run picks up exactly the unprocessed remainder — the same bookmark
model as Structured Streaming's file source / Iceberg snapshot
incremental reads (on Iceberg, swap the manifest for
``snapshot-id`` range reads; the bookkeeping below is format-neutral).

File-level (not row-level) bookmarks keep the resume path O(#files):
no giant anti-join against everything already written — at 10^12 docs
an anti-join on doc_id would itself be a full-corpus shuffle.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from web_content_extractor_spark.operators.content import extract_content
from web_content_extractor_spark.operators.errors import doc_errors, write_errors
from web_content_extractor_spark.operators.metrics import partition_metrics
from web_content_extractor_spark.plans.pipeline import extract
from web_content_extractor_spark.schemas import DOCS


def _manifest_dir(output_path: str) -> str:
    return os.path.join(output_path, "_lineage")


def processed_files(output_path: str) -> set[str]:
    d = _manifest_dir(output_path)
    if not os.path.isdir(d):
        return set()
    done: set[str] = set()
    for name in sorted(os.listdir(d)):
        if name.endswith(".json"):
            with open(os.path.join(d, name)) as f:
                done.update(json.load(f)["files"])
    return done


def record_run(output_path: str, run_id: str, files: list[str], stats: dict[str, Any]) -> None:
    d = _manifest_dir(output_path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{run_id}.json.tmp")
    with open(tmp, "w") as f:
        json.dump({"run_id": run_id, "ts": time.time(), "files": files, **stats}, f)
    os.replace(tmp, os.path.join(d, f"{run_id}.json"))  # atomic commit


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


def run_resumable_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    metrics_path: str | None = None,
    errors_path: str | None = None,
    variant: str = "context",
    balance: bool | str = False,
    content_path: str | None = None,
) -> dict[str, Any]:
    """One resumable pass: extract every not-yet-processed input file.

    Returns {"run_id", "files_processed", "docs"}; a no-op (everything
    already processed) returns files_processed == 0 and writes nothing.
    ``errors_path`` additionally appends the per-doc errors table for
    the processed files (operators/errors.py) under the same run_id,
    so a resumed run's error rows are attributable to its manifest;
    ``content_path`` appends the content rows of those files only.
    """
    run_id = uuid.uuid4().hex[:12]
    all_files = spark.read.schema(DOCS).parquet(input_path).inputFiles()
    todo = sorted(set(all_files) - processed_files(output_path))
    if not todo:
        return {"run_id": run_id, "files_processed": 0, "docs": 0}

    n_docs = write_extract(
        spark.read.schema(DOCS).parquet(*todo),
        output_path,
        run_id,
        metrics_path=metrics_path,
        errors_path=errors_path,
        content_path=content_path,
        variant=variant,
        balance=balance,
    )
    record_run(output_path, run_id, todo, {"docs": n_docs})
    return {"run_id": run_id, "files_processed": len(todo), "docs": n_docs}
