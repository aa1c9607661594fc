"""Literal north-rule deployment shape: a REAL ``spark-submit
--py-files engine.zip`` subprocess, with the engine importable ONLY
from the zip (cwd is outside the repo and PYTHONPATH is scrubbed)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="no spark-submit on PATH"
)
def test_spark_submit_py_files_end_to_end(spark, tmp_path):
    # engine.zip built from the working tree
    zpath = tmp_path / "engine.zip"
    pkg = os.path.join(REPO, "web_content_extractor_spark")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                full = os.path.join(root, f)
                z.write(full, os.path.relpath(full, REPO))

    from web_content_extractor_spark.datagen import (
        FIXTURES,
        expected_spans,
        fixture_docs,
    )

    docs = str(tmp_path / "docs")
    fixture_docs(spark).write.mode("overwrite").parquet(docs)
    spans = str(tmp_path / "spans")

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--py-files", str(zpath),
            os.path.join(REPO, "scripts", "submit_job.py"),
            "extract",
            "--input", docs,
            "--output", spans,
            "--metrics", str(tmp_path / "metrics"),
        ],
        cwd=str(tmp_path),   # repo not importable from here
        env=env,
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["docs"] == 14

    # span-sequence equality vs the reference fixtures, same check as
    # the in-process pipeline parity test
    out = spark.read.parquet(spans).collect()
    ok = sum(
        [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        in [
            expected_spans(f["name"])
            for f in FIXTURES
            if f["doc_id"] == r.doc_id
        ]
        for r in out
    )
    assert ok == len(out) == 14
