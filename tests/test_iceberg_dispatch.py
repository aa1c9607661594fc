"""Iceberg dispatch guards (sources/docs.py, jobs.py).

No iceberg-spark-runtime jar ships in this sandbox, so the
``fmt="iceberg"`` branches can't run for real; these tests pin the
dispatch logic itself — which reader/writer call each (location, fmt)
combination selects, and the CLI rejection paths — with recording
fakes, plus a skip-guarded real-jar test for clusters that have one.
"""

from __future__ import annotations

import json

import pytest

from web_content_extractor_spark.sources import docs as docs_io


class _Recorder:
    """Chainable fake for spark.read / df.write / df.writeTo."""

    def __init__(self, log: list):
        self.log = log

    def __getattr__(self, name):
        def call(*args, **kwargs):
            self.log.append((name, args))
            return self

        return call


class _FakeSpark:
    def __init__(self):
        self.log: list = []

    @property
    def read(self):
        return _Recorder(self.log)


class _FakeDF:
    def __init__(self):
        self.log: list = []

    @property
    def write(self):
        return _Recorder(self.log)

    def writeTo(self, location):
        self.log.append(("writeTo", (location,)))
        return _Recorder(self.log)


def test_iceberg_not_available_in_sandbox(spark):
    # the real-environment probe: no jar here, so the parquet fallback
    # is the branch every other test exercises
    assert docs_io.iceberg_available(spark) is False


def test_read_docs_dispatch():
    s = _FakeSpark()
    docs_io.read_docs(s, "db.docs")  # no slash -> table identifier
    assert ("format", ("iceberg",)) in s.log and ("load", ("db.docs",)) in s.log

    s = _FakeSpark()
    docs_io.read_docs(s, "/data/docs")  # path -> parquet with DOCS schema
    assert ("parquet", ("/data/docs",)) in s.log
    assert any(c[0] == "schema" for c in s.log)
    assert all(c[0] != "format" for c in s.log)

    s = _FakeSpark()
    docs_io.read_docs(s, "/data/docs", fmt="iceberg")  # explicit override
    assert ("format", ("iceberg",)) in s.log


def test_write_docs_dispatch():
    df = _FakeDF()
    docs_io.write_docs(df, "db.docs")
    assert df.log[0] == ("writeTo", ("db.docs",))
    assert ("append", ()) in df.log

    df = _FakeDF()
    docs_io.write_docs(df, "/data/out", mode="overwrite")
    assert ("mode", ("overwrite",)) in df.log
    assert ("parquet", ("/data/out",)) in df.log
    assert all(c[0] != "writeTo" for c in df.log)


def test_jobs_rejects_iceberg_resume(tmp_path, capsys):
    from web_content_extractor_spark.jobs import main

    rc = main(
        [
            "extract",
            "--input", "db.docs",
            "--input-format", "iceberg",
            "--resume",
            "--output", str(tmp_path / "o"),
        ]
    )
    assert rc == 2
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "snapshot" in err["error"]


def test_read_docs_iceberg_real_jar(spark):
    if not docs_io.iceberg_available(spark):
        pytest.skip("no iceberg-spark-runtime jar in this environment")
    # on a real cluster: catalog-registered table round-trip
    docs_io.read_docs(spark, "db.docs")  # pragma: no cover
