"""Format-agnostic docs source: the same extraction pipeline over
parquet, ORC, and JSON copies of the corpus produces identical spans —
the engine's claim that the input layer is a detail of `spark.read`
(Iceberg in production, anything columnar-or-line in practice) — and
``read_docs`` giving the same rows as a batch read and as a stream."""

from __future__ import annotations

import json

import pytest

from web_content_extractor_spark.datagen import (
    FIXTURES,
    expected_spans,
    fixture_docs,
)
from web_content_extractor_spark.plans.pipeline import extract
from web_content_extractor_spark.schemas import DOCS
from web_content_extractor_spark.sources.docs import read_docs


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json"])
def test_pipeline_is_source_format_agnostic(spark, tmp_path, fmt):
    path = str(tmp_path / f"docs_{fmt}")
    fixture_docs(spark).write.format(fmt).mode("overwrite").save(path)
    docs = spark.read.schema(DOCS).format(fmt).load(path)
    out = extract(docs).collect()
    golden = [
        expected_spans(f["name"]) for f in FIXTURES
    ]
    ok = sum(
        [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans] in [
            expected_spans(f["name"])
            for f in FIXTURES
            if f["doc_id"] == r.doc_id
        ]
        for r in out
    )
    assert ok == len(out) == 14, f"format {fmt}: {ok}/{len(out)}"
    assert any(g for g in golden)


def _rows(df):
    return sorted(map(str, df.collect()))


def _drain(spark, stream, name):
    """Every row a stream yields under ``availableNow``, via a memory sink."""
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        return _rows(spark.table(name))
    finally:
        spark.catalog.dropTempView(name)


def test_jsonl_batch_and_stream_read_the_same_rows(spark, tmp_path):
    d = tmp_path / "jsonl"
    d.mkdir()

    def doc(i):
        return json.dumps({
            "doc_id": f"https://e.com/{i}",
            "spans": [{"kind": "html", "text": f"<a href='/{i}.pdf'>D</a>",
                       "media_ref": None, "offset": 0}],
        })

    (d / "a.jsonl").write_text("\n".join([
        doc(0),
        '{"doc_id": "https://e.com/torn", "spans": [',  # torn line
        "",  # blank line
        "5",  # bare scalar
        "{}{}",  # trailing junk: a null-field row, not a drop
        '{"doc_id": 7}',  # int doc_id on a string field
        doc(1),
    ]) + "\n")
    batch = _rows(read_docs(spark, str(d), "jsonl"))
    assert len(batch) == 4
    assert not any("torn" in r for r in batch)
    assert batch == _drain(
        spark, read_docs(spark, str(d), "jsonl", stream=True), "jsonl_parity"
    )


def test_warc_batch_and_stream_read_the_same_rows(spark, tmp_path):
    d = tmp_path / "warc"
    d.mkdir()

    def rec(uri):
        body = f"<a href='{uri}.pdf'>D</a>".encode()
        return (
            f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {uri}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode() + body + b"\r\n\r\n"

    (d / "a.warc").write_bytes(rec("https://e.com/a") + rec("https://e.com/b"))
    # valid records under names no reader may list: a half-written
    # sidecar and a job marker
    (d / "inflight.tmp").write_bytes(rec("https://e.com/tmp"))
    (d / "_SUCCESS").write_bytes(rec("https://e.com/success"))
    batch = _rows(read_docs(spark, str(d), "warc"))
    assert len(batch) == 2
    assert not any("tmp" in r or "success" in r for r in batch)
    assert batch == _drain(
        spark, read_docs(spark, str(d), "warc", stream=True), "warc_parity"
    )
