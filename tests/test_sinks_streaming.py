"""Formatters/sinks (SURVEY §2.8) + Structured Streaming incremental path."""

from __future__ import annotations

import datetime
import os

import pytest

from pyspark.sql import functions as F

from web_content_extractor_spark.datagen import fixture_docs
from web_content_extractor_spark.functions.video import video_id
from web_content_extractor_spark.plans.pipeline import extract
from web_content_extractor_spark.sinks import formatters as fmt
from web_content_extractor_spark.streaming.incremental import (
    stream_extract,
    windowed_span_counts,
)


@pytest.fixture(scope="module")
def extracted(spark):
    return extract(fixture_docs(spark)).cache()


def _f01(extracted):
    return extracted.where(
        F.col("doc_id") == "https://test-page.example.org/index.html"
    ).collect()[0]


def test_format_json(extracted):
    import json

    out = json.loads(fmt.format_result(_f01(extracted).asDict(), "json"))
    assert out["source_url"] == "https://test-page.example.org/index.html"
    assert [x["url"] for x in out["pdf_links"]] == [
        "https://example.com/document.pdf",
        "https://docs.example.com/report.PDF",
        "https://test-page.example.org/files/manual.pdf",
    ]
    assert len(out["youtube_links"]) == 3 and len(out["other_links"]) == 3
    # model_dump_json field parity: is_valid on each link, metadata null
    assert all(x["is_valid"] is True for x in out["pdf_links"])
    assert out["metadata"] is None
    assert "total_links" not in out  # @property in the reference, not serialized


def test_format_text_golden(extracted):
    # golden string: exactly what reference _format_text
    # (formatters.py:78-102) renders for this page (no metadata)
    row = _f01(extracted).asDict()
    text = fmt.format_result(row, "text")
    assert text.startswith(
        "Extraction Results for: https://test-page.example.org/index.html\n"
        "Total Links Found: 9\n"
        "\n"
        "PDF Links (3):\n"
        "- Download PDF Document: https://example.com/document.pdf\n"
    )
    assert "\nYouTube Links (3):\n" in text
    # the reference text format has NO Other section and no footer
    assert "Other" not in text and "Extraction Information" not in text


def test_format_text_metadata_footer(extracted):
    row = _f01(extracted).asDict()
    row["metadata"] = {
        "processing_time_s": 2.345,
        "extraction_timestamp": "2025-07-18 12:00:00",
    }
    text = fmt.format_result(row, "text")
    assert text.endswith(
        "Extraction Information:\n"
        "- Processing Time: 2.35 seconds\n"
        "- Extraction Date: 2025-07-18 12:00:00"
    )
    md = fmt.format_result(row, "markdown")
    assert (
        "## Extraction Information\n"
        "- **Processing Time:** 2.35 seconds\n"
        "- **Extraction Date:** 2025-07-18 12:00:00"
    ) in md


def test_format_markdown_csv(extracted):
    row = _f01(extracted).asDict()
    md = fmt.format_result(row, "markdown")
    assert md.startswith(
        "# Extraction Results for: https://test-page.example.org/index.html\n"
        "**Total Links Found:** 9\n"
    )
    assert "## YouTube Links (3)" in md
    assert "- [Tutorial Video](https://youtube.com/watch?v=abc123)" in md
    assert "## Other Links (3)" in md
    csv_out = fmt.format_result(row, "csv")
    assert csv_out.startswith("Type,Text,URL")
    # reference csv: capitalized kind, naively-quoted text, bare URL
    assert 'PDF,"Download PDF Document",https://example.com/document.pdf' in csv_out
    assert 'YouTube,"Tutorial Video",https://youtube.com/watch?v=abc123' in csv_out


def test_format_unknown_raises(extracted):
    with pytest.raises(fmt.ResultFormattingError):
        fmt.format_result(_f01(extracted).asDict(), "yaml")


def test_write_spans_csv_roundtrip(spark, extracted, tmp_path):
    path = str(tmp_path / "spans_csv")
    fmt.write_spans(extracted, path, fmt="csv")
    back = spark.read.option("header", True).csv(path)
    assert back.count() == extracted.select(F.explode("spans")).count()
    assert set(back.columns) == {"doc_id", "type", "text", "url"}


def test_manifests(extracted):
    yt = [r.url for r in fmt.youtube_manifest(extracted).collect()]
    assert yt == sorted(set(yt)), "manifest must be sorted unique"
    assert "https://youtu.be/xyz789" in yt
    pdfs = fmt.pdf_manifest(extracted).collect()
    assert len({r.url for r in pdfs}) == len(pdfs)
    urls = {r.url for r in pdfs}
    assert "https://example.com/document.pdf" in urls


def test_video_id_variants(spark):
    rows = [
        ("https://www.youtube.com/watch?v=dQw4w9WgXcQ", "dQw4w9WgXcQ"),
        ("https://youtube.com/embed/abcdefghijk", "abcdefghijk"),
        ("https://youtu.be/AAAAAAAAAAA?t=1", "AAAAAAAAAAA"),
        ("https://example.com/page", None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in rows], ["url"])
    got = {r.url: r.vid for r in df.select("url", video_id(F.col("url")).alias("vid")).collect()}
    for u, want in rows:
        assert got[u] == want, (u, got[u], want)


def test_stream_extract_incremental(spark, tmp_path):
    """availableNow drain twice: second run processes ONLY new files."""
    inp, outp = (str(tmp_path / d) for d in ("in", "out"))
    docs = fixture_docs(spark)
    batch1 = docs.where(F.col("doc_id").contains("test-page"))
    batch1.write.mode("append").parquet(inp)
    r1 = stream_extract(spark, inp, outp)
    n1 = spark.read.parquet(outp).count()
    assert n1 == batch1.count() == r1["docs"]

    batch2 = docs.where(F.col("doc_id") == "https://fixture09.example.org")
    batch2.write.mode("append").parquet(inp)
    assert stream_extract(spark, inp, outp)["docs"] == batch2.count()
    out = spark.read.parquet(outp)
    assert out.count() == batch1.count() + batch2.count()
    # no doc extracted twice
    assert out.select("doc_id").distinct().count() == out.count()
    # span parity carries through the streaming path
    row = out.where(F.col("doc_id") == "https://fixture09.example.org").collect()[0]
    assert [s.kind for s in row.spans] == ["pdf", "pdf", "youtube", "youtube", "other"]


def test_stateful_first_seen_dedup(spark, tmp_path):
    """applyInPandasWithState visited-set: a URL is emitted exactly
    once across micro-batches AND across restarts (state lives in the
    streaming checkpoint)."""
    from web_content_extractor_spark.streaming.incremental import (
        stateful_first_seen,
    )

    inp, outp, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    schema = "doc_id string, media_ref string"

    def run_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(inp)
        stream = spark.readStream.schema(schema).parquet(inp)
        q = (
            stateful_first_seen(stream)
            .writeStream.format("parquet")
            .option("path", outp)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_batch([("d2", "https://x/a"), ("d1", "https://x/a"), ("d3", "https://x/b")])
    out1 = {r.url: r for r in spark.read.parquet(outp).collect()}
    assert set(out1) == {"https://x/a", "https://x/b"}
    assert out1["https://x/a"].first_doc_id == "d1"  # deterministic min
    assert out1["https://x/a"].n_first_batch == 2

    # restart with new files: seen keys suppressed, new key emitted once
    run_batch([("d4", "https://x/a"), ("d5", "https://x/c")])
    out2 = {r.url: r for r in spark.read.parquet(outp).collect()}
    assert set(out2) == {"https://x/a", "https://x/b", "https://x/c"}
    assert out2["https://x/c"].first_doc_id == "d5"


def test_windowed_span_counts(spark):
    rows = [
        ("2026-01-01 00:01:00", "pdf"),
        ("2026-01-01 00:04:00", "pdf"),
        ("2026-01-01 00:12:00", "other"),
    ]
    df = spark.createDataFrame(rows, ["ts_s", "kind"]).select(
        F.col("ts_s").cast("timestamp").alias("ts"), "kind"
    )
    # batch DataFrames accept the same plan (windows/watermark are no-ops)
    got = {
        (str(r.window_start), r.kind): r.n_spans
        for r in windowed_span_counts(df).collect()
    }
    assert got[("2026-01-01 00:00:00", "pdf")] == 2
    assert got[("2026-01-01 00:10:00", "other")] == 1


def test_streaming_sessionized_counts(spark, tmp_path):
    """session_window in a REAL stream (watermark + append mode +
    availableNow): closed sessions emit, and the emitted rows match the
    batch session_windows computation on the same events."""
    from web_content_extractor_spark.streaming.incremental import (
        sessionized_counts,
    )

    inp, outp, ckpt = (str(tmp_path / d) for d in ("sin", "sout", "sckpt"))
    schema = "user_id long, ts_s string"
    rows = [
        (1, "2026-01-01 00:00:00"),
        (1, "2026-01-01 00:10:00"),   # same session (gap 10m < 30m)
        (1, "2026-01-01 01:30:00"),   # new session
        (2, "2026-01-01 00:05:00"),
        # watermark pusher: advances event-time clock far past the
        # sessions above so they close and emit in append mode
        (9, "2026-01-01 09:00:00"),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    raw = spark.readStream.schema(schema).parquet(inp)
    ev = raw.select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    q = (
        sessionized_counts(ev)
        .writeStream.format("parquet")
        .option("path", outp)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, str(r.session_start)): r.n_events
        for r in spark.read.parquet(outp).collect()
    }
    # sessions whose end < watermark (09:00 - 1h) are emitted
    assert got[(1, "2026-01-01 00:00:00")] == 2
    assert got[(1, "2026-01-01 01:30:00")] == 1
    assert got[(2, "2026-01-01 00:05:00")] == 1
    assert (9, "2026-01-01 09:00:00") not in got  # still open


def test_dedup_stream_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: in-window duplicate text dropped
    (even under whitespace/case renormalization), distinct text kept;
    state is fingerprint-keyed, not doc_id-keyed."""
    from web_content_extractor_spark.streaming.incremental import (
        dedup_stream_within_watermark,
    )

    inp, outp, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    schema = "doc_id string, fetched_at timestamp, text string"
    base = datetime.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        ("d1", base, "alpha beta gamma"),
        ("d2", base + datetime.timedelta(minutes=1), "alpha  BETA gamma"),
        ("d3", base + datetime.timedelta(minutes=2), "wholly different"),
        ("d4", base + datetime.timedelta(minutes=3), "alpha beta gamma"),
        # NULL-text docs must BOTH survive (batch exact_duplicates
        # never matches NULL fingerprints; the stream must agree)
        ("d5", base + datetime.timedelta(minutes=4), None),
        ("d6", base + datetime.timedelta(minutes=5), None),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    stream = spark.readStream.schema(schema).parquet(inp)
    q = (
        dedup_stream_within_watermark(stream)
        .writeStream.format("parquet")
        .option("path", outp)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(outp)
    kept = out.collect()
    kept_texts = sorted(
        r.text.lower().split()[0] for r in kept if r.text is not None
    )
    assert out.count() == 4, kept
    assert kept_texts == ["alpha", "wholly"]
    assert {r.doc_id for r in kept if r.text is None} == {"d5", "d6"}
    # fp helper column must not leak into the output schema
    assert "fp" not in out.columns
