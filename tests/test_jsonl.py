"""JSONL source/sink: schema-enforced reads, drop-not-fail corrupt
handling, quarantine audit, zstd roundtrip, nested DOCS parsing."""

import glob
import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from web_content_extractor_spark.schemas import DOCS
from web_content_extractor_spark.sources.jsonl import (
    CORRUPT_COL,
    parse_jsonl_lines,
    read_jsonl,
    write_jsonl,
)

FLAT = "doc_id long, text string, source string"


def _write_lines(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def test_read_drops_corrupt_lines_not_fail(spark, tmp_path):
    p = str(tmp_path / "corpus.jsonl")
    good = [
        json.dumps({"doc_id": i, "text": f"doc {i}", "source": "web"})
        for i in range(10)
    ]
    bad = ['{"doc_id": 99, "text": "torn', "not json at all"]
    _write_lines(p, good[:5] + bad + good[5:])
    out = read_jsonl(spark, p, FLAT)
    rows = {r.doc_id for r in out.collect()}
    assert rows == set(range(10))
    assert CORRUPT_COL not in out.columns
    # count() prunes every data column, leaving only the corrupt-column
    # reference — under the JSON datasource that trips the analyzer's
    # QUERY_ONLY_CORRUPT_RECORD_COLUMN guard (probed: AnalysisException
    # on a plain count over an ingest).  The text+from_json parse has
    # no such guard; a source you cannot count is not drop-not-fail.
    assert out.count() == 10


def test_trailing_junk_is_a_null_row_not_corrupt(spark, tmp_path):
    # documented Jackson quirk: '{}{}' parses as the FIRST object and
    # the trailing junk is ignored — a null-field row, not a drop
    p = str(tmp_path / "c.jsonl")
    _write_lines(p, ["{}{}", '{"doc_id": 3, "text": "t", "source": "s"}'])
    rows = read_jsonl(spark, p, FLAT).collect()
    assert {r.doc_id for r in rows} == {None, 3}


def test_quarantine_captures_dropped_lines(spark, tmp_path):
    p = str(tmp_path / "corpus.jsonl")
    q = str(tmp_path / "quarantine")
    _write_lines(
        p,
        [json.dumps({"doc_id": 1, "text": "ok", "source": "s"}),
         '{"truncated": ',
         "",      # blank: datasource skips silently — must NOT quarantine
         "   ",   # whitespace-only: same
         "garbage line"],
    )
    out = read_jsonl(spark, p, FLAT, quarantine_path=q)
    assert out.count() == 1
    qlines = {
        r.line for r in spark.read.json(q, schema="line string").collect()
    }
    assert qlines == {'{"truncated": ', "garbage line"}


def test_missing_fields_null_not_dropped(spark, tmp_path):
    # a line that PARSES but lacks fields is a null-field row, not
    # corrupt — field policy belongs downstream
    p = str(tmp_path / "c.jsonl")
    _write_lines(p, ['{"doc_id": 7}'])
    rows = read_jsonl(spark, p, FLAT).collect()
    assert len(rows) == 1 and rows[0].doc_id == 7 and rows[0].text is None


def test_gzip_roundtrip_and_shard_parallelism(spark, tmp_path):
    p = str(tmp_path / "shards")
    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("body "), F.col("id").cast("string")).alias("text"),
        F.lit("web").alias("source"),
    ).repartition(8)
    write_jsonl(df, p)  # gzip default (zstd text codec needs libhadoop)
    files = glob.glob(f"{p}/part-*.gz")
    assert len(files) == 8  # shards ARE the read parallelism when compressed
    back = read_jsonl(spark, p, FLAT)
    assert sorted(r.doc_id for r in back.collect()) == list(range(200))


def test_nested_docs_schema_roundtrip(spark, tmp_path):
    # the engine's interleaved DOCS contract (nested span structs,
    # embedded newlines must survive JSON string escaping)
    p = str(tmp_path / "docs")
    docs = spark.createDataFrame(
        [("d1", [("html", "<p>a\nb</p>", None, 0),
                 ("image", None, "img:1", 1)]),
         ("d2", [("html", 'quote " backslash \\', None, 0)])],
        DOCS,
    )
    write_jsonl(docs, p, compression="none")
    back = read_jsonl(spark, p, DOCS)
    a = sorted((r.doc_id, [tuple(s) for s in r.spans])
               for r in back.collect())
    b = sorted((r.doc_id, [tuple(s) for s in r.spans])
               for r in docs.collect())
    assert a == b


def test_parse_jsonl_lines_column_level(spark):
    lines = spark.createDataFrame(
        [('{"doc_id": 1, "text": "a", "source": "s"}',),
         ("torn {",),
         ('{"doc_id": 2, "text": "b", "source": "s"}',)],
        "line string",
    )
    out = parse_jsonl_lines(lines, "line", FLAT)
    assert sorted(r.doc_id for r in out.collect()) == [1, 2]


def test_jobs_extract_from_jsonl(spark, tmp_path):
    """--input-format jsonl: full extraction from a JSONL docs shard,
    torn lines dropped, not fatal."""
    from web_content_extractor_spark.jobs import main

    doc = {
        "doc_id": "https://example.com/",
        "spans": [{
            "kind": "html",
            "text": "<html><body>"
                    "<a href='https://example.com/a.pdf'>Doc</a>"
                    "<p>hello</p></body></html>",
            "media_ref": None,
            "offset": 0,
        }],
    }
    p = str(tmp_path / "docs.jsonl")
    _write_lines(p, [json.dumps(doc), '{"doc_id": "torn'])
    out = str(tmp_path / "spans")
    rc = main(["extract", "--input", p, "--input-format", "jsonl",
               "--output", out])
    assert rc == 0
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1
    assert [(s.kind, s.text, s.media_ref) for s in rows[0].spans] == [
        ("pdf", "Doc", "https://example.com/a.pdf")
    ]


def test_jobs_jsonl_resume_rejected(tmp_path):
    from web_content_extractor_spark.jobs import main

    rc = main([
        "extract",
        "--input", str(tmp_path / "x.jsonl"),
        "--input-format", "jsonl",
        "--output", str(tmp_path / "o"),
        "--resume",
    ])
    assert rc == 2


def test_jobs_corpus_build_from_jsonl(spark, tmp_path, capsys):
    """corpus --input-format jsonl: the corpus pipeline builds from
    JSONL shards, torn lines dropped."""
    from web_content_extractor_spark.jobs import main

    body = (
        "the quick brown fox jumps over the lazy dog and keeps going "
        "through the quiet field while the morning light slowly rises "
    ) * 4
    lines = [
        json.dumps(
            {"doc_id": i, "text": body + f" tail {i}", "source": "web"}
        )
        for i in range(8)
    ] + ['{"doc_id": 999, "text": "torn']
    p = str(tmp_path / "docs.jsonl")
    _write_lines(p, lines)
    out = str(tmp_path / "corpus")
    rc = main([
        "corpus",
        "--input", p,
        "--input-format", "jsonl",
        "--output", out,
        "--chunk-size", "64",
        "--chunk-overlap", "16",
        "--shards", "2",
        "--pack-budget", "128",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["corpus"]["curation_funnel"]["total"] == 8  # torn line gone
    assert spark.read.parquet(out).count() > 0


def test_stream_extract_from_jsonl_landing_dir(spark, tmp_path):
    """JSONL landing dir: exactly-once shard pickup across two
    availableNow drains, torn lines dropped without killing the
    stream."""
    from web_content_extractor_spark.streaming.incremental import (
        stream_extract,
    )

    inp, outp, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    import os

    os.makedirs(inp)

    def doc(i):
        return json.dumps({
            "doc_id": f"https://e.com/{i}",
            "spans": [{
                "kind": "html",
                "text": f"<html><body><a href='https://e.com/{i}.pdf'>"
                        f"D{i}</a></body></html>",
                "media_ref": None,
                "offset": 0,
            }],
        })

    _write_lines(f"{inp}/shard0.jsonl", [doc(0), '{"torn', doc(1)])
    q = stream_extract(spark, inp, outp, ckpt, fmt="jsonl")
    q.awaitTermination(120)
    assert spark.read.parquet(outp).count() == 2

    _write_lines(f"{inp}/shard1.jsonl", [doc(2)])
    q = stream_extract(spark, inp, outp, ckpt, fmt="jsonl")
    q.awaitTermination(120)
    out = spark.read.parquet(outp)
    assert out.count() == 3  # exactly-once: shard0 not reprocessed
    assert out.select("doc_id").distinct().count() == 3
    kinds = {r.doc_id: [s.kind for s in r.spans] for r in out.collect()}
    assert kinds["https://e.com/2"] == ["pdf"]


def test_caller_schema_not_mutated(spark, tmp_path):
    schema = T.StructType.fromDDL(FLAT)
    n = len(schema.fields)
    p = str(tmp_path / "c.jsonl")
    _write_lines(p, [json.dumps({"doc_id": 1, "text": "x", "source": "s"})])
    read_jsonl(spark, p, schema)
    assert len(schema.fields) == n  # StructType.add mutates; we must not
