"""WARC source: native record build, file read, malformed handling."""

from __future__ import annotations

from pyspark.sql import functions as F

from web_content_extractor_spark.sources.warc import (
    _walk_records,
    parse_warc_records,
    read_warc,
    warc_blob_per_group,
    warc_record,
)


def _rec(uri: str, body: bytes) -> bytes:
    hdr = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Target-URI: " + uri.encode() + b"\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
    )
    return hdr + body + b"\r\n\r\n"


class TestWalkRecords:
    def test_multi_record_blob(self):
        blob = _rec("https://a/1", b"one") + _rec("https://a/2", b"two\r\nx")
        got = [r for r in _walk_records(blob)]
        assert [r[:3] for r in got] == [
            ("https://a/1", b"one", "response"),
            ("https://a/2", b"two\r\nx", "response"),
        ]
        # offsets/extents tile the blob exactly
        assert got[0][3] == 0
        assert got[0][3] + got[0][4] == got[1][3]
        assert got[1][3] + got[1][4] == len(blob)

    def test_malformed_records_skipped_not_fatal(self):
        bad_len = (
            b"WARC/1.0\r\nWARC-Target-URI: https://bad\r\n"
            b"Content-Length: oops\r\n\r\nxxxx\r\n\r\n"
        )
        truncated = _rec("https://trunc", b"full body")[:-15]
        blob = bad_len + _rec("https://ok", b"fine") + truncated
        got = [r[:3] if r else None for r in _walk_records(blob)]
        assert None in got
        assert ("https://ok", b"fine", "response") in got
        assert all(r is None or r[0] != "https://trunc" for r in got)

    def test_payload_containing_warc_magic(self):
        # a record whose BODY embeds the magic must not desync the walk
        body = b"quoting WARC/1.0\r\n\r\n inside"
        blob = _rec("https://a/1", body) + _rec("https://a/2", b"next")
        got = [r[:3] for r in _walk_records(blob)]
        assert got == [
            ("https://a/1", body, "response"),
            ("https://a/2", b"next", "response"),
        ]


class TestSparkWarc:
    def test_native_build_matches_python_framing(self, spark):
        d = spark.createDataFrame(
            [(1, "hello world"), (2, "café")], "doc_id long, text string"
        )
        uri = F.concat(F.lit("https://x/"), F.col("doc_id").cast("string"))
        rows = d.select(warc_record(uri, F.col("text")).alias("r")).collect()
        got = {bytes(r.r) for r in rows}
        assert got == {
            _rec("https://x/1", "hello world".encode()),
            _rec("https://x/2", "café".encode()),
        }

    def test_blob_round_trip(self, spark):
        d = spark.createDataFrame(
            [(i, f"body {i} — text") for i in range(40)],
            "doc_id long, text string",
        )
        uri = F.concat(F.lit("https://x/"), F.col("doc_id").cast("string"))
        blobs = warc_blob_per_group(d, uri, F.col("text"), F.col("doc_id") % 4)
        assert blobs.count() == 4
        parsed = parse_warc_records(blobs)
        got = {
            (r.target_uri, bytes(r.payload).decode()) for r in parsed.collect()
        }
        assert got == {(f"https://x/{i}", f"body {i} — text") for i in range(40)}

    def test_records_ordered_within_blob(self, spark):
        d = spark.createDataFrame(
            [(i, f"b{i}") for i in (5, 1, 9, 3)], "doc_id long, text string"
        )
        blobs = warc_blob_per_group(
            d, F.col("doc_id").cast("string"), F.col("text"), F.lit(0)
        )
        parsed = parse_warc_records(blobs).orderBy("rec_no").collect()
        assert [r.target_uri for r in parsed] == ["1", "3", "5", "9"]

    def test_read_warc_files(self, spark, tmp_path):
        for fno in range(3):
            recs = b"".join(
                _rec(f"https://f{fno}/p{i}", f"doc {fno}-{i}".encode())
                for i in range(5)
            )
            (tmp_path / f"part-{fno}.warc").write_bytes(recs)
        got = read_warc(spark, str(tmp_path)).collect()
        assert len(got) == 15
        assert len({r.blob_id for r in got}) == 3
        assert {bytes(r.payload).decode() for r in got} == {
            f"doc {f}-{i}" for f in range(3) for i in range(5)
        }

    def test_read_gzipped_multimember_warc(self, spark, tmp_path):
        # Common Crawl framing: each record its own gzip member
        import gzip

        members = b"".join(
            gzip.compress(_rec(f"https://g/p{i}", f"gz {i}".encode()))
            for i in range(4)
        )
        (tmp_path / "cc.warc.gz").write_bytes(members)
        got = read_warc(spark, str(tmp_path)).collect()
        assert {bytes(r.payload).decode() for r in got} == {
            f"gz {i}" for i in range(4)
        }


class TestWarcExtractionJob:
    def test_jobs_extract_from_warc(self, spark, tmp_path):
        from web_content_extractor_spark.jobs import main

        html = (
            b"<html><body><a href='https://example.com/a.pdf'>Doc</a>"
            b"<p>hello</p></body></html>"
        )
        (tmp_path / "crawl.warc").write_bytes(
            _rec("https://example.com/", html)
        )
        out = str(tmp_path / "spans")
        rc = main(
            [
                "extract",
                "--input", str(tmp_path / "crawl.warc"),
                "--input-format", "warc",
                "--output", out,
            ]
        )
        assert rc == 0
        rows = spark.read.parquet(out).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r.doc_id == "https://example.com/"
        assert [(s.kind, s.text, s.media_ref) for s in r.spans] == [
            ("pdf", "Doc", "https://example.com/a.pdf")
        ]

    def test_warc_resume_rejected(self, tmp_path):
        from web_content_extractor_spark.jobs import main

        rc = main(
            [
                "extract",
                "--input", str(tmp_path),
                "--input-format", "warc",
                "--output", str(tmp_path / "o"),
                "--resume",
            ]
        )
        assert rc == 2


class TestWarcStreaming:
    def test_stream_extract_warc_incremental(self, spark, tmp_path):
        from web_content_extractor_spark.streaming.incremental import (
            stream_extract_warc,
        )

        land = tmp_path / "landing"
        land.mkdir()
        out = str(tmp_path / "spans")
        ckpt = str(tmp_path / "ckpt")

        def page(n):
            return _rec(
                f"https://example.com/p{n}",
                (
                    f"<html><body><a href='https://example.com/d{n}.pdf'>"
                    f"D{n}</a></body></html>"
                ).encode(),
            )

        (land / "a.warc").write_bytes(page(1) + page(2))
        q = stream_extract_warc(spark, str(land), out, ckpt)
        q.awaitTermination(120)
        assert {r.doc_id for r in spark.read.parquet(out).collect()} == {
            "https://example.com/p1", "https://example.com/p2"
        }

        # a newly landed archive is picked up exactly once on resume
        (land / "b.warc").write_bytes(page(3))
        q = stream_extract_warc(spark, str(land), out, ckpt)
        q.awaitTermination(120)
        rows = spark.read.parquet(out).collect()
        assert len(rows) == 3  # no reprocessing of a.warc
        by_id = {r.doc_id: r for r in rows}
        assert [
            (s.kind, s.media_ref) for s in by_id["https://example.com/p3"].spans
        ] == [("pdf", "https://example.com/d3.pdf")]


class TestWalkFuzz:
    def test_roundtrip_arbitrary_payload_bytes(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        payload = st.binary(max_size=400)
        adversarial = st.sampled_from(
            [b"WARC/1.0", b"\r\n\r\n", b"Content-Length: 0\r\n\r\n",
             b"\x00\xff", b""]
        )
        parts = st.lists(st.one_of(payload, adversarial), max_size=6)

        @settings(max_examples=200, deadline=None)
        @given(st.lists(parts, min_size=1, max_size=5))
        def check(docs):
            bodies = [b"".join(p) for p in docs]
            blob = b"".join(
                _rec(f"https://f/{i}", b) for i, b in enumerate(bodies)
            )
            got = [r[:3] for r in _walk_records(blob) if r is not None]
            assert got == [
                (f"https://f/{i}", b, "response")
                for i, b in enumerate(bodies)
            ]

        check()


def _typed_rec(uri: str, body: bytes, rtype: str) -> bytes:
    hdr = (
        b"WARC/1.0\r\n"
        b"WARC-Type: " + rtype.encode() + b"\r\n"
        b"WARC-Target-URI: " + uri.encode() + b"\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
    )
    return hdr + body + b"\r\n\r\n"


class TestRealArchiveShapes:
    def test_only_response_records_become_docs(self, spark):
        from web_content_extractor_spark.sources.warc import warc_docs

        uri = "https://example.com/"
        blob = (
            _typed_rec("", b"warcinfo body", "warcinfo")
            + _typed_rec(uri, b"GET / HTTP/1.1\r\nHost: x\r\n\r\n", "request")
            + _typed_rec(uri, b"<html>page</html>", "response")
            + _typed_rec(uri, b"fetch metadata", "metadata")
        )
        blobs = spark.createDataFrame(
            [(1, bytearray(blob))], "blob_id long, blob binary"
        )
        from web_content_extractor_spark.sources.warc import (
            parse_warc_records,
        )

        docs = warc_docs(parse_warc_records(blobs)).collect()
        assert len(docs) == 1
        assert docs[0].spans[0].text == "<html>page</html>"

    def test_http_message_payload_stripped_to_body(self, spark):
        from web_content_extractor_spark.sources.warc import (
            parse_warc_records,
            warc_docs,
        )

        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            b"<html>real body\r\n\r\nwith a blank line</html>"
        )
        blob = _typed_rec("https://a/", http, "response")
        blobs = spark.createDataFrame(
            [(1, bytearray(blob))], "blob_id long, blob binary"
        )
        docs = warc_docs(parse_warc_records(blobs)).collect()
        assert docs[0].spans[0].text == (
            "<html>real body\r\n\r\nwith a blank line</html>"
        )

    def test_corrupt_gzip_member_salvages_prefix(self, spark):
        import gzip

        from web_content_extractor_spark.sources.warc import (
            parse_warc_records,
        )

        good = gzip.compress(_rec("https://g/1", b"ok one")) + gzip.compress(
            _rec("https://g/2", b"ok two")
        )
        # cut INSIDE the deflate data (half the member) so the third
        # record genuinely cannot decode — trailer-only cuts still
        # inflate fully and are legitimately salvaged whole
        member3 = gzip.compress(_rec("https://g/3", b"lost" * 200))
        truncated = member3[: len(member3) // 2]
        blobs = spark.createDataFrame(
            [(1, bytearray(good + truncated))], "blob_id long, blob binary"
        )
        got = parse_warc_records(blobs).collect()
        assert {r.target_uri for r in got} == {"https://g/1", "https://g/2"}

    def test_null_text_record_does_not_erase_blob(self, spark):
        from pyspark.sql import functions as F

        from web_content_extractor_spark.sources.warc import (
            parse_warc_records,
            warc_blob_per_group,
        )

        d = spark.createDataFrame(
            [(1, "alive"), (2, None), (3, "also alive")],
            "doc_id long, text string",
        )
        blobs = warc_blob_per_group(
            d, F.col("doc_id").cast("string"), F.col("text"), F.lit(0)
        )
        got = parse_warc_records(blobs).collect()
        assert {r.target_uri for r in got} == {"1", "3"}


def test_read_warc_skips_tmp_sidecars(spark, tmp_path):
    (tmp_path / "done.warc").write_bytes(_rec("https://d/1", b"done"))
    # a VALID record under a .tmp name: if the glob let it through, a
    # second row would prove it
    (tmp_path / "inflight.tmp").write_bytes(_rec("https://d/2", b"half"))
    (tmp_path / "_SUCCESS").write_bytes(b"")
    got = read_warc(spark, str(tmp_path)).collect()
    assert [r.target_uri for r in got] == ["https://d/1"]


class TestCdxIndex:
    def test_surt_key_shapes(self, spark):
        from web_content_extractor_spark.sources.warc import surt_key

        df = spark.createDataFrame(
            [
                ("https://www.example.com/a/b?q=1",),
                ("http://sub.site.org",),
                ("not a url",),
            ],
            "url string",
        ).select(surt_key(F.col("url")).alias("k"))
        assert [r.k for r in df.collect()] == [
            "com,example)/a/b?q=1",
            "org,site,sub)",
            None,
        ]

    def test_index_offsets_seek_to_records(self, spark):
        from web_content_extractor_spark.sources.warc import (
            parse_warc_records,
            warc_cdx,
        )

        recs = [
            _rec("https://b.com/x", b"payload one"),
            _rec("https://a.com/y", b"payload two longer"),
        ]
        blob = b"".join(recs)
        blobs = spark.createDataFrame(
            [(7, bytearray(blob))], "blob_id long, blob binary"
        )
        idx = warc_cdx(parse_warc_records(blobs)).orderBy("urlkey").collect()
        assert [r.urlkey for r in idx] == ["com,a)/y", "com,b)/x"]
        # seeking with (offset, bytes) recovers the exact record bytes
        for r in idx:
            sliced = blob[r.rec_offset:r.rec_offset + r.rec_bytes]
            assert sliced in recs


def test_jobs_cdx_output(spark, tmp_path):
    from web_content_extractor_spark.jobs import main

    (tmp_path / "c.warc").write_bytes(
        _rec("https://www.example.com/p1", b"<html><p>x</p></html>")
        + _rec("https://other.org/p2", b"<html><p>y</p></html>")
    )
    out, cdx = str(tmp_path / "spans"), str(tmp_path / "cdx")
    rc = main(
        [
            "extract",
            "--input", str(tmp_path / "c.warc"),
            "--input-format", "warc",
            "--output", out,
            "--cdx-output", cdx,
        ]
    )
    assert rc == 0
    idx = spark.read.parquet(cdx).orderBy("urlkey").collect()
    assert [r.urlkey for r in idx] == ["com,example)/p1", "org,other)/p2"]
    assert idx[0].rec_offset == 0 and idx[1].rec_offset > 0
    assert spark.read.parquet(out).count() == 2


def test_cdx_requires_warc_format(tmp_path):
    from web_content_extractor_spark.jobs import main

    rc = main(
        ["extract", "--input", str(tmp_path), "--output", str(tmp_path / "o"),
         "--cdx-output", str(tmp_path / "c")]
    )
    assert rc == 2


def test_cdx_addr_modes_and_member_range_access(spark):
    # the CDX contract per storage layout: plain .warc -> file offsets;
    # per-record-gzipped .warc.gz (Common Crawl) -> COMPRESSED member
    # offset + length, verified by actually range-slicing the stored
    # blob and gunzipping the member; whole-file gzip -> 'inflated'
    import gzip

    from web_content_extractor_spark.sources.warc import (
        parse_warc_records,
        warc_cdx,
    )

    r1 = _rec("https://a.example.com/1", b"<p>one</p>")
    r2 = _rec("https://a.example.com/2", b"<p>two-longer</p>")
    plain = r1 + r2
    per_record = gzip.compress(r1, mtime=0) + gzip.compress(r2, mtime=0)
    whole = gzip.compress(plain, mtime=0)
    blobs = spark.createDataFrame(
        [(1, plain), (2, per_record), (3, whole)], "blob_id long, blob binary"
    )
    idx = warc_cdx(parse_warc_records(blobs)).collect()
    by = {}
    for r in idx:
        by.setdefault(r.blob_id, []).append(r)
    stored = {1: plain, 2: per_record, 3: whole}
    recs = {"https://a.example.com/1": r1, "https://a.example.com/2": r2}

    assert {r.addr_mode for r in by[1]} == {"file"}
    for r in sorted(by[1], key=lambda r: r.rec_offset):
        # file offsets: seek + read reproduces the record bytes
        assert stored[1][r.rec_offset:r.rec_offset + r.rec_bytes] == recs[r.target_uri]

    assert {r.addr_mode for r in by[2]} == {"gzip-member"}
    for r in by[2]:
        # compressed member extent: byte-range fetch + gunzip the member
        member = stored[2][r.rec_offset:r.rec_offset + r.rec_bytes]
        assert gzip.decompress(member) == recs[r.target_uri]

    assert {r.addr_mode for r in by[3]} == {"inflated"}
    for r in by[3]:
        assert plain[r.rec_offset:r.rec_offset + r.rec_bytes] == recs[r.target_uri]
