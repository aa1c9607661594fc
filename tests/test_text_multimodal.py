"""Text-analysis functions + multimodal plumbing tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from web_content_extractor_spark.functions import text_quality as tq
from web_content_extractor_spark.operators import multimodal


def test_token_counts(spark):
    df = spark.createDataFrame(
        [("a b  c",), ("",), ("  ",), ("one",)], "text string"
    )
    got = df.select(
        tq.token_count(F.col("text")).alias("n"),
        tq.subword_count(F.col("text")).alias("s"),
    ).collect()
    assert [r.n for r in got] == [3, 0, 0, 1]
    assert got[0].s == 3


def test_subword_count_splits_punct(spark):
    df = spark.createDataFrame([("don't stop, v2.0!",)], "text string")
    # don + ' + t + stop + , + v + 2 + . + 0 + !
    assert df.select(tq.subword_count(F.col("text")).alias("s")).first().s == 10


def test_stopword_and_punct_ratio(spark):
    df = spark.createDataFrame([("the cat and the hat!!!",)], "text string")
    r = df.select(
        tq.stopword_ratio(F.col("text")).alias("sw"),
        tq.punct_ratio(F.col("text")).alias("p"),
    ).first()
    assert abs(r.sw - 3 / 5) < 1e-9
    assert r.p == pytest.approx(3 / 22)


def test_detect_lang(spark):
    df = spark.createDataFrame(
        [
            ("the dog is in the house and it is big",),
            ("el perro es grande y no se ve en la casa",),
            ("der hund ist von den nicht zu mit das und",),
            ("xyzzy plugh qwop",),
        ],
        "text string",
    )
    got = [r.l for r in df.select(tq.detect_lang(F.col("text")).alias("l")).collect()]
    assert got == ["en", "es", "de", "und"]


def test_quality_score_bounds_and_monotonicity(spark):
    df = spark.createDataFrame(
        [
            ("the and of to in is it that for on " * 20,),  # rich
            ("!!! ??? ### $$$ %%%",),  # noise
            ("",),
        ],
        "text string",
    )
    got = [
        r.q for r in df.select(tq.quality_score(F.col("text")).alias("q")).collect()
    ]
    assert 0.0 <= got[2] <= got[1] < got[0] <= 100.0


def test_fingerprint_normalizes(spark):
    df = spark.createDataFrame(
        [("Hello  World",), ("hello world",), ("hello worlds",)], "text string"
    )
    fps = [r.f for r in df.select(tq.fingerprint(F.col("text")).alias("f")).collect()]
    assert fps[0] == fps[1] != fps[2]


def test_repetition_signals(spark):
    df = spark.createDataFrame(
        [
            ("unique words only here",),       # no repeats
            ("spam spam spam spam",),          # all repeats
            ("",),                             # empty-safe
        ],
        "text string",
    )
    fr = [
        r.f
        for r in df.select(tq.dup_word_fraction(F.col("text")).alias("f")).collect()
    ]
    assert fr[0] == 0.0 and fr[2] == 0.0
    assert abs(fr[1] - 0.75) < 1e-9  # 4 tokens, 1 distinct
    grams = df.select(tq.word_ngrams_all(F.col("text"), 2).alias("g")).collect()
    assert grams[0].g == ["unique words", "words only", "only here"]
    assert grams[1].g == ["spam spam"] * 3
    assert grams[2].g == []


def test_winnow_fingerprints_guarantee(spark):
    # winnowing guarantee (Schleimer et al.): any shared substring of
    # length >= window + k - 1 (here 8) produces at least one shared
    # fp_hash, robust to the substring's position in the document
    shared = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [
            ("d1", f"AAAA {shared} BBBB"),
            ("d2", f"completely different prefix {shared}"),
            ("d3", "nothing in common with the others at all zzz"),
        ],
        "doc_id string, text string",
    )
    fps = tq.winnow_fingerprints(df).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp_hash)
    assert len(by_doc["d1"] & by_doc["d2"]) >= 1
    # deterministic across runs
    again = tq.winnow_fingerprints(df).collect()
    assert {(r.doc_id, r.fp_pos, r.fp_hash) for r in again} == {
        (r.doc_id, r.fp_pos, r.fp_hash) for r in fps
    }
    # overlap similarity ranks the true pair first
    sim_12 = len(by_doc["d1"] & by_doc["d2"])
    sim_13 = len(by_doc["d1"] & by_doc["d3"])
    assert sim_12 > sim_13


def test_text_functions_on_real_documents(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    res = docs.select(
        tq.token_count(F.col("text")).alias("n"),
        tq.quality_score(F.col("text")).alias("q"),
        tq.detect_lang(F.col("text")).alias("l"),
        tq.fingerprint(F.col("text")).alias("f"),
    )
    agg = res.agg(
        F.min("n").alias("mn"),
        F.max("q").alias("mq"),
        F.count(F.when(F.col("l") == "und", 1)).alias("und"),
        F.countDistinct("f").alias("nf"),
    ).first()
    assert agg.mn >= 0 and 0 <= agg.mq <= 100
    assert agg.nf > 0


# --- multimodal plumbing -------------------------------------------------


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        ("m1", "d1", "image", "image/png", b"\x89PNG-fake-bytes-1",
         {"width": 100, "height": 50, "duration_ms": None, "n_bytes": 17}),
        ("m2", "d1", "image", "image/jpeg", b"\xff\xd8-fake-2",
         {"width": 10, "height": 10, "duration_ms": None, "n_bytes": 9}),
        ("m3", "d2", "video", "video/mp4", b"fake-video",
         {"width": 640, "height": 480, "duration_ms": 3500, "n_bytes": 10}),
        ("m4", "d3", "image", "image/png", None,
         {"width": None, "height": None, "duration_ms": None, "n_bytes": 0}),
    ]
    return spark.createDataFrame(rows, schema=multimodal.MEDIA)


def test_image_features_schema_and_determinism(spark, media_df):
    f1 = multimodal.extract_image_features(media_df).collect()
    f2 = multimodal.extract_image_features(media_df).collect()
    by_id = {r.media_id: r for r in f1}
    assert set(by_id) == {"m1", "m2", "m3", "m4"}
    assert by_id["m1"].n_bytes == 17
    assert len(by_id["m1"].features) == 8
    assert all(0.0 <= v <= 1.0 for v in by_id["m1"].features)
    # deterministic across runs
    assert {r.media_id: r.content_hash for r in f1} == {
        r.media_id: r.content_hash for r in f2
    }
    # null payload handled
    assert by_id["m4"].n_bytes == 0


def _tiny_png(w=4, h=3, color=(10, 200, 30), filt=0):
    """Hand-built 8-bit RGB PNG (stdlib only) with a chosen row filter."""
    import struct
    import zlib

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    row = bytes(color) * w
    if filt == 0:
        raw = b"".join(b"\x00" + row for _ in range(h))
    elif filt == 2:  # Up: first row None, rest all-zero deltas
        raw = b"\x00" + row + b"".join(
            b"\x02" + b"\x00" * (w * 3) for _ in range(h - 1)
        )
    else:  # Sub: per-row, first pixel literal then zero deltas
        raw = b"".join(
            b"\x01" + bytes(color) + b"\x00" * ((w - 1) * 3) for _ in range(h)
        )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("filt", [0, 1, 2])
def test_png_decode_kernel(filt):
    img = multimodal._decode_png(_tiny_png(filt=filt))
    assert img is not None and img.shape == (3, 4, 3)
    assert (img[..., 0] == 10).all() and (img[..., 1] == 200).all()
    assert multimodal._decode_png(b"not a png") is None


def test_image_features_real_path(spark):
    media = spark.createDataFrame(
        [
            ("m1", "d1", "image", "image/png", _tiny_png(), (4, 3, None, 0)),
            ("m2", "d2", "image", "image/jpeg", b"\xff\xd8 not decodable",
             (None, None, None, 0)),
        ],
        "media_id string, doc_id string, media_type string, mime string, "
        "payload binary, meta struct<width:int,height:int,duration_ms:int,n_bytes:bigint>",
    )
    rows = {r.media_id: r for r in multimodal.extract_image_features(
        media
    ).collect()}
    real = rows["m1"]
    # real decode: green-dominant means, thumb capped at actual size
    assert abs(real.features[6] - 200 / 255) < 1e-6  # mean green
    assert abs(real.features[5] - 10 / 255) < 1e-6   # mean red
    assert (real.thumb_w, real.thumb_h) == (4, 3)
    # undecodable payload falls back to the deterministic fake
    fake = rows["m2"]
    expected = multimodal._fake_features(b"\xff\xd8 not decodable")
    assert all(  # features column is float32; compare at that precision
        abs(a - b) < 1e-6 for a, b in zip(fake.features, expected)
    )


def _tiny_y4m(w=4, h=2, fps=(25, 1), n_frames=5, colorspace="420"):
    """Hand-built YUV4MPEG2 stream (stdlib only): returns (payload,
    frame_bytes_list)."""
    header = f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 C{colorspace}jpeg"
    if colorspace == "mono":
        header = f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Cmono"
        fb = w * h
    else:
        fb = w * h + 2 * (w // 2) * (h // 2)
    frames = [bytes((i * 7 + j) % 256 for j in range(fb)) for i in range(n_frames)]
    payload = header.encode() + b"\n"
    for fr in frames:
        payload += b"FRAME\n" + fr
    return payload, frames


def _tiny_avi(w=2, h=2, us_per_frame=40000, n_frames=2):
    """Hand-built BI_RGB AVI (stdlib only): (payload, frame_bytes_list)."""
    import struct

    def chunk(cid, data):
        return (
            cid + struct.pack("<I", len(data)) + data
            + (b"\x00" if len(data) % 2 else b"")
        )

    avih = struct.pack(
        "<10I", us_per_frame, 0, 0, 0, n_frames, 0, 1, 0, w, h
    ) + b"\x00" * 16
    # BITMAPINFOHEADER with biCompression=0 (BI_RGB) at offset 16
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, w * h * 3, 0, 0, 0, 0)
    hdrl = b"hdrl" + chunk(b"avih", avih) + chunk(b"strf", strf)
    fb = w * h * 3
    frames = [bytes((i * 11 + j) % 256 for j in range(fb)) for i in range(n_frames)]
    movi = b"movi" + b"".join(chunk(b"00db", fr) for fr in frames)
    body = b"AVI " + chunk(b"LIST", hdrl) + chunk(b"LIST", movi)
    return b"RIFF" + struct.pack("<I", len(body)) + body, frames


def test_video_y4m_real_decode_golden(spark):
    import hashlib

    payload, frames = _tiny_y4m()  # 25 fps -> frame ts 0,40,80,120,160
    media = spark.createDataFrame(
        [("v1", "d1", "video", "video/x-y4m", payload,
          {"width": 4, "height": 2, "duration_ms": 200, "n_bytes": len(payload)})],
        schema=multimodal.MEDIA,
    )
    rows = multimodal.sample_frames(media, every_ms=100).collect()
    # cadence 100 ms: first frame at-or-after 0 (ts 0) and 100 (ts 120)
    got = sorted((r.frame_ts_ms, r.frame_hash) for r in rows)
    want = [
        (0, hashlib.sha256(frames[0]).hexdigest()),
        (120, hashlib.sha256(frames[3]).hexdigest()),
    ]
    assert got == want


def test_video_avi_real_decode_golden(spark):
    import hashlib

    payload, frames = _tiny_avi()  # 40000 us/frame -> ts 0, 40
    media = spark.createDataFrame(
        [("v2", "d1", "video", "video/avi", payload,
          {"width": 2, "height": 2, "duration_ms": 80, "n_bytes": len(payload)})],
        schema=multimodal.MEDIA,
    )
    rows = multimodal.sample_frames(media, every_ms=40).collect()
    got = sorted((r.frame_ts_ms, r.frame_hash) for r in rows)
    want = [(i * 40, hashlib.sha256(fr).hexdigest()) for i, fr in enumerate(frames)]
    assert got == want


def test_video_unsupported_codec_falls_back(spark, media_df):
    # a compressed/unknown payload must fall back to the deterministic
    # synthesis (drop-not-fail, like the image branch): one row per
    # cadence point, hashed on (payload, ts)
    import hashlib

    vid = media_df.where("media_type = 'video'")
    rows = multimodal.sample_frames(vid).collect()
    want = [
        ("m3", "d2", ts,
         hashlib.sha256(b"fake-video" + ts.to_bytes(8, "little")).hexdigest())
        for ts in (0, 1000, 2000, 3000)  # 3500 ms at 1000 ms cadence
    ]
    assert sorted(map(tuple, rows)) == want


def test_y4m_decoder_robustness():
    # truncated tail frame is dropped, garbage returns None
    payload, frames = _tiny_y4m(n_frames=3)
    w, h, num, den, out = multimodal._decode_y4m(payload[:-3])
    assert out == frames[:2]
    assert multimodal._decode_y4m(b"garbage") is None
    assert multimodal._decode_y4m(b"") is None
    assert multimodal._decode_avi_rgb(b"RIFF\x00\x00\x00\x00WAVE") is None
    # mono colorspace sizing
    p2, f2 = _tiny_y4m(colorspace="mono")
    assert multimodal._decode_y4m(p2)[4] == f2


def test_frame_sampling_fanout(spark, media_df):
    frames = multimodal.sample_frames(
        media_df.where("media_type = 'video'"), every_ms=1000
    ).collect()
    # 3500 ms at 1000 ms cadence -> ts 0,1000,2000,3000
    assert [r.frame_ts_ms for r in sorted(frames, key=lambda r: r.frame_ts_ms)] == [
        0,
        1000,
        2000,
        3000,
    ]
    assert len({r.frame_hash for r in frames}) == 4


def test_pdf_layout_branch(spark):
    import pytest
    from pyspark.sql import functions as F
    from web_content_extractor_spark.operators.multimodal import (
        _parse_pdf_real,
        parse_pdf_layout,
    )

    media = spark.createDataFrame(
        [("m1", "d1", "pdf", "application/pdf", b"fake pdf bytes",
          (None, None, None, 14))],
        "media_id string, doc_id string, media_type string, mime string, "
        "payload binary, meta struct<width:int,height:int,duration_ms:int,n_bytes:bigint>",
    )
    rows = parse_pdf_layout(media).orderBy("block_idx").collect()
    assert [r.kind for r in rows] == ["heading", "paragraph"]
    assert rows[0].page == 0 and len(rows[0].text) == 16
    # deterministic across runs
    again = parse_pdf_layout(media).orderBy("block_idx").collect()
    assert [r.text for r in rows] == [r.text for r in again]
    # non-PDF payloads are unparseable -> None (drop-not-fail)
    assert _parse_pdf_real(b"x") is None


def _tiny_pdf(compress: bool) -> bytes:
    """Hand-built single-page PDF: one 18pt heading + one 11pt paragraph."""
    import zlib

    content = (
        b"BT /F1 18 Tf 72 720 Td (Quarterly Report) Tj ET\n"
        b"BT /F1 11 Tf 72 680 Td [(Revenue grew ) (12\\% \\(YoY\\)).] TJ ET\n"
    )
    filt = b""
    if compress:
        content = zlib.compress(content)
        filt = b"/Filter /FlateDecode "
    stream_obj = (
        b"4 0 obj\n<< " + filt + b"/Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"endstream\nendobj\n"
    )
    return (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        + stream_obj
        + b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    )


@pytest.mark.parametrize("compress", [False, True])
def test_pdf_real_decode_kernel(compress):
    # the real-decode slot actually decodes PDF bytes (pure Python +
    # stdlib zlib): heading/paragraph split by font size, text
    # unescaping, per-stream paging
    from web_content_extractor_spark.operators.multimodal import _parse_pdf_real

    blocks = _parse_pdf_real(_tiny_pdf(compress))
    assert blocks is not None
    kinds = [(b[2], b[3]) for b in blocks]
    assert kinds == [
        ("heading", "Quarterly Report"),
        ("paragraph", "Revenue grew 12\\% (YoY)".replace("\\%", "%")),
    ]
    # positions came from the Td operators
    assert blocks[0][4:6] == (72.0, 720.0) and blocks[1][4:6] == (72.0, 680.0)
    assert all(b[0] == 0 for b in blocks)  # one content stream -> one page


def test_pdf_layout_real_path_end_to_end(spark):
    # the real kernel runs through the full Arrow/mapInPandas
    # plumbing; non-PDF payloads fall back to the deterministic fake
    # in the same batch
    from web_content_extractor_spark.operators.multimodal import parse_pdf_layout

    media = spark.createDataFrame(
        [
            ("m1", "d1", "pdf", "application/pdf", _tiny_pdf(True),
             (None, None, None, 14)),
            ("m2", "d2", "pdf", "application/pdf", b"not a pdf",
             (None, None, None, 9)),
        ],
        "media_id string, doc_id string, media_type string, mime string, "
        "payload binary, meta struct<width:int,height:int,duration_ms:int,n_bytes:bigint>",
    )
    rows = parse_pdf_layout(media).collect()
    real = sorted(
        [r for r in rows if r.media_id == "m1"], key=lambda r: r.block_idx
    )
    assert [r.text for r in real] == ["Quarterly Report", "Revenue grew 12% (YoY)"]
    assert [r.kind for r in real] == ["heading", "paragraph"]
    # fallback rows for the unparseable payload still have the fake shape
    fake = [r for r in rows if r.media_id == "m2"]
    assert [r.kind for r in sorted(fake, key=lambda r: r.block_idx)] == [
        "heading",
        "paragraph",
    ]


def test_resize_images_nearest_neighbor(spark):
    """Real downsample: a 4x2 image with distinct pixel columns resized
    to 2x1 must pick the nearest-neighbor pixels at column centers."""
    from web_content_extractor_spark.operators.multimodal import resize_images

    # 4x2 PNG where each column x has color (x*60, 0, 0)
    import struct, zlib

    w, h = 4, 2
    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )
    raw = b""
    for _y in range(h):
        raw += b"\x00" + b"".join(
            bytes((x * 60, 0, 0)) for x in range(w)
        )
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    media = spark.createDataFrame(
        [("m1", "d1", bytearray(png)), ("m2", "d2", bytearray(b"junk"))],
        "media_id: string, doc_id: string, payload: binary",
    )
    rows = {r.media_id: r for r in resize_images(media, size=(2, 1)).collect()}
    r1 = rows["m1"]
    assert (r1.src_w, r1.src_h, r1.thumb_w, r1.thumb_h) == (4, 2, 2, 1)
    assert r1.decoded
    # centers at x=1 and x=3 -> colors 60 and 180; row center y=1
    assert bytes(r1.thumb) == bytes((60, 0, 0, 180, 0, 0))
    r2 = rows["m2"]
    assert not r2.decoded and (r2.thumb_w, r2.thumb_h) == (1, 1)
    assert len(bytes(r2.thumb)) == 3


# ---------------------------------------------------------------------------
# BMP decode (second real image format)
# ---------------------------------------------------------------------------


def _make_bmp(pixels, top_down=False, bpp=24):
    """pixels: list of rows (top-to-bottom), each row list of (r,g,b)."""
    import struct

    h, w = len(pixels), len(pixels[0])
    nch = bpp // 8
    stride = (nch * w + 3) // 4 * 4
    raw = bytearray()
    rows = pixels if top_down else pixels[::-1]
    for row in rows:
        line = bytearray()
        for (r, g, b) in row:
            line += bytes([b, g, r] + ([255] if nch == 4 else []))
        line += b"\x00" * (stride - len(line))
        raw += line
    data_off = 14 + 40
    size = data_off + len(raw)
    hdr = struct.pack("<2sIHHI", b"BM", size, 0, 0, data_off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, (-h if top_down else h), 1, bpp,
        0, len(raw), 2835, 2835, 0, 0,
    )
    return bytes(hdr + info + raw)


def test_bmp_decode_bottom_up_and_top_down():
    from web_content_extractor_spark.operators.multimodal import _decode_bmp

    px = [
        [(255, 0, 0), (0, 255, 0), (0, 0, 255)],
        [(10, 20, 30), (40, 50, 60), (70, 80, 90)],
    ]
    for td in (False, True):
        img = _decode_bmp(_make_bmp(px, top_down=td))
        assert img.shape == (2, 3, 3)
        assert img[0, 0].tolist() == [255, 0, 0]
        assert img[1, 2].tolist() == [70, 80, 90]


def test_bmp_decode_32bpp_and_rejects():
    from web_content_extractor_spark.operators.multimodal import _decode_bmp

    px = [[(1, 2, 3), (4, 5, 6)]]
    img = _decode_bmp(_make_bmp(px, bpp=32))
    assert img.shape == (1, 2, 3) and img[0, 1].tolist() == [4, 5, 6]
    good = _make_bmp(px)
    assert _decode_bmp(good[:30]) is None           # truncated header
    assert _decode_bmp(good[:-3]) is None           # truncated pixels
    assert _decode_bmp(b"XX" + good[2:]) is None    # bad magic


def test_bmp_feeds_real_image_features():
    from web_content_extractor_spark.operators.multimodal import (
        _real_image_features,
    )

    # uniform mid-gray 4x2 -> mean_lum 128/255, std 0
    px = [[(128, 128, 128)] * 4 for _ in range(2)]
    out = _real_image_features(_make_bmp(px))
    assert out is not None
    w, h, feats = out
    assert (w, h) == (4, 2)
    assert abs(feats[3] - 128 / 255) < 1e-9 and feats[4] == 0.0


# ---------------------------------------------------------------------------
# GIF decode (third real image format; real LZW)
# ---------------------------------------------------------------------------


def _pack_codes(codes, width):
    """LSB-first GIF bit packing at a fixed code width."""
    acc = bits = 0
    out = bytearray()
    for c in codes:
        acc |= c << bits
        bits += width
        while bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            bits -= 8
    if bits:
        out.append(acc & 0xFF)
    return bytes(out)


def _make_gif(w, h, indices, palette, codes=None, mcs=2):
    """Build a GIF89a; default stream emits CLEAR before every pixel
    code (valid LZW that never grows the dictionary)."""
    import struct

    clear, end = 1 << mcs, (1 << mcs) + 1
    if codes is None:
        codes = []
        for i in indices:
            codes += [clear, i]
        codes.append(end)
    data = _pack_codes(codes, mcs + 1)
    gct = bytearray()
    for (r, g, b) in palette:
        gct += bytes([r, g, b])
    while len(gct) < 3 * (1 << mcs):
        gct += b"\x00\x00\x00"
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (mcs - 1), 0, 0)
    out += gct
    out += b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out += bytes([mcs])
    out += bytes([len(data)]) + data + b"\x00"
    out += b"\x3B"
    return bytes(out)


def test_gif_decode_palette_pixels():
    from web_content_extractor_spark.operators.multimodal import _decode_gif

    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
    img = _decode_gif(_make_gif(2, 2, [0, 1, 2, 3], pal))
    assert img.shape == (2, 2, 3)
    assert img[0, 0].tolist() == [255, 0, 0]
    assert img[0, 1].tolist() == [0, 255, 0]
    assert img[1, 0].tolist() == [0, 0, 255]
    assert img[1, 1].tolist() == [9, 9, 9]


def test_gif_lzw_dictionary_growth():
    from web_content_extractor_spark.operators.multimodal import _decode_gif

    # mcs=2: clear=4 end=5, first dict code 6.  Stream CLEAR,0,1,6,END
    # decodes to [0,1,0,1] (code 6 = the just-created (0,1) entry).
    pal = [(10, 0, 0), (0, 20, 0), (0, 0, 0), (0, 0, 0)]
    img = _decode_gif(_make_gif(2, 2, None, pal, codes=[4, 0, 1, 6, 5]))
    assert img.shape == (2, 2, 3)
    assert img[0, 0].tolist() == [10, 0, 0]
    assert img[0, 1].tolist() == [0, 20, 0]
    assert img[1, 0].tolist() == [10, 0, 0]
    assert img[1, 1].tolist() == [0, 20, 0]


def test_gif_canonical_single_pixel_and_rejects():
    from web_content_extractor_spark.operators.multimodal import _decode_gif

    g = (b"GIF89a\x01\x00\x01\x00\x80\x00\x00\xff\xff\xff\x00\x00\x00!"
         b"\xf9\x04\x01\x00\x00\x00\x00,\x00\x00\x00\x00\x01\x00\x01\x00"
         b"\x00\x02\x02D\x01\x00;")
    img = _decode_gif(g)
    assert img.shape == (1, 1, 3) and img[0, 0].tolist() == [255, 255, 255]
    assert _decode_gif(g[:10]) is None
    assert _decode_gif(b"NOTGIF" + g[6:]) is None


def test_gif_feeds_real_image_features():
    from web_content_extractor_spark.operators.multimodal import (
        _real_image_features,
    )

    pal = [(128, 128, 128), (0, 0, 0), (0, 0, 0), (0, 0, 0)]
    out = _real_image_features(_make_gif(3, 2, [0] * 6, pal))
    assert out is not None
    w, h, feats = out
    assert (w, h) == (3, 2)
    assert abs(feats[3] - 128 / 255) < 1e-9


def test_resize_handles_bmp_and_gif_inputs(spark):
    from web_content_extractor_spark.operators.multimodal import (
        resize_images,
    )

    bmp = _make_bmp([[(200, 10, 10)] * 8 for _ in range(8)])
    pal = [(10, 200, 10), (0, 0, 0), (0, 0, 0), (0, 0, 0)]
    gif = _make_gif(8, 8, [0] * 64, pal)
    media = spark.createDataFrame(
        [("m1", "d1", bmp), ("m2", "d2", gif), ("m3", "d3", b"junk")],
        "media_id string, doc_id string, payload binary",
    )
    rows = {r.media_id: r for r in
            resize_images(media, size=(4, 4)).collect()}
    assert rows["m1"].decoded and (rows["m1"].src_w, rows["m1"].src_h) == (8, 8)
    assert rows["m1"].thumb_w == 4 and len(rows["m1"].thumb) == 4 * 4 * 3
    assert rows["m2"].decoded and rows["m2"].thumb[:3] == bytes([10, 200, 10])
    assert not rows["m3"].decoded  # junk falls back, row kept


def test_bmp_8bit_palette_decode():
    import struct

    from web_content_extractor_spark.operators.multimodal import _decode_bmp

    # 3x2 palettized: indices row0=[0,1,2], row1=[2,1,0]
    pal_rgb = [(255, 0, 0), (0, 255, 0), (0, 0, 255)]
    pal = b"".join(bytes([b, g, r, 0]) for (r, g, b) in pal_rgb)
    stride = 4  # 3 px padded to 4
    raw = bytes([2, 1, 0, 0]) + bytes([0, 1, 2, 0])  # bottom-up rows
    data_off = 14 + 40 + len(pal)
    hdr = struct.pack("<2sIHHI", b"BM", data_off + len(raw), 0, 0, data_off)
    info = struct.pack("<IiiHHIIiiII", 40, 3, 2, 1, 8, 0,
                       len(raw), 2835, 2835, 3, 0)
    img = _decode_bmp(hdr + info + pal + raw)
    assert img.shape == (2, 3, 3)
    assert img[0].tolist() == [[255, 0, 0], [0, 255, 0], [0, 0, 255]]
    assert img[1].tolist() == [[0, 0, 255], [0, 255, 0], [255, 0, 0]]
    # out-of-palette index is rejected, not misread
    bad = hdr + info + pal + bytes([9, 0, 0, 0, 0, 0, 0, 0])
    assert _decode_bmp(bad) is None


def test_png_adam7_interlaced_roundtrip():
    import struct
    import zlib

    import numpy as np

    from web_content_extractor_spark.operators.multimodal import (
        _ADAM7,
        _decode_png,
    )

    rng = np.random.default_rng(5)
    h, w, c = 9, 11, 3
    img = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    # encode: seven passes, filter type 0 rows
    raw = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        sub = img[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        for row in sub:
            raw += b"\x00" + row.tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)  # interlace=1
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    dec = _decode_png(png)
    assert dec is not None and dec.shape == (h, w, c)
    assert (dec == img).all()


def test_png_noninterlaced_still_decodes():
    import struct
    import zlib

    import numpy as np

    from web_content_extractor_spark.operators.multimodal import _decode_png

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    raw = b"".join(b"\x00" + row.tobytes() for row in img)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    dec = _decode_png(png)
    assert (dec == img).all()


def test_gif_local_palette_overrides_global():
    import struct

    from web_content_extractor_spark.operators.multimodal import _decode_gif

    # build by hand: GCT present (all white) but the image descriptor
    # carries its own LCT (red at index 0) — the LCT must win
    mcs = 2
    gct = b"\xff\xff\xff" * 4
    lct = b"\xc8\x00\x00" + b"\x00\x00\x00" * 3
    clear, end = 4, 5
    data = _pack_codes([clear, 0, end], mcs + 1)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", 1, 1, 0x80 | (mcs - 1), 0, 0)
    out += gct
    out += b"\x2C" + struct.pack("<HHHHB", 0, 0, 1, 1, 0x80 | (mcs - 1))
    out += lct
    out += bytes([mcs, len(data)]) + data + b"\x00\x3B"
    img = _decode_gif(bytes(out))
    assert img.shape == (1, 1, 3)
    assert img[0, 0].tolist() == [200, 0, 0]
