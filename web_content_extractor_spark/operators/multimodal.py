"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads ride as ``binary`` columns with a typed
metadata struct; decode / feature-extract / resize / frame-sample run
as Arrow-batched ``mapInPandas`` stages.  Five decode paths are REAL
pure-Python kernels exercised by tests: PNG (``_decode_png``: IDAT
inflate + all five scanline filters -> pixel features), BMP
(``_decode_bmp``), GIF (``_decode_gif``: real LZW), PDF layout
(``_parse_pdf_real`` below), and RIFF/WAVE PCM16 audio
(``_decode_wav``: chunk walker + int16 signal features, oracle-checked
end to end).  Video frame decode reads the uncompressed containers
(Y4M, BI_RGB AVI); compressed codecs need ffmpeg.  Every stage tries
the real decoder first, and an undecodable payload falls back to a
deterministic fake — drop-not-fail, mirroring the link pipeline.

On a real cluster you swap PIL/torchvision/ffmpeg into the decode
slots and nothing else changes — schemas, batch shapes, partitioning
and UDF signatures are identical.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), nullable=False),
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("mime", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                    T.StructField("n_bytes", T.LongType()),
                ]
            ),
        ),
    ]
)

IMAGE_FEATURES = T.StructType(
    [
        T.StructField("media_id", T.StringType(), nullable=False),
        T.StructField("doc_id", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_hash", T.StringType()),
        T.StructField("thumb_w", T.IntegerType()),
        T.StructField("thumb_h", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


# Y4M colorspace -> chroma plane size as a fraction of (w, h); frame
# bytes = w*h * (1 + 2 * cw*ch) for the planar layouts below
_Y4M_CHROMA = {
    "420": (0.5, 0.5),  # 420jpeg / 420mpeg2 / 420paldv all share sizing
    "422": (0.5, 1.0),
    "444": (1.0, 1.0),
    "mono": (0.0, 0.0),
}


def _decode_y4m(payload: bytes):
    """Pure-stdlib YUV4MPEG2 decoder: (w, h, fps_num, fps_den, frames).

    Y4M is the uncompressed interchange container (the output side of
    every ffmpeg rawvideo pipe), so it parses with byte arithmetic
    alone: a space-separated ASCII header line, then per frame a FRAME
    marker line followed by the raw planar YUV bytes.  Frames are
    returned as the raw plane bytes per frame (Y first — callers hash
    or feature them; layout is planar by construction).  Returns None
    for anything that is not Y4M (caller falls back).
    """
    if not payload or not payload.startswith(b"YUV4MPEG2"):
        return None
    try:
        nl = payload.index(b"\n")
        header = payload[:nl].decode("ascii", "replace").split(" ")
        w = h = 0
        num, den = 25, 1
        cs = "420"
        for p in header[1:]:
            if not p:
                continue
            if p[0] == "W":
                w = int(p[1:])
            elif p[0] == "H":
                h = int(p[1:])
            elif p[0] == "F":
                num, den = (int(x) for x in p[1:].split(":"))
            elif p[0] == "C":
                for key in _Y4M_CHROMA:
                    if p[1:].startswith(key):
                        cs = key
                        break
        if w <= 0 or h <= 0 or num <= 0 or den <= 0:
            return None
        cw, ch = _Y4M_CHROMA[cs]
        frame_bytes = w * h + 2 * int(w * cw) * int(h * ch)
        frames: list[bytes] = []
        pos = nl + 1
        n = len(payload)
        while pos < n:
            if not payload.startswith(b"FRAME", pos):
                return None  # corrupt frame marker: drop-not-fail
            fnl = payload.index(b"\n", pos)
            start = fnl + 1
            end = start + frame_bytes
            if end > n:
                break  # truncated tail frame: keep what fully decoded
            frames.append(payload[start:end])
            pos = end
        return (w, h, num, den, frames)
    except (ValueError, IndexError):
        return None


def _decode_avi_rgb(payload: bytes):
    """Pure-stdlib uncompressed-AVI (BI_RGB) decoder: same tuple shape
    as :func:`_decode_y4m`.

    Walks the RIFF chunk tree: 'avih' gives microseconds/frame and
    dimensions, and raw '##db'/'##dc' chunks inside the 'movi' list are
    the bottom-up BGR frame payloads.  Compressed codecs (biCompression
    != 0) return None — the deterministic fallback handles them.
    """
    import struct as _struct

    if (
        not payload
        or len(payload) < 12
        or payload[:4] != b"RIFF"
        or payload[8:12] != b"AVI "
    ):
        return None
    try:
        us_per_frame = w = h = 0
        compression_ok = True
        frames: list[bytes] = []

        def walk(start: int, end: int):
            nonlocal us_per_frame, w, h, compression_ok, frames
            pos = start
            while pos + 8 <= end:
                cid = payload[pos : pos + 4]
                (size,) = _struct.unpack_from("<I", payload, pos + 4)
                body, bend = pos + 8, pos + 8 + size
                if bend > end:
                    break
                if cid in (b"RIFF", b"LIST"):
                    walk(body + 4, bend)
                elif cid == b"avih" and size >= 40:
                    # AVIMAINHEADER: MicroSecPerFrame, MaxBytesPerSec,
                    # PaddingGranularity, Flags, TotalFrames,
                    # InitialFrames, Streams, SuggestedBufferSize,
                    # Width, Height
                    vals = _struct.unpack_from("<10I", payload, body)
                    us_per_frame = vals[0]
                    w, h = vals[8], vals[9]
                elif cid == b"strf" and size >= 20:
                    (comp,) = _struct.unpack_from("<I", payload, body + 16)
                    if comp != 0:  # not BI_RGB
                        compression_ok = False
                elif cid[2:4] in (b"db", b"dc") and size > 0:
                    frames.append(payload[body:bend])
                pos = bend + (size & 1)  # chunks are word-aligned

        walk(12, len(payload))
        if not compression_ok or w <= 0 or h <= 0 or not frames:
            return None
        # fps num:den from integer microseconds/frame
        num, den = (1_000_000, us_per_frame) if us_per_frame > 0 else (25, 1)
        return (w, h, num, den, frames)
    except (ValueError, IndexError, _struct.error):
        return None


def _decode_video_real(payload: bytes):
    """Real video decode: uncompressed containers parse with stdlib
    alone (Y4M from any ffmpeg rawvideo pipe; BI_RGB AVI).  Compressed
    codecs (h264 etc.) have no decoder in this environment and return
    None — callers keep the deterministic synthesis fallback, the same
    drop-not-fail contract as the image branch."""
    return _decode_y4m(payload) or _decode_avi_rgb(payload)


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel (8-bit depth, non-interlaced only)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _decode_png(payload: bytes):
    """Minimal pure-Python PNG decoder (stdlib zlib only).

    Real-decode slot for the image branch: parses IHDR/IDAT, inflates,
    and un-filters scanlines (all five PNG filter types) into an
    (h, w, channels) uint8 array.  Supports 8-bit gray / gray+alpha /
    RGB / RGBA, plain or Adam7-interlaced (seven independently
    filtered sub-images scattered back onto the canvas).
    Returns None for anything it can't decode (caller falls back to
    the deterministic fake — drop-not-fail).  Swap in PIL/torchvision
    for full coverage; schema and plumbing don't change.
    """
    import struct
    import zlib

    import numpy as np

    if not payload.startswith(_PNG_MAGIC):
        return None
    pos, n = 8, len(payload)
    width = height = None
    channels = 0
    adam7 = False
    idat = bytearray()
    try:
        while pos + 8 <= n:
            (length,), ctype = struct.unpack(">I", payload[pos : pos + 4]), payload[
                pos + 4 : pos + 8
            ]
            data = payload[pos + 8 : pos + 8 + length]
            pos += 12 + length  # length + type + data + crc
            if ctype == b"IHDR":
                width, height, depth, color, comp, filt, interlace = struct.unpack(
                    ">IIBBBBB", data
                )
                if depth != 8 or interlace > 1 or color not in _PNG_CHANNELS:
                    return None
                channels = _PNG_CHANNELS[color]
                adam7 = interlace == 1
            elif ctype == b"IDAT":
                idat += data
            elif ctype == b"IEND":
                break
        if not width or not height or not idat:
            return None
        raw = zlib.decompress(bytes(idat))
        if not adam7:
            img = _png_unfilter(raw, height, width * channels, channels)
            if img is None:
                return None
            return img.reshape(height, width, channels)
        # Adam7: seven sequential sub-images, each filtered on its own
        out = np.zeros((height, width, channels), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw == 0 or ph == 0:
                continue
            stride = pw * channels
            sub = _png_unfilter(raw[off : off + ph * (stride + 1)],
                                ph, stride, channels)
            if sub is None:
                return None
            off += ph * (stride + 1)
            out[y0::dy, x0::dx] = sub.reshape(ph, pw, channels)
        return out
    except Exception:
        return None


#: Adam7 pass origins and strides: (x0, y0, dx, dy)
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_unfilter(raw: bytes, height: int, stride: int, bpp: int):
    """Undo PNG scanline filtering over ``height`` rows of ``stride``
    bytes (one leading filter byte per row).  Returns (height, stride)
    uint8 or None on truncation/unknown filter."""
    import numpy as np

    if len(raw) < height * (stride + 1):
        return None
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        off = y * (stride + 1)
        ftype = raw[off]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=off + 1)
        if ftype == 0:  # None
            cur = line.copy()
        elif ftype == 2:  # Up
            cur = line + prev
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth: left-to-right
            cur = np.empty(stride, dtype=np.uint8)
            li = line.astype(np.int32)
            pv = prev.astype(np.int32)
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(pv[x])
                if ftype == 1:
                    val = li[x] + a
                elif ftype == 3:
                    val = li[x] + ((a + b) >> 1)
                else:
                    c = int(pv[x - bpp]) if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    val = li[x] + pred
                cur[x] = val & 0xFF
        else:
            return None
        out[y] = cur
        prev = cur
    return out


def _decode_bmp(payload: bytes):
    """Minimal pure-Python BMP decoder (uncompressed BI_RGB only).

    The second real image format next to PNG: BITMAPFILEHEADER +
    BITMAPINFOHEADER (or the V4/V5 supersets — width/height/bpp sit at
    the same offsets); 8-bit palettized, 24-bit BGR, or 32-bit BGRA
    pixel data with 4-byte row padding, bottom-up (positive height) or top-down (negative).
    Returns an (h, w, 3) uint8 RGB array, or None if undecodable.
    """
    import struct

    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        return None
    (data_off,) = struct.unpack_from("<I", payload, 10)
    (hdr_size,) = struct.unpack_from("<I", payload, 14)
    if hdr_size < 40:  # BITMAPCOREHEADER not supported
        return None
    w, h = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if compression != 0 or bpp not in (8, 24, 32) or w <= 0 or h == 0:
        return None
    top_down = h < 0
    h = abs(h)
    if bpp == 8:
        # palettized: BGRX color table sits between the info header and
        # the pixel data; indices are one byte per pixel, padded rows
        (n_colors,) = struct.unpack_from("<I", payload, 46)
        n_colors = n_colors or 256
        pal_off = 14 + hdr_size
        pal = np.frombuffer(
            payload[pal_off : pal_off + 4 * n_colors], dtype=np.uint8
        )
        if pal.size < 4 * n_colors:
            return None
        pal = pal.reshape(-1, 4)[:, 2::-1]  # BGRX -> RGB
        stride = (w + 3) // 4 * 4
        if data_off + stride * h > len(payload):
            return None
        idx = np.frombuffer(
            payload[data_off : data_off + stride * h], dtype=np.uint8
        ).reshape(h, stride)[:, :w]
        if int(idx.max()) >= n_colors:
            return None
        px = pal[idx]
        return (px if top_down else px[::-1]).copy()
    nch = bpp // 8
    stride = (nch * w + 3) // 4 * 4
    need = data_off + stride * h
    if need > len(payload):
        return None
    rows = np.frombuffer(
        payload[data_off : data_off + stride * h], dtype=np.uint8
    ).reshape(h, stride)
    px = rows[:, : nch * w].reshape(h, w, nch)
    if not top_down:
        px = px[::-1]
    return px[:, :, 2::-1].copy()  # BGR(A) -> RGB, drop alpha


def _decode_image(payload: bytes):
    """Format-sniffing dispatch over the real decoders: PNG, BMP, GIF.
    Returns an (h, w, c) uint8 array or None."""
    for dec in (_decode_png, _decode_bmp, _decode_gif):
        img = dec(payload)
        if img is not None:
            return img
    return None


def _real_image_features(payload: bytes, n: int = 8):
    """Decode (PNG or BMP) and extract real features; None if
    undecodable.

    Features: [w_norm, h_norm, aspect, mean_lum, std_lum, mean_r,
    mean_g, mean_b] — all in [0, 1]-ish ranges so downstream ANN can
    consume them next to fake-backend rows.
    """
    import numpy as np

    img = _decode_image(payload)
    if img is None or img.size == 0:
        return None
    h, w, c = img.shape
    px = img.astype(np.float64)
    if c == 1:
        rgb = np.repeat(px, 3, axis=2)
    elif c == 2:
        rgb = np.repeat(px[:, :, :1], 3, axis=2)
    else:
        rgb = px[:, :, :3]
    lum = rgb.mean(axis=2)
    feats = [
        min(w / 4096.0, 1.0),
        min(h / 4096.0, 1.0),
        min(w / max(h, 1) / 4.0, 1.0),
        float(lum.mean() / 255.0),
        float(lum.std() / 255.0),
        float(rgb[:, :, 0].mean() / 255.0),
        float(rgb[:, :, 1].mean() / 255.0),
        float(rgb[:, :, 2].mean() / 255.0),
    ]
    return (w, h, feats[:n])


def _fake_features(payload: bytes, n: int = 8) -> list[float]:
    """Deterministic fake 'embedding': byte-histogram moments.

    Stands in for a real feature extractor so the Spark-side batch
    shape / schema / partitioning can be exercised end to end.
    """
    if not payload:
        return [0.0] * n
    digest = hashlib.sha256(payload).digest()
    return [b / 255.0 for b in digest[:n]]


# thumbnail bound (w, h) of extract_image_features
THUMB = (32, 32)


def extract_image_features(media: DataFrame) -> DataFrame:
    """Arrow-batched decode + feature stage over binary payloads.

    One pass, no shuffle; the output schema is fixed (IMAGE_FEATURES).
    PNG, BMP and GIF payloads are really decoded; any other payload
    gets the deterministic fake features and the full thumbnail bound.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in IMAGE_FEATURES.fields]
        for pdf in batches:
            # column-wise traversal (zip of Series), not iterrows():
            # the per-payload hash is inherently per-row but row
            # materialization isn't — same style as the tokenizer batch
            out: dict[str, list] = {c: [] for c in cols}
            for media_id, doc_id, payload in zip(
                pdf["media_id"], pdf["doc_id"], pdf["payload"]
            ):
                payload = bytes(payload) if payload is not None else b""
                tw, th = THUMB
                try:
                    decoded = _real_image_features(payload)
                except Exception:
                    decoded = None  # drop-not-fail: fake fallback
                if decoded is None:
                    feats = _fake_features(payload)
                else:
                    w, h, feats = decoded
                    tw, th = min(THUMB[0], w), min(THUMB[1], h)
                out["media_id"].append(media_id)
                out["doc_id"].append(doc_id)
                out["n_bytes"].append(len(payload))
                out["content_hash"].append(hashlib.sha256(payload).hexdigest())
                out["thumb_w"].append(tw)
                out["thumb_h"].append(th)
                out["features"].append(feats)
            yield pd.DataFrame(out, columns=cols)

    return media.mapInPandas(run, schema=IMAGE_FEATURES)


IMAGE_HASH = T.StructType(
    [
        T.StructField("media_id", T.StringType(), nullable=False),
        T.StructField("doc_id", T.StringType()),
        T.StructField("phash", T.LongType()),
        T.StructField("decoded", T.BooleanType()),
    ]
)


def _average_hash_bits(img, hash_size: int = 8) -> int:
    """64-bit average hash (aHash) of a decoded (h, w, c) uint8 image:
    luma -> block-mean downsample to hash_size x hash_size -> one bit
    per cell (above/below the grid mean), LSB-first packing.  Python
    int result; caller views it as int64 two's complement.  hash_size
    is capped at 8: the hash is hash_size^2 bits and must fit the
    64-bit fingerprint (uint64 shifts >= 64 would silently zero the
    upper cells)."""
    import numpy as np

    if hash_size > 8:
        raise ValueError("hash_size > 8 overflows the 64-bit fingerprint")

    lum = img.astype(np.float64)
    lum = lum[:, :, :3].mean(axis=2) if lum.shape[2] >= 3 else lum[:, :, 0]

    def shrink(m, axis):
        n = m.shape[axis]
        if n >= hash_size:
            starts = (np.arange(hash_size) * n) // hash_size
            sums = np.add.reduceat(m, starts, axis=axis)
            counts = np.diff(np.append(starts, n))
            shape = [1, 1]
            shape[axis] = hash_size
            return sums / counts.reshape(shape)
        # image narrower than the grid: nearest-neighbor upsample
        return np.take(m, (np.arange(hash_size) * n) // hash_size, axis)

    grid = shrink(shrink(lum, 0), 1)
    bits = (grid > grid.mean()).ravel()
    packed = (
        bits.astype(np.uint64) << np.arange(bits.size, dtype=np.uint64)
    ).sum(dtype=np.uint64)
    return int(packed.view(np.int64))  # two's-complement into bigint


def average_hash(media: DataFrame, hash_size: int = 8) -> DataFrame:
    """Perceptual image fingerprints for corpus-scale image dedup:
    one Arrow-batched decode + aHash stage, no shuffle.

    Output (media_id, doc_id, phash bigint, decoded boolean) feeds
    straight into ``dedup_docs.hamming_near_duplicates`` — the same
    pigeonhole band join that serves SimHash text near-dup, so image
    near-dup costs one banding shuffle over 8-byte fingerprints no
    matter how large the payloads were.  Undecodable payloads get a
    deterministic full-dispersion 64-bit content hash (decoded=false):
    they still dedup exactly (identical bytes -> identical hash) but
    never land near genuine images by accident.
    """
    import numpy as np

    if hash_size > 8:  # fail at plan time, not per executor task
        raise ValueError("hash_size > 8 overflows the 64-bit fingerprint")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in IMAGE_HASH.fields]
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in cols}
            for media_id, doc_id, payload in zip(
                pdf["media_id"], pdf["doc_id"], pdf["payload"]
            ):
                payload = bytes(payload) if payload is not None else b""
                try:
                    img = _decode_image(payload)
                except Exception:
                    img = None  # drop-not-fail
                if img is not None and img.size:
                    phash = _average_hash_bits(img, hash_size)
                    decoded = True
                else:
                    digest = hashlib.blake2b(
                        payload, digest_size=8
                    ).digest()
                    phash = int(
                        np.frombuffer(digest, dtype=np.int64)[0]
                    )
                    decoded = False
                out["media_id"].append(media_id)
                out["doc_id"].append(doc_id)
                out["phash"].append(phash)
                out["decoded"].append(decoded)
            yield pd.DataFrame(out, columns=cols)

    return media.mapInPandas(run, schema=IMAGE_HASH)


def synth_bmp(seed: int, w: int = 16, h: int = 16, flip_pixels: int = 0) -> bytes:
    """Deterministic 24-bit BMP payload from a seed — the test-scale
    stand-in for real crawled images (the container has no codecs to
    re-encode anything real).  ``flip_pixels`` inverts the first n
    pixels of the seed's base image, planting a perceptual near-twin:
    same seed + small flip -> small aHash Hamming distance.  Pure
    stdlib; decodable by ``_decode_bmp``."""
    import struct

    n = w * h * 3
    stream = bytearray()
    counter = 0
    while len(stream) < n:
        stream += hashlib.blake2b(
            b"%d:%d" % (seed, counter), digest_size=64
        ).digest()
        counter += 1
    px = bytearray(stream[:n])
    for p in range(min(flip_pixels, w * h)):
        for ch in range(3):
            px[p * 3 + ch] ^= 0xFF
    return _pack_bmp24(px, w, h)


def synth_bmp_affine(seed: int, flip_pixels: int = 0) -> bytes:
    """Closed-form sibling of ``synth_bmp`` for oracle-checked image
    dedup, 16x16 px: pixel p (row-major in the DECODED orientation) is gray
    ``((2*seed+1) * (p+17) * 40503 + 97*seed) % 256`` on all three
    channels, so an external engine can recompute the decoded image —
    and hence the block-mean aHash — in pure integer SQL.  The
    seed-dependent multiplier varies the mod-256 wrap pattern per
    seed (a seed-independent slope would shift every image by a
    constant, which the mean-threshold aHash cancels, collapsing all
    fingerprints to one value).  ``flip_pixels`` inverts the first n
    pixels like ``synth_bmp``.  Still a real BMP: the Spark path
    exercises encode -> ``_decode_bmp`` -> ``_average_hash_bits``
    unchanged."""
    px = bytearray(16 * 16 * 3)
    for p in range(16 * 16):
        g = ((2 * seed + 1) * (p + 17) * 40503 + 97 * seed) % 256
        if p < flip_pixels:
            g ^= 0xFF
        px[3 * p] = px[3 * p + 1] = px[3 * p + 2] = g
    return _pack_bmp24(px, 16, 16)


def _pack_bmp24(px: bytearray, w: int, h: int) -> bytes:
    """Wrap raw row-major RGB bytes in a bottom-up 24-bit BI_RGB BMP."""
    import struct

    pad = (-(w * 3)) % 4
    rows = b"".join(
        bytes(px[y * w * 3 : (y + 1) * w * 3]) + b"\x00" * pad
        for y in range(h - 1, -1, -1)
    )
    data_off = 14 + 40
    size = data_off + len(rows)
    hdr = struct.pack("<2sIHHI", b"BM", size, 0, 0, data_off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 0, 0, 0, 0
    )
    return hdr + info + rows


PDF_LAYOUT = T.StructType(
    [
        T.StructField("media_id", T.StringType(), nullable=False),
        T.StructField("doc_id", T.StringType()),
        T.StructField("page", T.IntegerType()),
        T.StructField("block_idx", T.IntegerType()),
        T.StructField("kind", T.StringType()),  # heading | paragraph
        T.StructField("text", T.StringType()),
        T.StructField("x0", T.FloatType()),
        T.StructField("y0", T.FloatType()),
        T.StructField("x1", T.FloatType()),
        T.StructField("y1", T.FloatType()),
    ]
)


_PDF_STRING_ESCAPES = {
    b"n": b"\n",
    b"r": b"\r",
    b"t": b"\t",
    b"b": b"\b",
    b"f": b"\f",
    b"(": b"(",
    b")": b")",
    b"\\": b"\\",
}


def _pdf_unescape(raw: bytes) -> str:
    """Decode a PDF literal string body: backslash escapes + octal."""
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        c = raw[i : i + 1]
        if c == b"\\" and i + 1 < n:
            nxt = raw[i + 1 : i + 2]
            if nxt in b"01234567" and nxt:  # \8/\9 are NOT octal: fall through
                j = i + 1
                while j < min(i + 4, n) and raw[j : j + 1] in b"01234567":
                    j += 1
                out += bytes([int(raw[i + 1 : j], 8) & 0xFF])
                i = j
                continue
            out += _PDF_STRING_ESCAPES.get(nxt, nxt)
            i += 2
            continue
        out += c
        i += 1
    return out.decode("latin-1")


def _parse_pdf_real(payload: bytes) -> list[tuple] | None:
    """Pure-Python minimal PDF text/layout extractor (no native deps).

    Real-decode slot for the north-star PDF branch: handles the common
    single-generation PDF shape — content streams (raw or FlateDecode /
    zlib, stdlib), BT..ET text objects, ``(…) Tj`` / ``[(…)…] TJ`` show
    operators, ``Td``/``Tm`` positioning and ``Tf`` font size.  Blocks
    with font size >= 14 classify as ``heading``, else ``paragraph``
    (the same text-density-style split as the HTML branch).  Each
    content stream is one page.  Returns None when the payload is not
    parseable PDF (caller falls back to the deterministic fake), so
    non-PDF payloads keep drop-not-fail semantics.

    For full-fidelity production parsing swap in pdfminer/pymupdf — the
    schema and plumbing don't change.
    """
    import re
    import zlib

    if not payload.startswith(b"%PDF"):
        return None
    blocks: list[tuple] = []
    page = 0
    for m in re.finditer(
        rb"(<<.*?>>)\s*stream\r?\n(.*?)endstream", payload, re.DOTALL
    ):
        obj_dict, data = m.group(1), m.group(2)
        if b"/FlateDecode" in obj_dict:
            try:
                data = zlib.decompress(data)
            except zlib.error:
                continue
        if b"BT" not in data:
            continue
        block_idx = 0
        for bt in re.finditer(rb"BT(.*?)ET", data, re.DOTALL):
            body = bt.group(1)
            size = 12.0
            tx, ty = 0.0, 0.0
            sm = re.search(rb"/\w+\s+([\d.]+)\s+Tf", body)
            if sm:
                size = float(sm.group(1))
            pm = re.search(
                rb"([-\d.]+)\s+([-\d.]+)\s+(?:Td|TD)", body
            ) or re.search(
                rb"(?:[-\d.]+\s+){4}([-\d.]+)\s+([-\d.]+)\s+Tm", body
            )
            if pm:
                tx, ty = float(pm.group(1)), float(pm.group(2))
            parts = [
                _pdf_unescape(t.group(1))
                for t in re.finditer(rb"\(((?:\\.|[^\\()])*)\)\s*(?:Tj|'|\")", body)
            ]
            for arr in re.finditer(rb"\[((?:[^\[\]\\]|\\.)*)\]\s*TJ", body):
                parts += [
                    _pdf_unescape(t.group(1))
                    for t in re.finditer(rb"\(((?:\\.|[^\\()])*)\)", arr.group(1))
                ]
            text = "".join(parts).strip()
            if not text:
                continue
            kind = "heading" if size >= 14 else "paragraph"
            width = 0.5 * size * len(text)
            blocks.append(
                (page, block_idx, kind, text, tx, ty, tx + width, ty + size)
            )
            block_idx += 1
        if block_idx:
            page += 1
    return blocks or None


def parse_pdf_layout(media: DataFrame) -> DataFrame:
    """PDF/layout branch for media spans (north-star requirement).

    Arrow-batched layout parse of PDF payloads into ordered
    (page, block, kind, text, bbox) rows — the media-span counterpart
    of the HTML block classifier (operators/content.py), decoded by
    :func:`_parse_pdf_real`.  A payload it cannot parse gets two
    deterministic blocks derived from the payload hash, so the
    plumbing — schema, batch shape, fan-out, downstream joins back to
    docs — stays oracle-checkable on any input.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in PDF_LAYOUT.fields]
        for pdf in batches:
            rows = []
            for media_id, doc_id, payload in zip(
                pdf["media_id"], pdf["doc_id"], pdf["payload"]
            ):
                payload = bytes(payload) if payload is not None else b""
                try:
                    blocks = _parse_pdf_real(payload)
                except Exception:
                    blocks = None  # drop-not-fail: fake fallback
                if blocks is None:
                    digest = hashlib.sha256(payload).hexdigest()
                    p_digest = hashlib.sha256(payload + b"p").hexdigest()
                    blocks = [
                        (0, 0, "heading", digest[:16], 72.0, 720.0, 540.0, 756.0),
                        (0, 1, "paragraph", p_digest[:32], 72.0, 96.0, 540.0, 700.0),
                    ]
                rows += [(media_id, doc_id, *b) for b in blocks]
            yield pd.DataFrame(rows, columns=cols)

    return media.mapInPandas(run, schema=PDF_LAYOUT)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame sampling for video payloads: one row per sampled frame.

    Supported uncompressed containers (Y4M, BI_RGB AVI) are REALLY
    decoded: ``frame_ts_ms`` is the true frame timestamp from the
    container frame rate and ``frame_hash`` the sha256 of the raw
    decoded frame bytes; at each ``every_ms`` cadence point the first
    frame at-or-after it is emitted.  Payloads no decoder handles
    (compressed codecs) fall back to a deterministic synthesis —
    drop-not-fail, mirroring the image branch: one row per cadence
    point over meta.duration_ms, hash keyed on (payload, ts).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["media_id", "doc_id", "frame_ts_ms", "frame_hash"]
        for pdf in batches:
            rows = []
            for media_id, doc_id, payload, meta in zip(
                pdf["media_id"], pdf["doc_id"], pdf["payload"], pdf["meta"]
            ):
                payload = bytes(payload) if payload is not None else b""
                try:
                    decoded = _decode_video_real(payload)
                except Exception:
                    decoded = None  # drop-not-fail: fake fallback
                if decoded is not None:
                    _w, _h, num, den, frames = decoded
                    due = 0
                    for i, fr in enumerate(frames):
                        ts = i * 1000 * den // num
                        if ts < due:
                            continue
                        rows.append(
                            (
                                media_id,
                                doc_id,
                                ts,
                                hashlib.sha256(fr).hexdigest(),
                            )
                        )
                        due = (ts // every_ms + 1) * every_ms
                    continue
                duration = (meta or {}).get("duration_ms") or 0
                rows += [
                    (
                        media_id,
                        doc_id,
                        ts,
                        hashlib.sha256(payload + ts.to_bytes(8, "little")).hexdigest(),
                    )
                    for ts in range(0, max(duration, 1), every_ms)
                ]
            yield pd.DataFrame(rows, columns=cols)

    return media.mapInPandas(
        run,
        schema="media_id string, doc_id string, frame_ts_ms int, frame_hash string",
    )


THUMBNAILS = T.StructType(
    [
        T.StructField("media_id", T.StringType(), nullable=False),
        T.StructField("doc_id", T.StringType()),
        T.StructField("src_w", T.IntegerType()),
        T.StructField("src_h", T.IntegerType()),
        T.StructField("thumb_w", T.IntegerType()),
        T.StructField("thumb_h", T.IntegerType()),
        T.StructField("decoded", T.BooleanType()),
        T.StructField("thumb", T.BinaryType()),  # raw RGB rows, 3B/px
    ]
)


def resize_images(
    media: DataFrame, size: tuple[int, int] = (32, 32)
) -> DataFrame:
    """Real pixel resample stage: decode (PNG), nearest-neighbor
    downsample to at most ``size``, emit the thumbnail as raw RGB
    bytes.  Aspect ratio preserved; images already smaller pass
    through at native size.  Undecodable payloads produce a
    deterministic 1x1 hash-colored pixel with ``decoded=false`` (the
    drop-not-fail contract of the tokenizer, applied to media).

    Same scale shape as every media stage: one Arrow pass, no shuffle;
    thumbnail bytes are bounded (3 * size^2) regardless of source
    image size, so the output table is safely shuffle-able downstream.
    """
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in THUMBNAILS.fields]
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in cols}
            for media_id, doc_id, payload in zip(
                pdf["media_id"], pdf["doc_id"], pdf["payload"]
            ):
                payload = bytes(payload) if payload is not None else b""
                try:
                    img = _decode_image(payload)
                except Exception:
                    img = None  # drop-not-fail
                if img is None or img.size == 0:
                    digest = hashlib.sha256(payload).digest()
                    sw = sh = tw = th = 1
                    thumb = bytes(digest[:3])
                    decoded = False
                else:
                    sh, sw, c = img.shape
                    if c == 1:
                        rgb = np.repeat(img, 3, axis=2)
                    elif c == 2:
                        rgb = np.repeat(img[:, :, :1], 3, axis=2)
                    else:
                        rgb = img[:, :, :3]
                    scale = min(size[0] / sw, size[1] / sh, 1.0)
                    tw = max(1, int(sw * scale))
                    th = max(1, int(sh * scale))
                    # nearest-neighbor: index grid at pixel centers
                    xs = ((np.arange(tw) + 0.5) * sw / tw).astype(int)
                    ys = ((np.arange(th) + 0.5) * sh / th).astype(int)
                    thumb = rgb[ys][:, xs].astype(np.uint8).tobytes()
                    decoded = True
                out["media_id"].append(media_id)
                out["doc_id"].append(doc_id)
                out["src_w"].append(sw)
                out["src_h"].append(sh)
                out["thumb_w"].append(tw)
                out["thumb_h"].append(th)
                out["decoded"].append(decoded)
                out["thumb"].append(thumb)
            yield pd.DataFrame(out, columns=cols)

    return media.mapInPandas(run, schema=THUMBNAILS)


# --------------------------------------------------------------------------
# Audio branch: REAL RIFF/WAVE PCM16 decode (stdlib struct, no codecs)
# --------------------------------------------------------------------------

AUDIO_FEATURES = T.StructType(
    [
        T.StructField("media_id", T.StringType(), nullable=False),
        T.StructField("doc_id", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("decoded", T.BooleanType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),  # frames (per channel)
        T.StructField("duration_ms", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("zcr", T.LongType()),  # sign transitions
    ]
)


def _decode_wav(payload: bytes):
    """Parse a RIFF/WAVE PCM16 payload; None if undecodable.

    A real chunk-walking parser (stdlib ``struct``, word-aligned chunk
    sizes, truncation-checked), not a stub: PCM (format 1), 16-bit
    only.  Returns (sample_rate, n_channels, samples) with samples the
    interleaved int16 stream.
    """
    import struct

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            return None  # truncated chunk
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    if fmt is None or data is None or len(fmt) < 16:
        return None
    audio_fmt, n_ch, rate = struct.unpack("<HHI", fmt[:8])
    (bits,) = struct.unpack("<H", fmt[14:16])
    if audio_fmt != 1 or bits != 16 or n_ch < 1 or rate < 1:
        return None
    usable = len(data) - len(data) % (2 * n_ch)
    return rate, n_ch, np.frombuffer(data[:usable], dtype="<i2")


def extract_audio_features(media: DataFrame) -> DataFrame:
    """Arrow-batched WAV decode + signal-feature stage.

    One pass, no shuffle.  ``rms`` is the root-mean-square of the
    interleaved int16 stream (exact int64 sum of squares before the
    single sqrt, so it is bit-reproducible across engines); ``zcr``
    counts strict sign transitions (negative <-> non-negative) across
    consecutive interleaved samples.  Undecodable payloads keep the
    row with ``decoded=false`` and zeroed features — drop-not-fail,
    queryable like the errors table.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        cols = [f.name for f in AUDIO_FEATURES.fields]
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in cols}
            for media_id, doc_id, payload in zip(
                pdf["media_id"], pdf["doc_id"], pdf["payload"]
            ):
                payload = bytes(payload) if payload is not None else b""
                try:
                    dec = _decode_wav(payload)
                except Exception:
                    dec = None  # drop-not-fail
                rate = ch = 0
                frames = zcr = 0
                dur = rms = 0.0
                if dec is not None:
                    rate, ch, s = dec
                    frames = s.size // ch
                    dur = frames / rate * 1000.0
                    if s.size:
                        sq = s.astype(np.int64)
                        rms = float(np.sqrt(float((sq * sq).sum()) / s.size))
                        neg = s < 0
                        zcr = int(np.count_nonzero(neg[1:] != neg[:-1]))
                out["media_id"].append(media_id)
                out["doc_id"].append(doc_id)
                out["n_bytes"].append(len(payload))
                out["decoded"].append(dec is not None)
                out["sample_rate"].append(rate)
                out["n_channels"].append(ch)
                out["n_samples"].append(frames)
                out["duration_ms"].append(dur)
                out["rms"].append(rms)
                out["zcr"].append(zcr)
            yield pd.DataFrame(out, columns=cols)

    return media.mapInPandas(run, schema=AUDIO_FEATURES)


def _gif_lzw(data: bytes, min_code_size: int, n_pixels: int):
    """GIF-flavor LZW decode (variable code width, LSB-first packing).

    Returns a list of palette indices, or None on a malformed stream.
    """
    clear = 1 << min_code_size
    end = clear + 1
    width = min_code_size + 1
    base = {i: (i,) for i in range(clear)}
    table = dict(base)
    next_code = end + 1
    out: list[int] = []
    prev: tuple[int, ...] | None = None
    acc = bits = 0
    for byte in data:
        acc |= byte << bits
        bits += 8
        while bits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            bits -= width
            if code == clear:
                table = dict(base)
                next_code = end + 1
                width = min_code_size + 1
                prev = None
                continue
            if code == end:
                return out[:n_pixels] if len(out) >= n_pixels else None
            if prev is None:
                entry = table.get(code)
                if entry is None:
                    return None
            elif code in table:
                entry = table[code]
            elif code == next_code:  # the KwKwK case
                entry = prev + (prev[0],)
            else:
                return None
            out.extend(entry)
            if prev is not None and next_code < 4096:
                table[next_code] = prev + (entry[0],)
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
            prev = entry
            if len(out) >= n_pixels:
                return out[:n_pixels]
    return out[:n_pixels] if len(out) >= n_pixels else None


def _decode_gif(payload: bytes):
    """Minimal pure-Python GIF decoder (first frame, stdlib only).

    Real LZW with dictionary growth and the KwKwK case; global or
    local palette; interlaced frames are deinterlaced.  Returns the
    first frame as an (h, w, 3) uint8 RGB array, or None.
    Transparency/animation composition is out of scope — the feature
    stage only needs pixel statistics of the first frame.
    """
    import struct

    import numpy as np

    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    packed = payload[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = payload[pos : pos + 3 * n]
        if len(gct) < 3 * n:
            return None
        pos += 3 * n
    try:
        while pos < len(payload):
            b = payload[pos]
            if b == 0x3B:  # trailer
                return None
            if b == 0x21:  # extension: label + sub-blocks
                pos += 2
                while pos < len(payload) and payload[pos] != 0:
                    pos += 1 + payload[pos]
                pos += 1
                continue
            if b != 0x2C:
                return None
            _l, _t, iw, ih = struct.unpack_from("<HHHH", payload, pos + 1)
            ipacked = payload[pos + 9]
            pos += 10
            pal = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                pal = payload[pos : pos + 3 * n]
                pos += 3 * n
            if pal is None or iw == 0 or ih == 0:
                return None
            mcs = payload[pos]
            pos += 1
            data = bytearray()
            while pos < len(payload) and payload[pos] != 0:
                ln = payload[pos]
                data += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            idx = _gif_lzw(bytes(data), mcs, iw * ih)
            if idx is None:
                return None
            arr = np.asarray(idx, dtype=np.int32)
            if arr.max() * 3 + 2 >= len(pal):
                return None
            flat = np.frombuffer(pal, dtype=np.uint8)
            img = flat.reshape(-1, 3)[arr].reshape(ih, iw, 3)
            if ipacked & 0x40:  # interlaced: rows in 4-pass order
                order = (
                    list(range(0, ih, 8)) + list(range(4, ih, 8))
                    + list(range(2, ih, 4)) + list(range(1, ih, 2))
                )
                out = np.empty_like(img)
                out[order] = img
                img = out
            return img.copy()
    except (IndexError, struct.error):
        return None
    return None
