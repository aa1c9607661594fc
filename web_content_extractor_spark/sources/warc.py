"""WARC record source — the Common Crawl input format.

A 100 TB web corpus arrives as WARC: millions of bounded-size archive
files, each a concatenation of records (``WARC/1.0`` header block,
``Content-Length``-framed payload).  The Spark-native read shape is
file-granular parallelism: ``spark.read.format("binaryFile")`` lists
the files into partitions (one task per file; CC files are ~1 GB, so
tasks are balanced by construction) and an Arrow-batched
``mapInPandas`` walks each file's records.  The per-record Python work
is header parsing + one payload slice — iteration count is records,
never bytes.

Two halves:

- ``warc_record`` / ``warc_blob_per_group`` — build spec-shaped WARC
  bytes NATIVELY from a docs DataFrame (pure Column algebra: header
  strings + UTF-8 payload + CRLF framing).  This gives the engine a
  deterministic, disk-free round-trip the SQL oracle can verify
  (parse(build(docs)) == docs) and doubles as a distributed WARC
  *writer* (one blob per group -> ``foreachPartition`` file dump).
- ``parse_warc_records`` — the reader kernel over binary blobs
  (whether from ``binaryFile`` file contents or built blobs).
  Malformed records (bad header block, truncated payload) are skipped
  and surface in the per-blob ``n_skipped`` count — drop-not-fail,
  like the HTML tokenizer.

Real Common Crawl stores each record as its own gzip member
(``.warc.gz``); ``read_warc`` sniffs the gzip magic per file and
inflates the multi-member stream before the walk, so both plain and
CC-framed archives read through the same path.  The record walker is
member-framing-agnostic either way, since it re-anchors on the
``WARC/1.0`` magic.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from web_content_extractor_spark.sources.docs import _reader

_CRLF = "\r\n"

# WARC header block: version line then Name: value lines, blank-line
# terminated; payload is Content-Length octets followed by CRLF CRLF.
_MAGIC = b"WARC/1.0"
_HDR_RE = re.compile(rb"([A-Za-z0-9-]+):[ \t]*([^\r\n]*)\r?\n")

PARSED_SCHEMA = (
    "blob_id bigint, rec_no int, target_uri string, payload binary, "
    "warc_type string, rec_offset bigint, rec_bytes bigint, "
    "addr_mode string"
)

# addr_mode semantics for (rec_offset, rec_bytes):
#   'file'        — offsets into the stored file as-is (plain .warc):
#                   seek + read works directly
#   'gzip-member' — offsets of the gzip MEMBER holding the record in
#                   the stored .warc.gz (per-record-gzipped, the Common
#                   Crawl layout): byte-range fetch + gunzip the member
#                   — the real CDX contract for compressed archives
#   'inflated'    — offsets into the inflated stream (whole-file gzip:
#                   records are not member-addressable); a consumer
#                   must inflate the file before seeking


def warc_record(uri: Column, payload_text: Column) -> Column:
    """One spec-shaped WARC response record as a binary column.

    Header block + ``Content-Length``-framed UTF-8 payload + record
    separator, all native ``concat``/``encode``/``octet_length`` — a
    free codegen projection on the docs scan.
    """
    body = F.encode(payload_text, "UTF-8")
    header = F.concat(
        F.lit("WARC/1.0" + _CRLF),
        F.lit("WARC-Type: response" + _CRLF),
        F.lit("WARC-Target-URI: "), uri, F.lit(_CRLF),
        F.lit("Content-Length: "),
        F.octet_length(body).cast("string"),
        F.lit(_CRLF + _CRLF),
    )
    return F.concat(
        F.encode(header, "UTF-8"), body, F.encode(F.lit(_CRLF + _CRLF), "UTF-8")
    )


def warc_blob_per_group(
    docs: DataFrame,
    uri: Column,
    payload_text: Column,
    group: Column,
) -> DataFrame:
    """(blob_id, blob): records of each group concatenated in
    ``doc_id`` order — a distributed WARC writer's in-memory form
    (dump each row to ``part-<blob_id>.warc`` via foreachPartition).

    ONE shuffle keyed by the group id; the in-group concatenation is
    an ordered array fold over that group's records only, so blob
    sizes — like real WARC files — are bounded by the grouping.
    """
    recs = docs.select(
        group.alias("blob_id"),
        F.struct(
            F.col("doc_id").alias("o"),
            warc_record(uri, payload_text).alias("r"),
        ).alias("s"),
    ).where(F.col("s.r").isNotNull())  # a NULL uri/text record would
    # null-propagate through the concat fold and erase its whole blob
    ordered = recs.groupBy("blob_id").agg(
        F.array_sort(F.collect_list("s")).alias("ss")
    )
    blob = F.aggregate(
        F.transform("ss", lambda s: s["r"]),
        F.lit(b""),
        lambda acc, r: F.concat(acc, r),
    )
    return ordered.select("blob_id", blob.alias("blob"))


def _inflate_with_members(blob: bytes):
    """Inflate a (possibly multi-member, i.e. per-record-gzipped
    Common Crawl style) gzip stream, tracking member boundaries.

    Returns ``(inflated, members)`` where ``members`` is a list of
    ``(comp_off, comp_len, infl_off, infl_len)`` per gzip member —
    offsets into the ORIGINAL compressed blob and into the inflated
    stream respectively — or ``(blob, None)`` for non-gzip input.

    Drop-not-fail: a truncated/corrupt member salvages every member
    decoded before it rather than failing the task — a crawler dying
    mid-write must not abort the whole ingest batch or stream.
    """
    if len(blob) < 2 or blob[0] != 0x1F or blob[1] != 0x8B:
        return blob, None
    import zlib

    out = bytearray()
    members: list[tuple[int, int, int, int]] = []
    data = blob
    comp_off = 0
    while data[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=31)
        try:
            infl = d.decompress(data)
            while d.unconsumed_tail:
                infl += d.decompress(d.unconsumed_tail)
            infl += d.flush()
        except zlib.error:
            break  # salvage the members decoded so far
        consumed = len(data) - len(d.unused_data)
        members.append((comp_off, consumed, len(out), len(infl)))
        out += infl
        if not d.eof:
            break  # truncated final member: keep what flushed
        comp_off += consumed
        data = d.unused_data
    return bytes(out), members


def _walk_records(
    blob: bytes,
) -> Iterator[tuple[str | None, bytes, str | None, int, int] | None]:
    """Yield (target_uri, payload, warc_type, rec_offset, rec_bytes)
    per well-formed record — offset/extent within THIS blob, spanning
    header through the trailing CRLF pair, so a reader can seek
    straight to the record (the CDX contract) — and ``None`` per
    skipped (malformed) one.  Re-anchors on the WARC magic, so a bad
    record never poisons the rest of the file."""
    pos = 0
    n = len(blob)
    while True:
        start = blob.find(_MAGIC, pos)
        if start < 0:
            return
        hdr_end = blob.find(b"\r\n\r\n", start)
        if hdr_end < 0:
            return  # truncated header block: nothing parseable left
        headers = dict(
            (k.lower(), v)
            for k, v in _HDR_RE.findall(blob[start:hdr_end + 2])
        )
        try:
            length = int(headers[b"content-length"])
        except (KeyError, ValueError):
            yield None
            pos = hdr_end + 4
            continue
        body_start = hdr_end + 4
        if length < 0 or body_start + length > n:
            yield None  # truncated payload
            pos = hdr_end + 4
            continue
        uri = headers.get(b"warc-target-uri")
        rtype = headers.get(b"warc-type")
        rec_end = min(body_start + length + 4, n)
        yield (
            uri.decode("utf-8", "replace") if uri is not None else None,
            blob[body_start:body_start + length],
            rtype.decode("utf-8", "replace").lower()
            if rtype is not None
            else None,
            start,
            rec_end - start,
        )
        pos = body_start + length


def parse_warc_records(blobs: DataFrame) -> DataFrame:
    """Explode (blob_id, blob) WARC blobs into (blob_id, rec_no,
    target_uri, payload).

    Arrow-batched ``mapInPandas``: the Python loop advances one
    iteration per RECORD (header parse + payload slice), so per-file
    cost is bounded by record count; blobs (files) are the parallelism
    unit, exactly how Common Crawl is read in production.  Malformed
    records are dropped (rec_no keeps counting, so gaps are visible to
    lineage).
    """

    from bisect import bisect_right

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, recnos, uris, payloads = [], [], [], []
            types, offs, lens, modes = [], [], [], []
            for bid, blob in zip(pdf["blob_id"], pdf["blob"]):
                if blob is None:
                    continue
                inflated, members = _inflate_with_members(bytes(blob))
                infl_offs = (
                    [m[2] for m in members] if members is not None else []
                )
                rec_no = 0
                for rec in _walk_records(inflated):
                    if rec is not None:
                        off, nbytes = rec[3], rec[4]
                        if members is None:
                            mode = "file"  # plain .warc: offsets ARE
                            # stored-file offsets, seekable as-is
                        else:
                            # map the record back to its gzip member:
                            # per-record-gzip archives (the Common
                            # Crawl layout) inflate each member to
                            # exactly one record, so the COMPRESSED
                            # member extent addresses it and readers
                            # can byte-range fetch the stored .warc.gz.
                            # A member holding more than one record
                            # (whole-file gzip) is NOT record-
                            # addressable — member offsets would lose
                            # the record's position inside it.
                            mi = bisect_right(infl_offs, off) - 1
                            m = members[mi] if mi >= 0 else None
                            if m and off == m[2] and nbytes == m[3]:
                                mode, off, nbytes = "gzip-member", m[0], m[1]
                            else:
                                mode = "inflated"  # offsets refer to
                                # the inflated stream
                        ids.append(bid)
                        recnos.append(rec_no)
                        uris.append(rec[0])
                        payloads.append(rec[1])
                        types.append(rec[2])
                        offs.append(off)
                        lens.append(nbytes)
                        modes.append(mode)
                    rec_no += 1
            if not ids:
                continue  # empty frames break Arrow list/binary typing
            yield pd.DataFrame(
                {
                    "blob_id": pd.Series(ids, dtype="int64"),
                    "rec_no": pd.Series(recnos, dtype="int32"),
                    "target_uri": uris,
                    "payload": payloads,
                    "warc_type": types,
                    "rec_offset": pd.Series(offs, dtype="int64"),
                    "rec_bytes": pd.Series(lens, dtype="int64"),
                    "addr_mode": modes,
                }
            )

    return blobs.select("blob_id", "blob").mapInPandas(gen, PARSED_SCHEMA)


def warc_docs(parsed: DataFrame) -> DataFrame:
    """Adapt parsed WARC records to the engine's DOCS shape: one doc
    per RESPONSE record (a real capture stores request + response +
    metadata records per page, all sharing one Target-URI — only the
    response carries the document; untyped records, e.g. from minimal
    writers, pass through), doc_id = the WARC-Target-URI (the
    reference keys pages by url too), the payload as a single
    ``kind='html'`` span.  Response payloads that are full HTTP
    messages (status line + headers + blank line + body, the Common
    Crawl framing) are stripped to the body; bare-body payloads pass
    through unchanged.  Records with no Target-URI get a synthetic
    ``<blob>#<rec_no>`` id so they stay addressable rather than
    colliding on NULL."""
    raw = F.decode("payload", "UTF-8")
    sep_pos = F.instr(raw, "\r\n\r\n")
    body = F.when(
        raw.startswith("HTTP/") & (sep_pos > 0),
        F.substring(raw, sep_pos + F.lit(4), F.length(raw)),
    ).otherwise(raw)
    kept = parsed.where(
        F.col("warc_type").isNull() | (F.col("warc_type") == "response")
    )
    return kept.select(
        F.coalesce(
            "target_uri",
            F.concat(
                F.col("blob_id").cast("string"),
                F.lit("#"),
                F.col("rec_no").cast("string"),
            ),
        ).alias("doc_id"),
        F.array(
            F.struct(
                F.lit("html").alias("kind"),
                body.alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )


def read_warc(spark, path: str, stream: bool = False) -> DataFrame:
    """Distributed WARC file read: binaryFile listing (one task per
    file) -> record parse.  Returns :data:`PARSED_SCHEMA` rows with
    blob_id = a stable hash of the file path.

    ``stream=True`` reads the directory as a file-source stream (the
    continuous-crawl landing shape: the checkpointed file log lists
    each archive once, whatever its age) with the same record
    walker.  The binaryFile schema is stated either way: a stream
    cannot infer it, and a batch read accepts it.  Only ``*.warc*``
    files are listed, so half-written ``.tmp`` sidecars and markers
    like ``_SUCCESS`` never enter the read (a stream that ingested a
    partial file would never re-read the finished rename).
    """
    files = (
        _reader(spark, stream)
        .format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", "*.warc*")
        .load(path)
    )
    blobs = files.select(
        F.xxhash64("path").alias("blob_id"), F.col("content").alias("blob")
    )
    return parse_warc_records(blobs)


def surt_key(url: Column) -> Column:
    """SURT-style sort-friendly url key: reversed host labels joined
    by commas, then ')' and the path — ``https://www.example.com/a``
    -> ``com,example)/a``.  Groups every subdomain/page of a site into
    one contiguous key range, which is what makes a CDX index
    range-scannable by domain.  Pure codegen string algebra."""
    host = F.lower(
        F.regexp_replace(
            F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1),
            r"^www\.",
            "",
        )
    )
    path = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$", 1)
    rev = F.concat_ws(",", F.reverse(F.split(host, r"\.")))
    return F.when(
        F.length(host) > 0, F.concat(rev, F.lit(")"), path)
    ).otherwise(F.lit(None).cast("string"))


def warc_cdx(parsed: DataFrame) -> DataFrame:
    """CDX-style random-access index over parsed WARC records:
    (urlkey, blob_id, rec_offset, rec_bytes, target_uri, warc_type,
    addr_mode).

    The companion artifact every web archive ships next to its WARC
    files — a reader seeks to (blob, offset) and reads ``rec_bytes``
    instead of scanning the archive.  ``addr_mode`` says what the
    offsets address (see PARSED_SCHEMA note): 'file' for plain .warc,
    'gzip-member' for per-record-gzipped .warc.gz (compressed member
    offset + length — byte-range fetch then gunzip, the real CDX
    contract), 'inflated' for whole-file-gzipped archives that are not
    member-addressable.  Sorting by ``urlkey`` clusters a domain's
    records contiguously (SURT), the property CDX range queries rely
    on.
    """
    return parsed.select(
        surt_key(F.col("target_uri")).alias("urlkey"),
        "blob_id",
        "rec_offset",
        "rec_bytes",
        "target_uri",
        "warc_type",
        "addr_mode",
    ).where(F.col("urlkey").isNotNull())
