"""Seeded workload generator for the layered extraction benchmark.

Every workload is a set of parquet files in the engine's DOCS shape
(``doc_id string, spans array<struct<kind,text,media_ref,offset>>``),
written with pyarrow so generation needs no Spark job.  The same seed
gives byte-identical inputs; different seeds keep the same doc counts,
shape mix and size distribution, so per-run figures stay comparable
across seeds.

Besides the files, a generated corpus carries:

- ``planted``: for a sample of clean docs, the spans the extractor must
  return, as (kind, text, url) in output order.  The expectation is
  derived from the generator's own link recipe (link kind is planted,
  URLs resolved with ``urllib.parse.urljoin``), not from engine code;
- ``pairs``: the (base, href) list the generator planted, replayed by
  the URL-layer micro-timings;
- ``stats``: docs, MB, spans/doc, planted links/doc and the href-shape
  mix, recorded with the results.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass, field
from urllib.parse import urljoin

import pyarrow as pa
import pyarrow.parquet as pq

SPAN_T = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
DOCS_T = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("spans", pa.list_(SPAN_T)),
    ]
)

# Link texts avoid the substrings the context classifier keys on
# ('pdf', 'watch', 'mb', 'youtu'), so a link's kind comes from its URL.
WORDS = (
    "alpha bravo cedar delta egret fjord grove harbor island jasper kettle "
    "lantern meadow nectar orchid pepper quartz river saddle tinder ochre "
    "velvet willow yarrow zephyr azure basil copper dune elder fennel "
    "garnet hazel ivory juniper kelp linen maple nutmeg olive pebble quill "
    "rowan sorrel thistle violet walnut"
).split()

PLANT_SAMPLE = 48  # clean docs per corpus whose spans are checked


@dataclass
class Corpus:
    workload: str
    path: str
    planted: dict[str, list[tuple[str, str, str]]]
    pairs: list[tuple[str, str]]
    stats: dict = field(default_factory=dict)
    docs: list[tuple[str, list[dict]]] = field(default_factory=list)

    @property
    def n_docs(self) -> int:
        return self.stats["docs"]


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choices(WORDS, k=n))


def _span(kind, text=None, media_ref=None, offset=0) -> dict:
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def _ordered(links: list[tuple[int, str, str]]) -> list[tuple[str, str, str]]:
    """(rank, url, text) in parse order -> expected output spans.

    Output is a stable partition by rank (pdf, youtube, other); an empty
    text falls back to the URL."""
    kinds = ("pdf", "youtube", "other")
    ordered = sorted(enumerate(links), key=lambda t: (t[1][0], t[0]))
    return [(kinds[r], t or u, u) for _, (r, u, t) in ordered]


# --- bulk_links: the flagship page recipe ---------------------------------


def bulk_doc(rng: random.Random, n: int, blocks: int = 12):
    """One link-dense ~7 KB page (the ``bench.replicated_docs`` recipe).

    One html span; per block a root-relative pdf link, an absolute
    YouTube watch link and an absolute page link; one skipped
    javascript: link and one iframe.ly embed."""
    host = f"https://host{rng.randrange(97)}.example.org"
    doc_id = f"{host}/d{n}.html"
    tag = f"{n}{rng.choice(WORDS)}"
    parts = [
        f"<html><head><title>Doc {n}</title></head><body>",
        '<a href="javascript:void(0)">skip</a>',
    ]
    pdf, yt, other, pairs = [], [], [], []
    for i in range(blocks):
        pdf_href = f"/files/doc{tag}_{i}.pdf"
        yt_href = f"https://youtube.com/watch?v={tag}x{i}"
        page_href = f"https://pages.example.com/p{tag}_{i}"
        parts.append(
            f"<h2>Section {i}</h2><p>{_words(rng, rng.randint(40, 60))}</p>"
            f'<a href="{pdf_href}">Report {i}</a>'
            f'<a href="{yt_href}">Video {i}</a>'
            f'<a href="{page_href}">more</a>'
        )
        pdf.append((0, host + pdf_href, f"Report {i}"))
        yt.append((1, yt_href, f"Video {i}"))
        other.append((2, page_href, "more"))
        pairs += [(doc_id, pdf_href), (doc_id, yt_href), (doc_id, page_href)]
    iframe = f"https://cdn.iframe.ly/f{tag}"
    parts.append(f'<iframe src="{iframe}"></iframe></body></html>')
    pairs.append((doc_id, iframe))
    links = []
    for i in range(blocks):
        links += [pdf[i], yt[i], other[i]]
    links.append((1, iframe, "Embedded Video Content"))
    shapes = {"absolute": 2 * blocks + 1, "root_relative": blocks}
    return doc_id, [_span("html", "".join(parts))], links, pairs, shapes


# --- interleaved_write: multi-span docs with a heavy size tail -------------

_RELATIVE = (
    "sub/p{n}.html",
    "./x{n}.pdf",
    "../up/{n}.html",
    "/a/./b/../c{n}.html",
)
_INVALID = (
    "http://",
    "https://files.example.net:99999/f{n}",
    "ftp://files.example.net/f{n}",
    "http://[::1",
)
_MALFORMED = (
    '<a href="/broken{n}">unclosed',
    "<div><<p>>stray</div></div></span>",
    "<a href='/q{n}' <b>bad attr</a>",
)


def interleaved_doc(rng: random.Random, n: int, heavy: bool, dirty: bool):
    host = f"https://site{rng.randrange(61)}.example.net"
    doc_id = f"{host}/a/b/page{n}.html"
    spans, links, pairs = [], [], []
    shapes = {"absolute": 0, "root_relative": 0, "relative": 0, "invalid": 0}
    for off in range(rng.randint(4, 10)):
        roll = rng.random()
        if roll < 0.40:
            html = [f"<p>{_words(rng, rng.randint(8, 40))}</p>"]
            for _ in range(rng.randint(1, 3)):
                k = len(pairs)
                r = rng.random()
                if r < 0.10:
                    href = rng.choice(_RELATIVE).format(n=f"{n}_{k}")
                    shape = "relative"
                elif r < 0.45:
                    href = f"/docs/{n}_{k}" + rng.choice((".pdf", ".html"))
                    shape = "root_relative"
                elif r < 0.70:
                    href = f"https://www.youtube.com/watch?v=v{n}x{k}"
                    shape = "absolute"
                else:
                    href = f"https://ref{k % 7}.example.com/r{n}_{k}.html"
                    shape = "absolute"
                text = _words(rng, rng.randint(1, 3))
                html.append(f'<a href="{href}">{text}</a>')
                url = urljoin(doc_id, href)
                rank = 0 if url.endswith(".pdf") else 1 if "watch?v=" in url else 2
                links.append((rank, url, text))
                pairs.append((doc_id, href))
                shapes[shape] += 1
            spans.append(_span("html", "".join(html), offset=off))
        elif roll < 0.70:
            ref = rng.choice(
                (
                    f"s3://media-bucket/{n}/{off}.png",
                    f"https://img{off}.example.net/m/{n}.jpg",
                )
            )
            spans.append(_span("media", media_ref=ref, offset=off))
            links.append((2, ref, ""))
        else:
            spans.append(
                _span("text", _words(rng, rng.randint(20, 120)), offset=off)
            )
    if dirty:
        bad = rng.choice(_INVALID).format(n=n)
        junk = rng.choice(_MALFORMED).format(n=n)
        spans.append(
            _span(
                "html",
                f'<p>{_words(rng, 5)}</p><a href="{bad}">broken link</a>{junk}',
                offset=len(spans),
            )
        )
        pairs.append((doc_id, bad))
        shapes["invalid"] += 1
    if heavy:
        # ~1 MB: half plain text, half link-free html filler
        filler = "<p>" + _words(rng, 80) + "</p>"
        spans.append(
            _span("text", (_words(rng, 750) + " ") * 100, offset=len(spans))
        )
        spans.append(
            _span("html", filler * (500_000 // len(filler)), offset=len(spans))
        )
    return doc_id, spans, links, pairs, shapes


# --- corpus assembly --------------------------------------------------------

# Per-workload recipe at scale 1.0.  Counts are fixed per workload so
# every seed yields the same shape mix.
RECIPES = {
    "bulk_links": {"docs": 3000, "files": 8},
    "interleaved_write": {"docs": 6000, "files": 8, "heavy": 4, "dirty": 0.03},
}


def _write(path: str, rows: list[tuple[str, list[dict]]]) -> None:
    table = pa.Table.from_pydict(
        {"doc_id": [r[0] for r in rows], "spans": [r[1] for r in rows]},
        schema=DOCS_T,
    )
    pq.write_table(table, path, compression="snappy")


def generate(workload: str, seed: int, scale: float = 1.0) -> Corpus:
    """Build a workload's docs in memory (no files yet)."""
    rec = RECIPES[workload]
    rng = random.Random(f"{workload}:{seed}")
    total = max(8, int(rec["docs"] * scale))
    # heavy docs sit at fixed, evenly spaced positions (one every other
    # file), so the task skew they cause is the same for every seed
    heavy = rec.get("heavy", 0)
    heavy_at = {int((k + 0.5) * total / heavy) for k in range(heavy)}
    rows, planted, pairs = [], {}, []
    shapes: dict[str, int] = {}
    n_links = 0
    base = rng.randrange(1_000_000) * 100_000
    for i in range(total):
        if workload == "interleaved_write":
            dirty = rng.random() < rec["dirty"]
            doc_id, spans, links, p, sh = interleaved_doc(
                rng, base + i, i in heavy_at, dirty
            )
        else:
            dirty = False
            doc_id, spans, links, p, sh = bulk_doc(rng, base + i)
        rows.append((doc_id, spans))
        pairs += p
        n_links += len(links)
        for k, v in sh.items():
            shapes[k] = shapes.get(k, 0) + v
        if not dirty and i % max(1, total // PLANT_SAMPLE) == 0:
            planted[doc_id] = _ordered(links)
    n_bytes = sum(
        len(s["text"] or "") + len(s["media_ref"] or "") + len(d)
        for d, spans in rows
        for s in spans
    )
    n_href = sum(shapes.values())
    stats = {
        "docs": total,
        "mb": round(n_bytes / 1e6, 2),
        "spans_per_doc": round(sum(len(s) for _, s in rows) / total, 2),
        "planted_links_per_doc": round(n_links / total, 2),
        "href_mix": {k: round(v / n_href, 4) for k, v in sorted(shapes.items())},
    }
    return Corpus(workload, "", planted, pairs, stats, rows)


def materialize(corpus: Corpus, root: str) -> Corpus:
    """Write the corpus as ``RECIPES[...]["files"]`` parquet files under
    ``root``, replacing it."""
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    k = RECIPES[corpus.workload]["files"]
    per = -(-len(corpus.docs) // k)
    for f in range(k):
        _write(
            os.path.join(root, f"part-{f:05d}.parquet"),
            corpus.docs[f * per : (f + 1) * per],
        )
    corpus.path = root
    corpus.stats["bytes_on_disk"] = sum(
        os.path.getsize(os.path.join(root, f)) for f in os.listdir(root)
    )
    return corpus
