"""The one Arrow tokenizer kernel (functions/tokenizer.py::arrow_batches).

``extract`` and ``tokenize`` both run it, so comparing the two can no
longer catch a bug in how the kernel decodes its Arrow input.  The
oracle here is driver-side: ``tokenize_doc`` + ``fold_spans`` on the
``collect()``ed rows as plain Python dicts, with no Arrow decode.
"""

from __future__ import annotations

import random

import pytest

from web_content_extractor_spark.functions.tokenizer import (
    fold_spans,
    tokenize_doc,
)
from web_content_extractor_spark.plans.pipeline import extract, tokenize

DOCS_DDL = (
    "doc_id string, spans array<struct"
    "<kind:string,text:string,media_ref:string,offset:int>>"
)
HREFS = [
    "https://f.org/a.pdf", "/doc.PDF?x=1", "https://f.org/pdf/download",
    "https://youtube.com/watch?v=q", "https://youtu.be/z", "https://o.org/",
    "/p", "../up", "http://[bad", "#top", "javascript:void(0)",
]


def _decode_corpus(n: int, seed: int) -> list[tuple]:
    """Null ``spans``, null span elements, null / duplicate / shuffled
    offsets, and html, media and text spans.  Null offsets appear only
    in the second half, so some input batches hold none and some do
    (the kernel's decode types an offset differently in the two)."""
    rng = random.Random(seed)

    def html() -> str:
        parts = [
            f'<a href="{rng.choice(HREFS)}">{rng.choice(["", "go", "3 MB pdf"])}</a>'
            for _ in range(rng.randint(0, 5))
        ]
        if rng.random() < 0.3:
            parts.append(f"<title>t{rng.randrange(9)}</title>")
        if rng.random() < 0.2:
            parts.append('<iframe src="https://youtube.com/embed/e"></iframe>')
        return "<p>" + " ".join(parts) + "</p>"

    docs = []
    for k in range(n):
        doc_id = None if k == 7 else f"https://d{k}.example.org/dir/"
        if k % 11 == 3:
            docs.append((doc_id, None))
            continue
        offsets = [0, 1, 1, 2, 3] + ([None] if k >= n // 2 else [])
        spans = []
        for j in range(rng.randint(0, 5)):
            if rng.random() < 0.1:
                spans.append(None)
                continue
            off = rng.choice(offsets)
            kind = rng.choice(["html", "html", "media", "text"])
            if kind == "html":
                spans.append(("html", html(), None, off))
            elif kind == "media":
                ref = None if rng.random() < 0.2 else f"s3://m/{k}/{j}.png"
                spans.append(("media", None, ref, off))
            else:
                spans.append(("text", "plain words", None, off))
        rng.shuffle(spans)
        docs.append((doc_id, spans))
    return docs


def _oracle(rows) -> dict:
    out = {}
    for row in rows:
        spans = None if row.spans is None else [
            None if s is None else s.asDict() for s in row.spans
        ]
        d = tokenize_doc(row.doc_id, spans)
        kinds, texts, refs = fold_spans(d["cand_urls"], d["cand_texts"], d["ranks"])
        d["spans"] = list(zip(kinds, texts, refs, range(len(kinds))))
        out[row.doc_id] = d
    return out


def _plain(v):
    if isinstance(v, list):
        return [tuple(x) if hasattr(x, "asDict") else x for x in v]
    return v


def test_kernel_decode_equals_driver_side_oracle(spark):
    docs = spark.createDataFrame(_decode_corpus(400, seed=16), DOCS_DDL)
    want = _oracle(docs.collect())
    assert any(d["cand_urls"] for d in want.values())
    assert any("null_span" in d["err_reasons"] for d in want.values())
    for got in (extract(docs, with_stats=True, with_errors=True), tokenize(docs)):
        rows = got.collect()
        assert sorted(map(str, (r.doc_id for r in rows))) == sorted(
            map(str, want)
        )
        for row in rows:
            oracle = want[row.doc_id]
            for col in row.__fields__:
                if col == "proc_us":
                    assert row.proc_us >= 0
                else:
                    assert _plain(row[col]) == oracle[col], (row.doc_id, col)


@pytest.mark.parametrize("variant", ["context", "regex", "tokenize"])
def test_extraction_plan_is_one_arrow_kernel(spark, variant):
    from web_content_extractor_spark.datagen import fixture_docs

    docs = fixture_docs(spark)
    df = tokenize(docs) if variant == "tokenize" else extract(docs, variant=variant)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1
    assert "MapInPandas" not in plan
