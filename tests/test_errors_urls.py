"""Per-doc errors table (exceptions.py analog) + URL-list batch source
(blob-trigger S3 parity)."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from web_content_extractor_spark.operators.errors import doc_errors, write_errors
from web_content_extractor_spark.plans.pipeline import extract, tokenize
from web_content_extractor_spark.sources.urls import (
    UrlListError,
    parse_url_items,
    read_url_list,
    url_batch,
)


@pytest.fixture(scope="module")
def broken_docs(spark):
    html = (
        '<html><body><a href="http://">Broken</a>'
        '<a href="https://ok.example.com/x" download=" ">D</a>'
        '<a href="https://ok.example.com/good">Good</a></body></html>'
    )
    return spark.createDataFrame(
        [
            ("https://a.example.org/", [("html", html, None, 0)]),
            ("https://b.example.org/", [("html", "<a href='https://ok.example.com/z'>Z</a>", None, 0)]),
        ],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )


def test_doc_errors_rows(spark, broken_docs):
    errs = doc_errors(tokenize(broken_docs), run_id="t1").collect()
    by_doc = {}
    for r in errs:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {"https://a.example.org/"}  # healthy doc absent
    rows = sorted(by_doc["https://a.example.org/"], key=lambda r: r.err_idx)
    assert [(r.stage, r.reason, r.target) for r in rows] == [
        ("url_validation", "invalid_url", "http://"),
        ("text_selection", "empty_text", "https://ok.example.com/x"),
    ]
    # correlation ids: deterministic per (run, doc), >= 8 chars
    # (value_objects.py:68-86 contract)
    assert len({r.correlation_id for r in rows}) == 1
    assert len(rows[0].correlation_id) >= 8
    again = doc_errors(tokenize(broken_docs), run_id="t1").collect()
    assert {r.correlation_id for r in again} == {rows[0].correlation_id}


def test_parse_error_stage(spark):
    # a spans entry whose html blows up the tokenizer -> stage='parse'
    # with the exception class in the reason; the doc still yields its
    # other spans (drop-not-fail)
    import web_content_extractor_spark.functions.tokenizer as tk

    orig = tk.tokenize_html

    def boom(html, base):
        if "BOOM" in html:
            raise RuntimeError("kaboom")
        return orig(html, base)

    tk.tokenize_html = boom
    try:
        d = tk.tokenize_doc(
            "https://x.org/",
            [
                {"kind": "html", "text": "BOOM", "media_ref": None, "offset": 0},
                {"kind": "html", "text": '<a href="https://ok.org/a">A</a>',
                 "media_ref": None, "offset": 1},
            ],
        )
    finally:
        tk.tokenize_html = orig
    assert d["err_stages"] == ["parse"]
    assert d["err_reasons"] == ["parse_error:RuntimeError"]
    assert d["cand_urls"] == ["https://ok.org/a"]

    # unpatched: a real bad marked section raises AssertionError inside
    # the scanner (as it does in HTMLParser); the span becomes one
    # attributable row, its anchor is absent, the clean span survives
    d = tk.tokenize_doc(
        "https://x.org/",
        [
            {"kind": "html", "text": '<![foo[x]]><a href="https://bad.org/">B</a>',
             "media_ref": None, "offset": 0},
            {"kind": "html", "text": '<a href="https://ok.org/a">A</a>',
             "media_ref": None, "offset": 1},
        ],
    )
    assert d["err_stages"] == ["parse"]
    assert d["err_reasons"] == ["parse_error:AssertionError"]
    assert d["err_targets"] == ["https://x.org/"]
    assert d["cand_urls"] == ["https://ok.org/a"]


def test_resumable_extract_writes_errors(spark, broken_docs, tmp_path):
    from web_content_extractor_spark.streaming.incremental import (
        stream_extract,
    )

    inp, outp, errp = (str(tmp_path / d) for d in ("in", "out", "errs"))
    broken_docs.write.parquet(inp)
    r = stream_extract(spark, inp, outp, errors_path=errp)
    assert r["docs"] == 2
    errs = spark.read.parquet(errp)
    assert errs.count() == 2
    assert {x.run_id for x in errs.select("run_id").collect()} == {r["run_id"]}
    # resume no-op appends nothing to the errors table either
    r2 = stream_extract(spark, inp, outp, errors_path=errp)
    assert r2["docs"] == 0
    assert spark.read.parquet(errp).count() == 2


def test_extract_with_errors_and_writer(spark, broken_docs, tmp_path):
    ex = extract(broken_docs, with_errors=True)
    assert {"err_stages", "err_reasons", "err_targets"} <= set(ex.columns)
    path = str(tmp_path / "errors")
    write_errors(doc_errors(ex, run_id="t2"), path)
    back = spark.read.parquet(path)
    assert back.count() == 2
    assert back.where(F.col("reason") == "invalid_url").count() == 1


# --- URL-list source (extract_blob_trigger.py:41-66 semantics) ------------


def test_parse_url_items_forms():
    # array of strings, array of {url}, mixed, non-list wrap
    assert parse_url_items('["https://a/", "https://b/"]') == [
        "https://a/",
        "https://b/",
    ]
    assert parse_url_items('[{"url": "https://a/"}, "https://b/", {"x": 1}]') == [
        "https://a/",
        "https://b/",
    ]
    assert parse_url_items('{"url": "https://solo/"}') == ["https://solo/"]


def test_parse_url_items_no_urls_error_object():
    with pytest.raises(UrlListError) as ei:
        parse_url_items('[{"x": 1}, 42]', source_name="in.json")
    assert ei.value.error_object == {
        "error": "No valid URLs found in input blob",
        "blob_name": "in.json",
    }


def test_url_batch_semi_join(spark, broken_docs, tmp_path):
    p = tmp_path / "urls.json"
    p.write_text(json.dumps(["https://b.example.org/", {"url": "https://nope/"}]))
    wl = read_url_list(spark, str(p))
    got = url_batch(broken_docs, wl).select("doc_id").collect()
    assert [r.doc_id for r in got] == ["https://b.example.org/"]
    # plan: broadcast join, corpus side not shuffled
    plan = url_batch(broken_docs, wl)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_jobs_cli_urls_end_to_end(spark, tmp_path):
    from web_content_extractor_spark.datagen import fixture_docs
    from web_content_extractor_spark.jobs import main

    inp, outp, errp, cont = (str(tmp_path / d) for d in
                             ("in", "out", "errs", "content"))
    fixture_docs(spark).write.parquet(inp)
    urls = tmp_path / "urls.json"
    urls.write_text(json.dumps([
        "https://test-page.example.org/index.html",
        {"url": "https://base.com"},
    ]))
    rc = main(["extract", "--input", inp, "--output", outp, "--errors", errp,
               "--content-output", cont, "--urls", str(urls)])
    assert rc == 0

    def ids(path):
        return sorted(r.doc_id for r in
                      spark.read.parquet(path).select("doc_id").collect())

    assert set(ids(outp)) == {
        "https://test-page.example.org/index.html",
        "https://base.com",
    }
    # the URL list narrows the content branch exactly as it narrows spans
    assert ids(cont) == ids(outp)

    # empty URL list -> error-object semantics, nonzero exit, no output
    bad = tmp_path / "bad.json"
    bad.write_text("[]")
    rc = main(["extract", "--input", inp, "--output", str(tmp_path / "out2"),
               "--urls", str(bad)])
    assert rc == 1

    # --urls + --resume is a contradiction, refused up front
    rc = main(["extract", "--input", inp, "--output", str(tmp_path / "out3"),
               "--urls", str(urls), "--resume"])
    assert rc == 2


def test_jobs_cli_curate_end_to_end(spark, tmp_path):
    from pyspark.sql import functions as F

    from web_content_extractor_spark.jobs import main

    # mean word length must sit inside the Gopher 3-10 band
    good = " ".join(f"word{i}" for i in range(60))
    docs = spark.createDataFrame(
        [
            (0, good),                 # kept
            (1, good),                 # exact dup of 0 -> dropped
            (2, "too short"),          # quality-dropped
            (3, good + " lorem ipsum"),  # marker-dropped
        ],
        "doc_id: bigint, text: string",
    )
    inp = str(tmp_path / "textdocs")
    outp = str(tmp_path / "manifest")
    snp = str(tmp_path / "snippets")
    docs.write.parquet(inp)
    spark.createDataFrame(
        [(99, "lorem ipsum")], "snippet_id: bigint, snippet: string"
    ).write.parquet(snp)

    rc = main(["curate", "--input", inp, "--output", outp,
               "--benchmark-snippets", snp])
    assert rc == 0
    got = {r.doc_id: r for r in spark.read.parquet(outp).collect()}
    assert len(got) == 4
    assert got[0].selected and not got[0].is_duplicate
    assert got[1].is_duplicate and not got[1].selected
    assert not got[2].keep_quality and not got[2].selected
    assert got[3].is_contaminated and not got[3].selected

    # arg validation: a missing required path refuses
    assert main(["curate", "--input", inp]) == 2
    assert main(["extract", "--input", inp]) == 2


def test_jobs_cli_rejects_cross_mode_orphan_flags(spark, tmp_path):
    from web_content_extractor_spark.jobs import main

    good = " ".join(f"word{i}" for i in range(60))
    inp = str(tmp_path / "td")
    spark.createDataFrame(
        [(0, good)], "doc_id: bigint, text: string"
    ).write.parquet(inp)
    # extraction-only flags without extraction mode
    assert main(["curate", "--input", inp, "--output",
                 str(tmp_path / "m"), "--content-output",
                 str(tmp_path / "c")]) == 2
    # snippets without curation mode
    assert main(["extract", "--input", inp, "--output", str(tmp_path / "o"),
                 "--benchmark-snippets", inp]) == 2


@pytest.mark.parametrize(
    "argv",
    [[]] + [[mode, "--help"] for mode in
            ("extract", "curate", "corpus", "dedup", "ann", "plan", "compact")],
)
def test_jobs_cli_usage_exit_codes(argv, capsys):
    """No subcommand is a usage error (2); every subcommand's --help
    prints its own flags and exits 0."""
    from web_content_extractor_spark.jobs import main

    assert main(argv) == (0 if argv else 2)
    if argv:
        assert "--output" in capsys.readouterr().out
