"""Crawl rounds (D1-D5, A7) and checkpoint/resume tests."""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import pytest

from pyspark.sql import functions as F

from web_content_extractor_spark import datagen
from web_content_extractor_spark.operators.crawl import crawl, navigation_links, prioritize
from web_content_extractor_spark.plans.pipeline import tokenize
from web_content_extractor_spark.schemas import DOCS
from web_content_extractor_spark.streaming.incremental import stream_extract


def _site_docs(spark):
    """Tiny site: root -> {lesson-1 (priority), about}; lesson-1 -> page2."""
    H = "https://site.example.org"
    rows = [
        (
            f"{H}/",
            [
                {
                    "kind": "html",
                    "text": (
                        f'<a href="{H}/about">About</a>'
                        f'<a href="{H}/lesson-1">Lesson 1</a>'
                        f'<a href="{H}/file.pdf">Syllabus</a>'
                        '<a href="https://other.org/x">External</a>'
                    ),
                    "media_ref": None,
                    "offset": 0,
                }
            ],
        ),
        (
            f"{H}/lesson-1",
            [
                {
                    "kind": "html",
                    "text": (
                        f'<a href="{H}/page2">Next</a>'
                        '<a href="https://youtu.be/abc">Watch clip</a>'
                    ),
                    "media_ref": None,
                    "offset": 0,
                }
            ],
        ),
        (
            f"{H}/about",
            [{"kind": "html", "text": "<p>nothing</p>", "media_ref": None, "offset": 0}],
        ),
        (
            f"{H}/page2",
            [
                {
                    "kind": "html",
                    "text": '<a href="/deep.pdf">Deep PDF</a>',
                    "media_ref": None,
                    "offset": 0,
                }
            ],
        ),
    ]
    return spark.createDataFrame(rows, schema=DOCS)


def test_navigation_links_same_host_no_downloads(spark):
    docs = _site_docs(spark)
    tok = tokenize(docs.where("doc_id = 'https://site.example.org/'"))
    nav = sorted(r.nav_url for r in navigation_links(tok).collect())
    # external + .pdf excluded (html_parser.py:193-213)
    assert nav == [
        "https://site.example.org/about",
        "https://site.example.org/lesson-1",
    ]


def test_priority_ordering(spark):
    tok = tokenize(_site_docs(spark).where("doc_id = 'https://site.example.org/'"))
    ordered = [r.nav_url for r in prioritize(navigation_links(tok)).collect()]
    # lesson-1 matches the module/lesson/course/chapter/part rule -> first
    assert ordered[0] == "https://site.example.org/lesson-1"


def test_crawl_bounded_and_merged(spark):
    docs = _site_docs(spark)
    res = crawl(spark, docs, "https://site.example.org/", max_pages=2).collect()
    assert len(res) == 1
    row = res[0]
    # visits root + lesson-1 (priority beats about)
    # root: pdf(file.pdf) + other(About, Lesson 1, External)
    # lesson-1: youtube(Watch clip... url youtu.be) + other(Next)
    assert row.total_links == 6
    assert row.pdf_count == 1
    assert row.youtube_count == 1
    assert row.other_count == 4
    kinds = [s.kind for s in row.spans]
    # page-major order, type-rank within page (A7 merge semantics)
    assert kinds == ["pdf", "other", "other", "other", "youtube", "other"]


def test_crawl_merge_metadata_parity(spark):
    # merge_with metadata (models.py:201-240): fresh >=8-char
    # correlation id, page_title cleared, aggregated user agent
    docs = _site_docs(spark)
    a = crawl(spark, docs, "https://site.example.org/", max_pages=2).collect()[0]
    b = crawl(spark, docs, "https://site.example.org/", max_pages=2).collect()[0]
    assert a.page_title is None
    assert a.user_agent == "WebExtractor/1.0 (Aggregated)"
    assert len(a.correlation_id) >= 8
    assert a.correlation_id != b.correlation_id  # fresh per merge


def test_crawl_frontier_collect_is_bounded(spark):
    # the driver never materializes more frontier URLs than the
    # remaining page budget, even on a link-dense corpus (the VERDICT
    # scale-killer): with max_pages=1 the crawl must not collect the
    # 60-link frontier of the root at all
    import web_content_extractor_spark.operators.crawl as cr

    fan = "".join(
        f'<a href="/p{i}">Page {i}</a>' for i in range(60)
    )
    docs = spark.createDataFrame(
        [("https://dense.example.org/", [("html", fan, None, 0)])]
        + [
            (f"https://dense.example.org/p{i}",
             [("html", '<a href="/q">Q</a>', None, 0)])
            for i in range(60)
        ],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    collected: list[int] = []
    orig = cr.prioritize

    def spy(frontier):
        out = orig(frontier)

        class Wrap:
            def limit(self, n):
                inner = out.limit(n)

                class W2:
                    def collect(self_inner):
                        rows = inner.collect()
                        collected.append(len(rows))
                        return rows

                return W2()

            def collect(self):
                rows = out.collect()
                collected.append(len(rows))
                return rows

        return Wrap()

    cr.prioritize = spy
    try:
        for pages, max_collect in ((1, 0), (3, 2)):
            collected.clear()
            res = cr.crawl(
                spark, docs, "https://dense.example.org/", max_pages=pages
            ).collect()
            assert len(res) == 1
            assert all(n <= max_collect for n in collected), (pages, collected)
    finally:
        cr.prioritize = orig


def test_crawl_ignores_unknown_start(spark):
    docs = _site_docs(spark)
    res = crawl(spark, docs, "https://missing.example.org/", max_pages=3).collect()
    assert len(res) == 1 and res[0].total_links == 0


def test_checkpoint_resume(spark, tmp_path):
    docs_path = str(tmp_path / "docs")
    out_path = str(tmp_path / "out")
    datagen.fixture_docs(spark).repartition(4).write.parquet(docs_path)

    r1 = stream_extract(spark, docs_path, out_path)
    assert r1["docs"] == len(datagen.FIXTURES)
    n1 = spark.read.parquet(out_path).count()
    assert n1 == len(datagen.FIXTURES)

    # resume: nothing left to do, output unchanged (idempotent append)
    r2 = stream_extract(spark, docs_path, out_path)
    assert r2["docs"] == 0 and r2["run_id"] != r1["run_id"]
    assert spark.read.parquet(out_path).count() == n1

    # new input file arrives -> only it is processed
    extra = spark.createDataFrame(
        [("https://new.example.org", [
            {"kind": "html", "text": '<a href="/n.pdf">N</a>', "media_ref": None, "offset": 0}
        ])],
        schema=DOCS,
    )
    extra.coalesce(1).write.mode("append").parquet(docs_path)
    r3 = stream_extract(spark, docs_path, out_path)
    assert r3["docs"] == 1
    assert spark.read.parquet(out_path).count() == n1 + 1
    assert os.path.isdir(os.path.join(out_path, "_checkpoint"))


def _land(spark, fmt, land, name, ids, age_days=0):
    """Land one ``fmt`` input file of docs ``ids`` in ``land``, each doc
    with one PDF link and one invalid href, its mtime ``age_days`` back."""
    docs = [
        (
            f"https://e.com/{i}",
            f"<a href='https://e.com/{i}.pdf'>D{i}</a><a href='http://'>x</a>",
        )
        for i in ids
    ]
    path = str(land / f"{name}.{fmt}")
    if fmt == "parquet":
        tmp = str(land.parent / f"tmp_{name}")
        spark.createDataFrame(
            [(d, [("html", html, None, 0)]) for d, html in docs], DOCS
        ).coalesce(1).write.parquet(tmp)
        shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], path)
    elif fmt == "jsonl":
        with open(path, "w") as f:
            for d, html in docs:
                span = {"kind": "html", "text": html, "media_ref": None, "offset": 0}
                f.write(json.dumps({"doc_id": d, "spans": [span]}) + "\n")
    else:
        with open(path, "wb") as f:
            for d, html in docs:
                f.write(
                    b"WARC/1.0\r\nWARC-Type: response\r\n"
                    + f"WARC-Target-URI: {d}\r\n".encode()
                    + f"Content-Length: {len(html)}\r\n\r\n".encode()
                    + html.encode()
                    + b"\r\n\r\n"
                )
    t = time.time() - age_days * 86400
    os.utime(path, (t, t))


@pytest.mark.parametrize("fmt", ["parquet", "jsonl", "warc"])
def test_resume_drains_new_and_aged_files(spark, tmp_path, capsys, fmt):
    """extract --resume: run 1 extracts every landed doc, run 2 appends
    to no table, run 3 extracts exactly a new file and one landed with
    a 30-day-old mtime, their error and metrics rows under the run_id
    it prints."""
    from web_content_extractor_spark.jobs import main

    land = tmp_path / "land"
    land.mkdir()
    tables = [str(tmp_path / t) for t in ("out", "met", "err", "cont")]
    argv = ["extract", "--input", str(land), "--input-format", fmt,
            "--output", tables[0], "--metrics", tables[1],
            "--errors", tables[2], "--content-output", tables[3], "--resume"]

    def run():
        assert main(argv) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    def counts():
        return [spark.read.parquet(t).count() for t in tables]

    def doc_ids(table, run_id=None):
        df = spark.read.parquet(table)
        if run_id:
            df = df.where(F.col("run_id") == run_id)
        return sorted(r.doc_id for r in df.select("doc_id").collect())

    _land(spark, fmt, land, "a", [0, 1])
    _land(spark, fmt, land, "b", [2])
    assert run()["docs"] == 3
    n1 = counts()
    assert n1[0] == n1[2] == n1[3] == 3 and n1[1] > 0

    assert run()["docs"] == 0
    assert counts() == n1

    _land(spark, fmt, land, "c", [3])
    _land(spark, fmt, land, "d", [4], age_days=30)
    r3 = run()
    assert r3["docs"] == 2
    assert doc_ids(tables[0]) == [f"https://e.com/{i}" for i in range(5)]
    assert doc_ids(tables[2], r3["run_id"]) == ["https://e.com/3", "https://e.com/4"]
    met = spark.read.parquet(tables[1])
    assert met.where(F.col("run_id") == r3["run_id"]).count() > 0
    assert counts()[3] == 5


def test_jobs_cli_end_to_end(spark, tmp_path):
    """python -m web_content_extractor_spark.jobs extract over fixture docs."""
    from web_content_extractor_spark.datagen import fixture_docs
    from web_content_extractor_spark.jobs import main

    inp, outp, met, cont = (str(tmp_path / d) for d in
                            ("in", "out", "metrics", "content"))
    fixture_docs(spark).write.parquet(inp)
    rc = main(["extract", "--input", inp, "--output", outp, "--metrics", met,
               "--content-output", cont, "--resume"])
    assert rc == 0
    out = spark.read.parquet(outp)
    assert out.count() == fixture_docs(spark).count()
    assert spark.read.parquet(met).count() > 0
    content = spark.read.parquet(cont)
    assert set(content.columns) == {"doc_id", "spans"}
    n_content = content.count()
    # resumable: a second run is a no-op, nothing double-appended —
    # content rows included, they follow the stream's checkpoint too
    rc = main(["extract", "--input", inp, "--output", outp, "--metrics", met,
               "--content-output", cont, "--resume"])
    assert rc == 0
    assert spark.read.parquet(outp).count() == out.count()
    assert spark.read.parquet(cont).count() == n_content


def test_perf_category_thresholds(spark):
    """Reference buckets pinned at 0.5/2/7/15 s (test_value_objects.py)."""
    from web_content_extractor_spark.operators.metrics import (
        is_slow,
        perf_category,
    )
    from pyspark.sql import functions as F

    rows = [(int(s * 1e6),) for s in (0.5, 2.0, 7.0, 15.0)]
    df = spark.createDataFrame(rows, "proc_us long").select(
        "proc_us",
        perf_category(F.col("proc_us")).alias("cat"),
        is_slow(F.col("proc_us")).alias("slow"),
    )
    got = [(r.cat, r.slow) for r in df.orderBy("proc_us").collect()]
    assert got == [("fast", False), ("normal", False),
                   ("slow", True), ("critical", True)]


def test_crawl_duplicate_nav_targets_one_round(spark):
    # Two pages crawled in the SAME round both link to /shared:
    # navigation_links dedups only per (doc_id, nav_url), so the round's
    # frontier used to carry the duplicate into the next batch, where
    # create_map raised DUPLICATED_MAP_KEY and the duplicate
    # double-counted against max_pages.  The frontier is now deduped on
    # nav_url (first occurrence in priority order).
    H = "https://dup.example.org"
    mk = lambda body: [{"kind": "html", "text": body, "media_ref": None, "offset": 0}]
    docs = spark.createDataFrame(
        [
            (f"{H}/", mk(f'<a href="{H}/module-a">Module A</a>'
                         f'<a href="{H}/module-b">Module B</a>')),
            (f"{H}/module-a", mk(f'<a href="{H}/shared">Shared</a>')),
            (f"{H}/module-b", mk(f'<a href="{H}/shared">Shared</a>')),
            (f"{H}/shared", mk(f'<a href="{H}/end.pdf">End PDF</a>')),
        ],
        schema=DOCS,
    )
    # max_pages=5 leaves budget 2 after round 2, so pre-fix BOTH
    # duplicate /shared rows land in the collected frontier -> crash
    res = crawl(spark, docs, f"{H}/", max_pages=5).collect()
    assert len(res) == 1
    row = res[0]
    # root(2) + module-a(1) + module-b(1) + shared(1, visited ONCE)
    assert row.total_links == 5
    assert row.pdf_count == 1  # /shared's PDF counted exactly once
