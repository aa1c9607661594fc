"""Crawl-plan CLI mode: robots ∘ blocklist ∘ politeness schedule."""

from __future__ import annotations

import json

from web_content_extractor_spark.jobs import main


def _write_inputs(spark, fdir, rdir):
    frontier = [
        ("a.com", f"https://a.com/p/{i}", i) for i in range(4)
    ] + [
        ("a.com", "https://a.com/private/x", 9),  # robots-disallowed
        ("b.com", "https://b.com/1", 0),
        ("b.com", "https://b.com/2", 0),
    ]
    spark.createDataFrame(
        frontier, "host string, url string, priority int"
    ).write.mode("overwrite").parquet(fdir)
    robots = [
        ("a.com", "User-agent: *\nDisallow: /private\nCrawl-delay: 2\n"),
        # b.com has no robots row -> default delay
    ]
    spark.createDataFrame(
        robots, "host string, robots string"
    ).write.mode("overwrite").parquet(rdir)


def test_crawl_plan_end_to_end(spark, tmp_path, capsys):
    fdir, rdir = str(tmp_path / "frontier"), str(tmp_path / "robots")
    out = str(tmp_path / "plan")
    _write_inputs(spark, fdir, rdir)
    rc = main([
        "plan",
        "--frontier", fdir,
        "--robots", rdir,
        "--output", out,
        "--default-delay", "0.5",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["crawl_plan"]["urls"] == 6  # disallowed URL dropped
    assert summary["crawl_plan"]["hosts"] == 2
    assert summary["crawl_plan"]["horizon_s"] == 6.0  # slot 3 x 2 s
    rows = {r.url: r for r in spark.read.parquet(out).collect()}
    assert "https://a.com/private/x" not in rows
    # a.com: priority desc -> /p/3 first; Crawl-delay 2 s
    assert rows["https://a.com/p/3"].slot == 0
    assert rows["https://a.com/p/0"].fetch_at_s == 6.0
    # b.com: no robots row -> default 0.5 s
    assert rows["https://b.com/2"].fetch_at_s == 0.5


def test_plan_flag_validation(spark, capsys):
    assert main(["plan", "--frontier", "/nope"]) == 2
    assert "--output" in capsys.readouterr().err
    assert main(["plan", "--robots", "/nope"]) == 2
    assert "--frontier" in capsys.readouterr().err


def _dup_docs(spark, path):
    base = " ".join(f"w{i}" for i in range(60))
    rows = [
        (1, base),
        (2, base),                              # exact dup of 1
        (3, base.replace("w30", "changed")),    # near dup of 1/2
        (4, " ".join(f"u{i}" for i in range(60))),  # unique
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(path)


def test_dedup_mode_simhash(spark, tmp_path, capsys):
    src, out = str(tmp_path / "docs"), str(tmp_path / "manifest")
    _dup_docs(spark, src)
    rc = main([
        "dedup", "--input", src, "--output", out,
        "--method", "simhash", "--hamming", "10",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["dedup"]["docs"] == 4
    assert summary["dedup"]["kept"] == 2       # one survivor per cluster
    assert summary["dedup"]["dropped"] == 2
    assert summary["dedup"]["in_dup_clusters"] == 3
    rows = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert rows[4].is_canonical and rows[4].cluster_size == 1
    assert {rows[i].cluster_id for i in (1, 2, 3)} == {1}


def test_dedup_mode_exact(spark, tmp_path, capsys):
    src, out = str(tmp_path / "docs"), str(tmp_path / "manifest")
    _dup_docs(spark, src)
    rc = main([
        "dedup", "--input", src, "--output", out,
        "--method", "exact",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # exact: only 1/2 collapse; 3 and 4 stand alone
    assert summary["dedup"]["kept"] == 3
    assert summary["dedup"]["in_dup_clusters"] == 2


def test_dedup_flag_validation(spark, capsys):
    assert main(["dedup", "--input", "/nope"]) == 2
    assert "--output" in capsys.readouterr().err


def test_plan_honors_allow_reopened_subtree(spark, tmp_path, capsys):
    fdir, rdir = str(tmp_path / "f"), str(tmp_path / "r")
    out = str(tmp_path / "plan")
    spark.createDataFrame(
        [("a.com", "https://a.com/a/b/c", 0),
         ("a.com", "https://a.com/a/x", 0)],
        "host string, url string, priority int",
    ).write.mode("overwrite").parquet(fdir)
    spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /a\nAllow: /a/b\n")],
        "host string, robots string",
    ).write.mode("overwrite").parquet(rdir)
    rc = main(["plan", "--frontier", fdir, "--robots", rdir,
               "--output", out])
    assert rc == 0
    urls = {r.url for r in spark.read.parquet(out).collect()}
    # RFC 9309: Allow /a/b re-opens the subtree the Disallow-only
    # prefix filter would have dropped
    assert urls == {"https://a.com/a/b/c"}


def test_dedup_exact_keeps_null_text_docs(spark, tmp_path, capsys):
    src, out = str(tmp_path / "docs"), str(tmp_path / "manifest")
    spark.createDataFrame(
        [(1, "same words"), (2, "same words"), (3, None)],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(src)
    rc = main(["dedup", "--input", src, "--output", out,
               "--method", "exact"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["dedup"]["docs"] == 3   # NULL-text doc not lost
    assert summary["dedup"]["kept"] == 2
    rows = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert rows[3].is_canonical and rows[3].cluster_size == 1


def test_dedup_empty_input_zero_summary(spark, tmp_path, capsys):
    src, out = str(tmp_path / "docs"), str(tmp_path / "manifest")
    spark.createDataFrame([], "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(src)
    rc = main(["dedup", "--input", src, "--output", out,
               "--method", "exact"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["dedup"] == {
        "method": "exact", "docs": 0, "kept": 0, "dropped": 0,
        "in_dup_clusters": 0, "output": out,
    }
