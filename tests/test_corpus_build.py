"""End-to-end corpus-build job: curate -> chunk -> shard -> pack -> write."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from web_content_extractor_spark.jobs import main


def _write_docs(spark, path, n=40):
    # texts long enough to pass the quality battery and span chunks;
    # doc 0 and 1 are exact duplicates so curation drops one
    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the quiet field while the morning light slowly rises "
    ) * 4
    rows = [(i, base if i <= 1 else base + f" unique tail {i} " + base)
            for i in range(n)]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(path)


def test_corpus_build_end_to_end(spark, tmp_path, capsys):
    src = str(tmp_path / "docs")
    out = str(tmp_path / "corpus")
    _write_docs(spark, src)
    rc = main([
        "corpus",
        "--input", src,
        "--output", out,
        "--chunk-size", "64",
        "--chunk-overlap", "16",
        "--shards", "4",
        "--pack-budget", "128",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    st = summary["corpus"]
    assert st["docs_selected"] == 39  # one exact duplicate dropped
    assert st["chunks"] > 0 and st["packs"] > 0 and st["tokens"] > 0

    df = spark.read.parquet(out)
    assert set(df.columns) >= {
        "doc_id", "chunk_id", "n_tokens", "shard", "shard_pos",
        "pack_id", "pack_offset",
    }
    # pack invariants: offsets inside the budget, and within a shard the
    # running token count reproduces (pack_id, pack_offset) exactly
    assert df.where(
        (F.col("pack_offset") < 0) | (F.col("pack_offset") >= 128)
    ).count() == 0
    rows = df.orderBy("shard", "shard_pos", "chunk_id").collect()
    running: dict[int, int] = {}
    for r in rows:
        before = running.get(r.shard, 0)
        assert r.pack_id == before // 128
        assert r.pack_offset == before % 128
        running[r.shard] = before + r.n_tokens
    assert set(running) == set(r.shard for r in rows)

    # determinism: a rerun selects and packs identically
    out2 = str(tmp_path / "corpus2")
    rc = main([
        "corpus", "--input", src, "--output", out2,
        "--chunk-size", "64", "--chunk-overlap", "16",
        "--shards", "4", "--pack-budget", "128",
    ])
    assert rc == 0
    a = sorted(map(tuple, spark.read.parquet(out).collect()))
    b = sorted(map(tuple, spark.read.parquet(out2).collect()))
    assert a == b


def test_corpus_flags_must_pair(spark, capsys):
    rc = main(["corpus", "--input", "/nope"])
    assert rc == 2
    assert "--output" in capsys.readouterr().err


def test_compact_cli_mode(spark, tmp_path, capsys):
    src = str(tmp_path / "frag")
    spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.sha2(F.col("id").cast("string"), 256).alias("text"),
    ).repartition(32).write.mode("overwrite").parquet(src)
    dst = str(tmp_path / "compacted")
    rc = main(["compact", "--input", src, "--output", dst,
               "--target-mb", "1024"])
    assert rc == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    c = st["compaction"]
    assert c["files_before"] == 32 and c["files_after"] == 1
    assert spark.read.parquet(dst).count() == 2000


def test_compact_flags_must_pair(spark, capsys):
    rc = main(["compact", "--input", "/nope"])
    assert rc == 2
    assert "--output" in capsys.readouterr().err


def test_corpus_build_empty_selection_still_readable(spark, tmp_path, capsys):
    src = str(tmp_path / "junk")
    # every doc fails the quality battery (brace marker + tiny)
    spark.createDataFrame(
        [(i, "{ }") for i in range(10)], "doc_id long, text string"
    ).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "empty_corpus")
    rc = main(["corpus", "--input", src, "--output", out])
    assert rc == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["corpus"]["docs_selected"] == 0
    df = spark.read.parquet(out)  # schema preserved, zero rows
    assert df.count() == 0
    assert "pack_id" in df.columns and "shard" in df.columns


def test_corpus_build_with_mixture_rates(spark, tmp_path, capsys):
    src = str(tmp_path / "mix_docs")
    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the quiet field while the morning light slowly rises "
    ) * 4
    spark.createDataFrame(
        [(i, f"s{i % 2}", base + f" tail {i} " + base) for i in range(40)],
        "doc_id long, source string, text string",
    ).write.mode("overwrite").parquet(src)
    rates_p = str(tmp_path / "rates")
    spark.createDataFrame(
        [("s0", 1.0), ("s1", 0.0)], "source string, rate double"
    ).write.mode("overwrite").parquet(rates_p)
    out = str(tmp_path / "mix_corpus")
    rc = main([
        "corpus", "--input", src, "--output", out,
        "--mixture-rates", rates_p,
    ])
    assert rc == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # rate 0 drops every s1 doc; rate 1 keeps every s0 doc
    assert st["corpus"]["docs_selected"] == 20
    ids = {r.doc_id for r in spark.read.parquet(out)
           .select("doc_id").distinct().collect()}
    assert ids == {i for i in range(40) if i % 2 == 0}  # s0 == even ids


def test_corpus_build_with_bpe_training(spark, tmp_path, capsys):
    src = str(tmp_path / "docs")
    out = str(tmp_path / "corpus")
    _write_docs(spark, src, n=12)
    rc = main([
        "corpus",
        "--input", src,
        "--output", out,
        "--chunk-size", "64",
        "--shards", "2",
        "--train-bpe", "15",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    bp = summary["bpe"]
    assert bp["merges_requested"] == 15
    assert 0 < bp["merges_learned"] <= 15
    merges = spark.read.parquet(bp["output"]).orderBy("rank").collect()
    assert len(merges) == bp["merges_learned"]
    assert [m.rank for m in merges] == list(range(1, len(merges) + 1))
    # learned on the training text: "the" is the most common word, so
    # early merges build it; counts never increase with rank order is
    # NOT guaranteed (merged symbols create new pairs), but every
    # count must be >= 2 (the trainer's cutoff)
    assert all(m.cnt >= 2 for m in merges)


def test_ann_job_end_to_end(spark, tmp_path, capsys):
    """ann: index + search straight from parquet to parquet."""
    from tests.conftest import SF_DIR

    corpus = f"{SF_DIR}/embeddings.parquet"
    queries = str(tmp_path / "queries")
    out = str(tmp_path / "topk")
    spark.read.parquet(corpus).where("vec_id < 4").write.mode(
        "overwrite"
    ).parquet(queries)
    rc = main([
        "ann",
        "--corpus", corpus,
        "--queries", queries,
        "--output", out,
        "--method", "ivfpq",
        "--k", "3",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["ann"]["method"] == "ivfpq"
    assert summary["ann"]["queries"] == 4
    assert summary["ann"]["pairs"] == 12  # 4 queries x k=3
    topk = spark.read.parquet(out)
    assert set(topk.columns) == {"query_id", "neighbor_id", "cos_sim", "rank"}
    ranks = {r.rank for r in topk.collect()}
    assert ranks == {1, 2, 3}


def test_ann_job_flag_validation(capsys):
    rc = main(["ann", "--corpus", "/nope"])
    assert rc == 2
    assert "--queries" in capsys.readouterr().err


def test_corpus_build_domain_curation_and_dirty_gate(spark, tmp_path, capsys):
    """--curate-domains drops every doc of a low-quality SOURCE;
    --dirty-tau drops docs colliding with the benchmark gram set."""
    src = str(tmp_path / "docs")
    out = str(tmp_path / "corpus")
    snips = str(tmp_path / "snips")
    good = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the quiet field while the morning light slowly rises "
    ) * 4
    # spam source: passes the per-doc C4/Gopher filter battery (plain
    # words, sane lengths, no symbols) but scores low on the 0-100
    # quality heuristic (zero stopwords, <100 tokens -> score ~25),
    # so only the SOURCE-level mean-quality gate catches it
    spam = " ".join(
        f"zorblat{i} quixler vemplar drossen kelpix" for i in range(10)
    )
    snippet = (
        "alpha beta gamma delta epsilon zeta eta theta "
        "iota kappa lambda mu nu xi omicron pi"
    )  # 16 tokens -> 9 distinct 8-grams in the benchmark gram set
    # doc 200 carries the snippet VERBATIM: the boolean `contains`
    # sweep (curation_manifest) removes it before the dirty gate runs
    leak_verbatim = good + " " + snippet + " " + good
    # doc 201 is a PARTIAL leak: only the snippet's first 11 tokens
    # (the copy was interrupted mid-snippet), so no verbatim substring
    # survives for `contains` — but 4 of its 8-grams still collide,
    # which only the quantitative gate can see
    leak_partial = (
        good + " alpha beta gamma delta epsilon zeta eta theta "
        "iota kappa lambda interrupted here " + good
    )
    rows = [(i, good + f" unique tail {i} " + good, "web") for i in range(12)]
    # unique per doc: identical texts would be exact-dedup'd down to
    # one survivor, leaving the source under --domain-min-docs
    rows += [(100 + i, spam + f" trailer{i}", "spamfarm") for i in range(12)]
    rows += [(200, leak_verbatim, "web"), (201, leak_partial, "web")]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.mode("overwrite").parquet(src)
    spark.createDataFrame(
        [(1, snippet)],
        "snippet_id long, snippet string",
    ).write.mode("overwrite").parquet(snips)

    rc = main([
        "corpus",
        "--input", src,
        "--output", out,
        "--benchmark-snippets", snips,
        "--curate-domains",
        "--domain-min-docs", "5",
        "--domain-min-quality", "33.5",
        "--dirty-tau", "0.005",
        "--chunk-size", "64",
        "--chunk-overlap", "16",
        "--shards", "2",
        "--pack-budget", "128",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["domain_curation"]["dropped_sources"] == ["spamfarm"]
    # the partial leak (doc 201) is invisible to the boolean sweep but
    # dropped by the quantitative gate — the gate earns its place
    assert summary["dirty_gate"]["dropped"] >= 1
    # doc 200 (verbatim leak): boolean sweep flags it via the manifest;
    # and no spamfarm doc survives to the output
    kept_ids = {
        r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
    }
    assert kept_ids and all(i < 100 for i in kept_ids)
    assert 200 not in kept_ids
    assert 201 not in kept_ids


def test_dirty_gate_requires_snippets(spark, tmp_path, capsys):
    src = str(tmp_path / "docs")
    out = str(tmp_path / "corpus")
    _write_docs(spark, src, n=10)
    rc = main([
        "corpus",
        "--input", src,
        "--output", out,
        "--dirty-tau", "0.01",
        "--chunk-size", "64",
        "--shards", "2",
        "--pack-budget", "128",
    ])
    # without snippets the gate would score against an empty gram set
    # and report dropped:0 as if decontamination ran — reject instead
    assert rc == 2
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "--benchmark-snippets" in err["error"]


def test_dirty_gate_rejects_empty_snippet_table(spark, tmp_path, capsys):
    """An EMPTY snippet parquet passes the flag-pair validation but
    would make the gate a silent dropped:0 no-op — reject it too."""
    src = str(tmp_path / "docs")
    out = str(tmp_path / "corpus")
    snips = str(tmp_path / "snips")
    _write_docs(spark, src, n=10)
    spark.createDataFrame(
        [], "snippet_id long, snippet string"
    ).write.mode("overwrite").parquet(snips)
    rc = main([
        "corpus",
        "--input", src,
        "--output", out,
        "--benchmark-snippets", snips,
        "--dirty-tau", "0.01",
        "--chunk-size", "64",
        "--shards", "2",
        "--pack-budget", "128",
    ])
    assert rc == 2
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "empty" in err["error"]
