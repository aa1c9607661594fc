"""Byte-weighted range rebalance (operators/rebalance.py).

Row-balanced ranges straggle when doc sizes are heavy-tailed; the
byte-weighted layout must (a) equalize per-partition BYTES on a skewed
corpus where row-balancing provably does not, (b) keep the data
row-identical, and (c) cost exactly one exchange.
"""

import pytest
from pyspark.sql import functions as F

from web_content_extractor_spark.operators.rebalance import (
    byte_balanced,
    partition_weight_stats,
    weighted_range_boundaries,
)

P = 8


def _skewed(spark, n_small=4000, n_giant=12, small=100, giant=200_000):
    """Heavy-tailed corpus: giants clustered at the TOP of the key
    range, so row-balanced range partitioning piles every giant into
    the last partition."""
    smalls = spark.range(n_small).select(
        F.format_string("doc-%06d", F.col("id")).alias("doc_id"),
        F.lit(float(small)).alias("w"),
    )
    giants = spark.range(n_giant).select(
        F.format_string("doc-9%05d", F.col("id")).alias("doc_id"),
        F.lit(float(giant)).alias("w"),
    )
    return smalls.union(giants)


def _max_over_mean(df):
    rows = df.collect()
    tw = [r.total_weight for r in rows]
    return max(tw) / (sum(tw) / len(tw))


def test_byte_balanced_beats_row_balanced_on_heavy_tail(spark):
    docs = _skewed(spark)

    row_layout = docs.repartitionByRange(P, "doc_id")
    byte_layout = byte_balanced(docs, "doc_id", F.col("w"), P)

    row_ratio = _max_over_mean(partition_weight_stats(row_layout, F.col("w")))
    byte_ratio = _max_over_mean(
        partition_weight_stats(byte_layout, F.col("w"))
    )
    # row-balancing piles the clustered giants into one partition:
    # that partition carries ~12*200k of ~2.8M total = ~6.8x the mean
    assert row_ratio > 3.0
    # byte-balancing spreads them; bound is loose for sampling noise
    assert byte_ratio < 1.6
    assert byte_layout.rdd.getNumPartitions() == P


def test_rows_identical_and_schema_unchanged(spark):
    docs = _skewed(spark, n_small=500, n_giant=5)
    out = byte_balanced(docs, "doc_id", F.col("w"), P)
    assert out.columns == docs.columns
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, docs.collect())
    )


def test_single_exchange(spark):
    docs = _skewed(spark, n_small=500, n_giant=5)
    plan = (
        byte_balanced(docs, "doc_id", F.col("w"), P)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1
    # a plain hash exchange on the perfect-hash routing key: no
    # RangePartitioner boundary-sampling job, no rdd.id-seeded
    # nondeterminism (the pre-fix flake: same plan, different session
    # history -> two classes merged into one partition)
    assert "hashpartitioning" in plan.lower()
    assert "rangepartitioning" not in plan.lower()


def test_deterministic_boundaries(spark):
    docs = _skewed(spark, n_small=500, n_giant=5)
    b1 = weighted_range_boundaries(docs, "doc_id", F.col("w"), 64)
    b2 = weighted_range_boundaries(docs, "doc_id", F.col("w"), 64)
    assert b1 == b2 and len(b1) == 63


def test_edge_cases(spark):
    empty = spark.createDataFrame([], "doc_id string, w double")
    assert byte_balanced(empty, "doc_id", F.col("w"), P).count() == 0

    one = spark.createDataFrame([("a", 1.0)], "doc_id string, w double")
    assert byte_balanced(one, "doc_id", F.col("w"), P).collect() == [
        ("a", 1.0)
    ]
    # single partition short-circuits to coalesce
    assert (
        byte_balanced(one, "doc_id", F.col("w"), 1).rdd.getNumPartitions()
        == 1
    )
    # null weights count as 1, never crash
    nulls = spark.createDataFrame(
        [("a", None), ("b", 2.0)], "doc_id string, w double"
    )
    assert byte_balanced(nulls, "doc_id", F.col("w"), 2).count() == 2

    with pytest.raises(ValueError):
        byte_balanced(one, "doc_id", F.col("w"), 0)


def test_randomized_invariants(spark):
    """Seeded randomized corpora (duplicate keys, zero/null weights,
    extreme skew): rows are always preserved exactly, same-key rows
    land in the same partition (the routing key is a pure function of
    doc_id), and no partition exceeds a loose weight bound when
    per-row atomicity allows balance at all."""
    import random

    rnd = random.Random(11)
    for trial in range(4):
        n = rnd.randrange(50, 400)
        rows = []
        for i in range(n):
            key = f"k{rnd.randrange(n // 2):05d}"  # duplicates likely
            w = rnd.choice(
                [None, 0.0, 1.0, float(rnd.randrange(1, 50)),
                 float(rnd.randrange(1000, 5000))]
            )
            rows.append((key, w, i))
        docs = spark.createDataFrame(
            rows, "doc_id string, w double, payload long"
        )
        p = rnd.choice([2, 5, 16])
        out = byte_balanced(docs, "doc_id", F.col("w"), p)
        # rows preserved exactly (multiset equality via payload ids)
        assert sorted(r.payload for r in out.collect()) == list(range(n))
        # same key -> same partition
        placed = (
            out.select("doc_id", F.spark_partition_id().alias("pid"))
            .distinct()
            .groupBy("doc_id")
            .count()
            .where("count > 1")
            .count()
        )
        assert placed == 0, f"trial {trial}: key split across partitions"


@pytest.mark.parametrize("balance", ["rows", "bytes"])
def test_pipeline_balance_bytes_output_equal(spark, balance):
    """extract() output is independent of the balance mode, and a
    misspelt mode (or True, which has no mode to name) raises instead
    of silently row-balancing."""
    from web_content_extractor_spark.datagen import fixture_docs
    from web_content_extractor_spark.plans.pipeline import extract

    docs = fixture_docs(spark)

    def canon(rows):
        # fixture doc_ids are NOT unique — compare sorted row lists
        return sorted(
            (r.doc_id, tuple(tuple(s) for s in r.spans)) for r in rows
        )

    base = canon(extract(docs).collect())
    balanced = canon(extract(docs, balance=balance).collect())
    assert base == balanced
    for bad in ("row", True):
        with pytest.raises(ValueError, match="balance must be"):
            extract(docs, balance=bad)


def test_murmur3_parity_with_spark_hash(spark):
    """The driver-side Murmur3 twin must equal Spark's F.hash on
    IntegerType for the routing trick to place classes exactly —
    pins the perfect-hash keys against engine drift."""
    from web_content_extractor_spark.operators.rebalance import (
        murmur3_int32,
        perfect_hash_keys,
    )

    vals = list(range(-100, 400)) + [2**31 - 1, -(2**31)]
    got = {
        r.v: r.h
        for r in spark.createDataFrame([(v,) for v in vals], "v int")
        .select("v", F.hash("v").alias("h"))
        .collect()
    }
    assert got == {v: murmur3_int32(v) for v in vals}
    # and the precomputed keys really are a bijection onto 0..P-1
    for p in (2, 8, 37, 256):
        keys = perfect_hash_keys(p)
        assert sorted(murmur3_int32(k) % p for k in keys) == list(range(p))


def test_exact_class_placement_is_session_independent(spark):
    """Every non-empty class owns its own partition: the pre-fix
    repartitionByRange tail could merge classes after enough session
    history (rdd.id-seeded sampler) — the full pytest suite caught it
    merging two of eight.  Burn some rdd ids, then demand one class
    per partition."""
    docs = _skewed(spark)
    for _ in range(3):  # advance rdd-id state like a busy session
        docs.limit(10).count()
    stats = partition_weight_stats(
        byte_balanced(docs, "doc_id", F.col("w"), P), F.col("w")
    ).collect()
    assert len(stats) == P  # no empty partitions, no merged classes
