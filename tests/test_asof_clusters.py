"""Tests for the as-of join and duplicate-cluster operators."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from web_content_extractor_spark.operators import dedup_docs
from web_content_extractor_spark.operators.asof import asof_join

_T0 = dt.datetime(2024, 1, 1)


def _ts(s: float) -> dt.datetime:
    return _T0 + dt.timedelta(seconds=s)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id: bigint, ts: timestamp, user_id: bigint, value: double"
    )


def test_asof_matches_most_recent_prior(spark):
    left = _events(spark, [(1, _ts(10), 7, 0.0), (2, _ts(30), 7, 0.0)])
    right = _events(
        spark, [(100, _ts(5), 7, 1.5), (101, _ts(20), 7, 2.5), (102, _ts(40), 7, 3.5)]
    )
    out = {r.event_id: r for r in asof_join(left, right).collect()}
    assert out[1].matched_event_id == 100 and out[1].lag_us == 5_000_000
    assert out[2].matched_event_id == 101 and out[2].lag_us == 10_000_000


def test_asof_equal_timestamp_is_inclusive(spark):
    left = _events(spark, [(1, _ts(10), 7, 0.0)])
    right = _events(spark, [(100, _ts(10), 7, 9.0)])
    row = asof_join(left, right).collect()[0]
    assert row.matched_event_id == 100 and row.lag_us == 0


def test_asof_no_prior_right_row_yields_nulls(spark):
    left = _events(spark, [(1, _ts(1), 7, 0.0)])
    right = _events(spark, [(100, _ts(5), 7, 1.0)])
    row = asof_join(left, right).collect()[0]
    assert row.matched_event_id is None and row.lag_us is None


def test_asof_keys_do_not_leak(spark):
    left = _events(spark, [(1, _ts(10), 7, 0.0)])
    right = _events(spark, [(100, _ts(5), 8, 1.0)])  # other user
    row = asof_join(left, right).collect()[0]
    assert row.matched_event_id is None


def test_asof_equal_ts_right_rows_deterministic(spark):
    left = _events(spark, [(1, _ts(10), 7, 0.0)])
    right = _events(
        spark, [(101, _ts(5), 7, 1.0), (100, _ts(5), 7, 2.0)]  # tie at ts=5
    )
    row = asof_join(left, right).collect()[0]
    # min event_id wins the (key, ts) tie
    assert row.matched_event_id == 100 and row.matched_value == 2.0


def test_clusters_transitive_chain(spark):
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(6)], "doc_id: bigint, text: string"
    )
    # chain 0-1-2-3 (diameter 3 forces multiple propagation rounds) + 4-5
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (4, 5)], "doc_a: bigint, doc_b: bigint"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in dedup_docs.duplicate_clusters(docs, pairs=pairs).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4}


def test_clusters_singletons_self_labeled(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = dedup_docs.duplicate_clusters(docs, min_jaccard=0.8)
    assert out.count() == docs.count()
    # cluster id is always <= doc id (min-label) and a real doc id
    assert out.where(F.col("cluster_id") > F.col("doc_id")).count() == 0
    ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert all(r.cluster_id in ids for r in out.collect())


def test_resample_gap_fill(spark):
    from web_content_extractor_spark.operators.timeseries import resample_counts

    ev = spark.createDataFrame(
        [
            (1, _ts(0), 7, "a", 0.0),       # hour 0
            (2, _ts(60), 7, "a", 0.0),      # hour 0
            (3, _ts(3 * 3600), 7, "a", 0.0),  # hour 3 (hours 1-2 empty)
            (4, _ts(3600), 7, "b", 0.0),    # hour 1
        ],
        "event_id: bigint, ts: timestamp, user_id: bigint, "
        "event_type: string, value: double",
    )
    out = {
        (r.event_type, r.bin_ts.hour): r.n
        for r in resample_counts(ev).collect()
    }
    # dense grid: 2 keys x 4 hours = 8 rows, gaps zero-filled
    assert len(out) == 8
    assert out[("a", 0)] == 2 and out[("a", 1)] == 0
    assert out[("a", 2)] == 0 and out[("a", 3)] == 1
    assert out[("b", 1)] == 1 and out[("b", 0)] == 0
    assert out[("b", 2)] == 0 and out[("b", 3)] == 0


def test_resample_and_asof_empty_inputs(spark):
    from web_content_extractor_spark.operators.timeseries import resample_counts

    empty = spark.createDataFrame(
        [],
        "event_id: bigint, ts: timestamp, user_id: bigint, "
        "event_type: string, value: double",
    )
    assert resample_counts(empty).count() == 0
    # asof with an empty right side: all left rows kept, null matches
    left = _events(spark, [(1, _ts(10), 7, 0.0)])
    rows = asof_join(left, empty.select("event_id", "ts", "user_id", "value")).collect()
    assert len(rows) == 1 and rows[0].matched_event_id is None


def test_clusters_shortcut_logarithmic_on_chain(spark):
    """Path-halving must converge in O(log n) rounds on a chain where
    plain propagation needs O(n); both reach the same fixpoint."""
    n = 64
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(n)], "doc_id: bigint, text: string"
    )
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a: bigint, doc_b: bigint"
    )
    fast, fast_rounds = dedup_docs.duplicate_clusters(
        docs, pairs=chain, max_iter=100, shortcut=True, with_rounds=True
    )
    slow, slow_rounds = dedup_docs.duplicate_clusters(
        docs, pairs=chain, max_iter=100, shortcut=False, with_rounds=True
    )
    got_fast = {r.doc_id: r.cluster_id for r in fast.collect()}
    got_slow = {r.doc_id: r.cluster_id for r in slow.collect()}
    assert got_fast == got_slow == {i: 0 for i in range(n)}
    assert fast_rounds <= 12 < slow_rounds  # log2(64)+slack vs ~n rounds


def test_asof_random_differential(spark):
    """Seeded random events: the as-of join equals a brute-force
    most-recent-prior scan (keys without right rows, left rows before
    any right row, right keys no left row asks for)."""
    import random

    rng = random.Random(7)
    lrows = [(i, _ts(rng.uniform(0, 4 * 3600)), rng.randint(0, 3), 0.0)
             for i in range(200)]
    rrows = [(1000 + i, _ts(rng.uniform(0, 4 * 3600)), rng.randint(0, 4), float(i))
             for i in range(60)]
    expected = {}
    for eid, ts, uid, _ in lrows:
        prior = [r for r in rrows if r[2] == uid and r[1] <= ts]
        # most recent wins; equal timestamps -> smallest event_id
        m = max(prior, key=lambda r: (r[1], -r[0])) if prior else None
        expected[eid] = (
            (m[0], m[3], (ts - m[1]) // dt.timedelta(microseconds=1))
            if m else (None, None, None)
        )
    got = {
        r.event_id: (r.matched_event_id, r.matched_value, r.lag_us)
        for r in asof_join(_events(spark, lrows), _events(spark, rrows)).collect()
    }
    assert got == expected
    assert sum(v[0] is None for v in expected.values()) > 0
    assert sum(v[0] is not None for v in expected.values()) > 100


def test_resample_excludes_null_keys_and_ts(spark):
    from web_content_extractor_spark.operators.timeseries import resample_counts

    ev = spark.createDataFrame(
        [
            (1, _ts(0), 7, "a", 0.0),
            (2, _ts(0), 7, None, 0.0),   # null key: excluded, not zeroed
            (3, None, 7, "a", 0.0),      # null ts: excluded
        ],
        "event_id: bigint, ts: timestamp, user_id: bigint, "
        "event_type: string, value: double",
    )
    rows = resample_counts(ev).collect()
    assert [(r.event_type, r.n) for r in rows] == [("a", 1)]


def test_asof_custom_right_cols_without_event_id(spark):
    quotes = spark.createDataFrame(
        [(7, _ts(5), 1.5, 1.6)],
        "user_id: bigint, ts: timestamp, bid: double, ask: double",
    )
    trades = _events(spark, [(1, _ts(10), 7, 0.0)])
    row = asof_join(
        trades, quotes, right_cols=("bid", "ask")
    ).collect()[0]
    assert row.matched_bid == 1.5 and row.matched_ask == 1.6


def _iv_tables(spark):
    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)

    def at(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    events = spark.createDataFrame(
        [(i, at(m)) for i, m in enumerate([0, 10, 59, 60, 61, 125, 700])],
        "event_id bigint, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [
            ("A", at(0), at(60)),       # inclusive both ends
            ("B", at(50), at(70)),      # straddles a bin boundary
            ("C", at(120), at(130)),    # short, mid-bin
            ("D", at(300), at(400)),    # matches nothing
            ("E", at(100), at(40)),     # inverted: end < start -> empty,
                                        # never a descending bin fan-out
        ],
        "iv_id string, w_start timestamp, w_end timestamp",
    )
    return events, intervals


def test_interval_join_between_semantics(spark):
    from web_content_extractor_spark.operators.asof import interval_join

    events, intervals = _iv_tables(spark)
    got = {
        (r.event_id, r.iv_id)
        for r in interval_join(events, intervals, bin_seconds=3600).collect()
    }
    assert got == {
        (0, "A"), (1, "A"), (2, "A"), (3, "A"),  # 60 inclusive
        (2, "B"), (3, "B"), (4, "B"),
        (5, "C"),
    }


def test_interval_join_equals_theta_join(spark):
    """Differential: bin equi-join == naive BETWEEN theta-join, across
    bin widths that do and don't divide the interval lengths."""
    from web_content_extractor_spark.operators.asof import interval_join

    events, intervals = _iv_tables(spark)
    naive = {
        (r.event_id, r.iv_id)
        for r in events.join(
            intervals,
            (F.col("ts") >= F.col("w_start")) & (F.col("ts") <= F.col("w_end")),
        ).collect()
    }
    for bin_s in (60, 420, 3600, 86400):
        got = {
            (r.event_id, r.iv_id)
            for r in interval_join(
                events, intervals, bin_seconds=bin_s
            ).collect()
        }
        assert got == naive, bin_s


def test_interval_join_skew_guard_raises(spark):
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from web_content_extractor_spark.operators.asof import interval_join

    events, intervals = _iv_tables(spark)
    with _pytest.raises((Py4JJavaError, SparkRuntimeException, Exception)) as ei:
        interval_join(
            events, intervals, bin_seconds=1, max_bins_per_interval=100
        ).collect()
    assert "interval_join" in str(ei.value)


def test_interval_join_random_differential(spark):
    """Seeded random events x intervals: bin equi-join == theta join
    at awkward bin widths (nothing aligned, overlapping intervals,
    zero-length intervals, duplicate timestamps)."""
    import random

    from web_content_extractor_spark.operators.asof import interval_join

    rnd = random.Random(7)
    t0 = dt.datetime(2026, 1, 1)
    events = [
        (i, t0 + dt.timedelta(seconds=rnd.randrange(0, 100_000)))
        for i in range(300)
    ]
    ivs = []
    for j in range(40):
        s = rnd.randrange(0, 100_000)
        ivs.append(
            (
                f"iv{j}",
                t0 + dt.timedelta(seconds=s),
                t0 + dt.timedelta(seconds=s + rnd.randrange(0, 20_000)),
            )
        )
    edf = spark.createDataFrame(events, "event_id bigint, ts timestamp")
    idf = spark.createDataFrame(
        ivs, "iv_id string, w_start timestamp, w_end timestamp"
    )
    naive = {
        (r.event_id, r.iv_id)
        for r in edf.join(
            idf,
            (F.col("ts") >= F.col("w_start")) & (F.col("ts") <= F.col("w_end")),
        ).collect()
    }
    assert naive  # non-degenerate fixture
    for bin_s in (777, 3600, 50_000):
        got = {
            (r.event_id, r.iv_id)
            for r in interval_join(edf, idf, bin_seconds=bin_s).collect()
        }
        assert got == naive, bin_s
