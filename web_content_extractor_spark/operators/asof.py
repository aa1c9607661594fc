"""As-of (most-recent-prior) join — the event-correlation operator.

Spark has no ASOF JOIN primitive; the naive range-join
(``l.ts >= r.ts`` + greatest-per-group) explodes row counts, so the
engine uses the canonical union + window formulation instead:

1. tag right rows 1 / left rows 0 and ``unionByName`` them;
2. ONE shuffle on the join key, then sort within each key by
   (ts, tag desc) — a right row at the same timestamp sorts before
   the left row, giving the standard ``l.ts >= r.ts`` inclusive
   semantics;
3. ``last(right_payload, ignorenulls=True)`` over
   rows-unbounded-preceding carries the most recent right row forward
   onto every left row;
4. keep left rows.

Cost at 100 TB: one hash shuffle on the key + a sort — no row
explosion, no Python.  A hot key (one user with millions of events)
sorts within a single partition: AQE skew-split cannot break a window
partition.

Right rows are first reduced to one per (key, ts) — arg-min by the
first of ``right_cols`` wins — so the match is deterministic even when
a key has equal-timestamp right rows; DuckDB's native ASOF JOIN
replays it as the oracle.

Engine-added (the reference is a single-page extractor; correlating
extraction events against checkpoint/lineage streams is the engine's
own ops surface, in the spirit of its processing_time metadata,
src/core/models.py:120-130).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# the events table's payload carried onto each matched left row
RIGHT_COLS = ("event_id", "value")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    right_cols: tuple[str, ...] = RIGHT_COLS,
) -> DataFrame:
    """For each left row, the most recent right row with
    ``right.ts <= left.ts`` on the same ``user_id`` (left join:
    unmatched rows keep NULL match columns).

    Returns the left columns plus ``matched_<col>`` for each of
    ``right_cols``, ``matched_ts``, and ``lag_us`` (microseconds since
    the matched right row; exact integer arithmetic — no float drift
    between engines).
    """
    on, ts = "user_id", "ts"
    # deterministic tie handling: one right row per (key, ts)
    r = (
        right.groupBy(on, ts)
        .agg(*[F.min_by(c, right_cols[0]).alias(c) for c in right_cols])
        .select(
            F.col(on),
            F.col(ts).alias("_r_ts"),
            F.struct(
                F.col(ts).alias("matched_ts"),
                *[F.col(c).alias(f"matched_{c}") for c in right_cols],
            ).alias("_r"),
            F.lit(1).alias("_tag"),
        )
    )
    l_cols = left.columns
    lhs = left.select(
        *l_cols,
        F.col(ts).alias("_r_ts"),
        F.lit(None).cast(r.schema["_r"].dataType).alias("_r"),
        F.lit(0).alias("_tag"),
    )
    rhs = r.select(
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            if c != on
            else F.col(on)
            for c in l_cols
        ],
        "_r_ts",
        "_r",
        "_tag",
    )
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("_r_ts").asc(), F.col("_tag").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        lhs.unionByName(rhs)
        .withColumn("_m", F.last("_r", ignorenulls=True).over(w))
        .where(F.col("_tag") == 0)
    )
    return matched.select(
        *l_cols,
        F.col("_m.matched_ts").alias("matched_ts"),
        *[F.col(f"_m.matched_{c}").alias(f"matched_{c}") for c in right_cols],
        (
            # cast handles TIMESTAMP_NTZ inputs; the session timezone is
            # pinned to UTC (session.py), so the NTZ->LTZ reading is stable
            F.unix_micros(F.col(ts).cast("timestamp"))
            - F.unix_micros(F.col("_m.matched_ts").cast("timestamp"))
        ).alias("lag_us"),
    )


def interval_join(
    events: DataFrame,
    intervals: DataFrame,
    bin_seconds: int = 3600,
    max_bins_per_interval: int = 100_000,
) -> DataFrame:
    """Range (interval) join: each event row paired with every interval
    ``[w_start, w_end]`` containing its timestamp (inclusive bounds —
    BETWEEN semantics).

    Spark plans a raw ``ts BETWEEN start AND end`` predicate as a
    broadcast-nested-loop / cartesian theta-join — O(|events| x
    |intervals|) comparisons, unusable at corpus scale.  The engine
    uses the standard time-binning reduction to an EQUI-join instead:

    1. events get one bin key ``floor(epoch(ts) / bin_seconds)``;
    2. intervals explode to the bins they cover
       (``sequence(bin(start), bin(end))`` — native, no Python);
    3. hash-join on the bin, then the exact BETWEEN filter.

    An event's bin is covered by every interval that can contain it,
    so each true pair is produced EXACTLY once (the event has a single
    bin) — no post-join dedup.  Cost at 100 TB: one shuffle keyed on
    time bins (high-cardinality, uniform for event-time data) plus
    interval fan-out of ~len/bin_seconds rows; choose ``bin_seconds``
    near the median interval length so fan-out stays O(1) per
    interval.  A degenerate interval that would explode past
    ``max_bins_per_interval`` bins raises (native raise_error guard)
    instead of silently materializing millions of rows — the
    semantic_duplicates-style skew tripwire.
    """
    ev_bin = F.floor(
        F.unix_timestamp(F.col("ts").cast("timestamp")) / bin_seconds
    ).cast("bigint")
    s_bin = F.floor(
        F.unix_timestamp(F.col("w_start").cast("timestamp")) / bin_seconds
    ).cast("bigint")
    e_bin = F.floor(
        F.unix_timestamp(F.col("w_end").cast("timestamp")) / bin_seconds
    ).cast("bigint")
    n_bins = e_bin - s_bin + 1
    guarded = F.when(
        n_bins > max_bins_per_interval,
        F.raise_error(
            F.concat(
                F.lit(
                    "interval_join: interval spans more than "
                    f"{max_bins_per_interval} bins of {bin_seconds}s "
                    "(start="
                ),
                F.col("w_start").cast("string"),
                F.lit(", end="),
                F.col("w_end").cast("string"),
                F.lit("); raise bin_seconds"),
            )
        ).cast("bigint"),
    ).otherwise(e_bin)
    # inverted interval (end < start) matches nothing under BETWEEN —
    # emit an empty bin array (a bare sequence(s, e) with s > e would
    # generate a DESCENDING sequence, silently bypassing the guard and
    # re-creating the unbounded fan-out it exists to stop)
    bins = F.when(
        e_bin < s_bin, F.array().cast("array<bigint>")
    ).otherwise(F.sequence(s_bin, guarded))
    iv = intervals.withColumn("__bin", F.explode(bins))
    ev = events.withColumn("__bin", ev_bin)
    return (
        ev.join(iv, "__bin")
        .where(
            (F.col("ts") >= F.col("w_start"))
            & (F.col("ts") <= F.col("w_end"))
        )
        .drop("__bin")
    )
