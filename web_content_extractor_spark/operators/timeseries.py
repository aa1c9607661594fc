"""Time-series resample with gap-fill.

Regularizing an event stream onto a dense time grid (zero-filled
bins) is the step every monitoring/trend query needs before rates,
moving averages, or anomaly baselines make sense — missing bins ARE
the signal (an extraction pipeline that emitted nothing for an hour).

Shape at scale: the counts aggregation is ONE balanced shuffle on
(key, bin); the dense spine is generated analytically
(sequence(min, max) x distinct keys) — its size is bounded by
bins x keys, independent of the event count, so the gap-fill join is
a broadcast of the count side's small output onto the spine (or
vice versa), never a reshuffle of the raw events.

Engine-added operator (the reference has no time dimension beyond
per-extraction processing_time, src/core/models.py:120-130).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def resample_counts(events: DataFrame) -> DataFrame:
    """(event_type, bin_ts, n): events per hour-truncated ``ts`` bin, with
    EVERY (event_type, bin) combination between the global min and max bin present
    — empty bins zero-filled.

    NULL keys are excluded up front: the gap-fill equi-join is
    null-unsafe, so a NULL-key series would silently report 0 for
    bins that actually contain events — exclusion is the only honest
    semantics (filter/fix NULL keys upstream if they matter).
    """
    binned = events.where(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    ).select(
        "event_type",
        F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("bin_ts"),
    )
    counts = binned.groupBy("event_type", "bin_ts").agg(F.count("*").alias("n"))
    bounds = binned.agg(
        F.min("bin_ts").alias("lo"), F.max("bin_ts").alias("hi")
    )
    grid = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 hour"))
        ).alias("bin_ts")
    )
    spine = binned.select("event_type").distinct().crossJoin(grid)
    return spine.join(counts, ["event_type", "bin_ts"], "left").select(
        "event_type", "bin_ts", F.coalesce("n", F.lit(0)).alias("n")
    )
