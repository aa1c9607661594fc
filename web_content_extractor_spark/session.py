"""SparkSession factory with scale-oriented defaults.

Defaults are sized for the sandbox (single JVM, local[N]) but every
knob is the one you would set on a 1000-executor cluster:

- AQE on (runtime shuffle coalescing + skew-join splitting),
- shuffle partitions ~ cores locally (on a cluster: 2-3x total cores),
- Arrow transport for the Python stages, each batch capped twice: at
  ``DEFAULT_ARROW_BATCH`` records (``arrow.maxRecordsPerBatch``) and
  at 64 MiB by Spark's own ``spark.sql.execution.arrow.maxBytesPerBatch``
  default, which splits ``mapInArrow`` and ``mapInPandas`` input alike,
  so a batch of giant documents never exceeds 64 MiB of Arrow data
  (tests/test_robustness.py::test_arrow_byte_cap_splits_heavy_batches),
- UTC session timezone so results compare bit-for-bit with DuckDB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_ARROW_BATCH = 2048  # docs per Arrow batch; ~1-4 MB of HTML each


def get_spark(
    app_name: str = "web-content-extractor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard conf."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # local[N] and local[N,F] -> N; local[*], local and every other
        # master (local-cluster[...], yarn, spark://...) -> cpus
        threads = master[6:-1].split(",")[0] if master.startswith("local[") else "*"
        shuffle_partitions = cpus if threads.strip() == "*" else int(threads)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # keep post-shuffle stages parallel on small inputs: the 1 MB
        # default minPartitionSize lets AQE coalesce a test-scale
        # corpus to 2-3 partitions, serializing the (CPU-bound) Arrow
        # UDF stages behind them; at corpus scale partitions are far
        # above either floor so this is a no-op there
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(DEFAULT_ARROW_BATCH)
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd beats snappy outright on the text-heavy spans tables
        # (0.4x bytes, no write penalty — measured in BENCH.md
        # '## Storage codec'); at 100 TB the byte savings compound
        # through every shuffle-free re-read
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
