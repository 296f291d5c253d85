"""SparkSession construction tuned for this engine.

Local-mode settings follow the public Spark tuning guidance: shuffle
partitions sized to cores (not the 200 default), AQE on for runtime
re-planning (skew-join splitting, partition coalescing), Arrow enabled for
the vectorized pandas-UDF slow path. On a real cluster the same builder is
used; only master/memory come from spark-submit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "hierarchical_to_relational_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    bench runs can sweep parallelism levels for the scaling-efficiency
    evidence (BASELINE.md sandbox protocol).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    # shuffle partitions ≈ parallelism: avoids 200 tiny tasks in local mode;
    # AQE coalesces further at runtime.
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(int(n), 4)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # INT96 (Spark's legacy default) writes NO column statistics, so
        # timestamp predicates can't prune row groups or feed the file
        # min-max sidecar; TIMESTAMP_MICROS is the modern parquet type
        # with full stats + pushdown
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # parquet DATA codec (r6): zstd writes the same 10^6-row CDC
        # commit in 2.4 MB vs snappy's 5.3 MB (-55% on corpus-like text)
        # at wall-clock parity on the CDC bench (interleaved pairs:
        # 207.7k/204.3k then 203.2k/156.1k ev/s, the one gap landing in
        # a loadavg-17 window AGAINST snappy — i.e. noise). Smaller
        # files mean less scan I/O everywhere downstream (guide §6:
        # "smaller than snappy at similar read speed"); a CPU-starved
        # deployment overrides it through ``extra_conf``.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # shuffle/spill codec (r6): zstd cuts the CDC write shuffle from
        # 72.5 to 44.7 bytes/row (-38%, measured via event-log Shuffle
        # Bytes Written on identical batches) at Spark's fast zstd level 1.
        # Locally the wall-clock is parity-to-better (host steal makes the
        # wall comparison noisy); at cluster scale shuffle bytes cross the
        # network once (guide §2.1), so the byte cut is the durable win.
        .config("spark.io.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
