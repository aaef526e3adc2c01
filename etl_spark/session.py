"""SparkSession factory for the engine.

One place to pin the configs that matter at scale:
- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- Arrow on (vectorized pandas-UDF path; the engine never uses row-Python)
- UTC session timezone (byte-equal comparison against the DuckDB oracle)
- shuffle partitions sized to cores for local mode (overridden per-run)

Reference analogue: the reference delegates all execution tuning to
BigQuery / Dataproc defaults (/root/reference/etl/dags/external_sources/
apps_flyer/apps_flyer.py:102-135 batch config); here the engine owns it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the local core count — at cluster
    scale this is overridden by AQE coalescing anyway.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; local[*] or cluster → cpus
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if inner in ("", "*") else int(inner)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Don't let AQE coalesce post-shuffle aggs below the core count —
        # the default 64m advisory serializes medium shuffles onto 1-3
        # tasks, which caps scaling at higher parallelism.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # int64 micros (not legacy INT96): INT96 writes no footer min/max,
        # which would silently disable the lake table's time-stats pruning
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # The (_bucket, _day) layout means several output dirs per write
        # task; by default Spark inserts a per-task SORT on the partition
        # columns before writing (measured ~10% of replay wall). Allowing
        # concurrent open writers skips that sort; day cardinality per
        # batch is far below this cap (falls back to sort-based if not).
        .config("spark.sql.maxConcurrentOutputFileWriters", "64")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Throughput-oriented GC: the ingest path is allocation-heavy
        # (struct-max hash agg over wide rows); ParallelGC sustains higher
        # allocation rates than G1 at high task-thread counts in local mode.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
        # Per-task direct commit (v2): removes the serial driver-side
        # rename pass at job commit — matters for per-epoch latency.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # A lake-table read names one leaf directory per (bucket, day) file
        # set. Above this many paths Spark lists them in a separate job
        # (default threshold 32). On a 4-core VM, planning snapshot_df()
        # over 84 leaves took 0.53-0.59 s with that job and 0.17-0.18 s
        # listing on the driver; changes_between, which reads twice, went
        # 0.85 s -> 0.36-0.49 s. 1024 covers e.g. 64 buckets x 16 days.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.schemaInference", "false")
    )
    # Shuffle compression stays ON everywhere, including local[N]. An
    # earlier revision disabled it for single-JVM local mode ("blocks
    # only round-trip through the page cache, lz4 is pure CPU") based on
    # one measurement in a quiet window; a controlled A/B on the same
    # 40M-event log at local[16] showed the opposite steady state:
    # uncompressed wide-text shuffle blocks (~4x the bytes) saturate
    # kernel writeback (40-70% sys time) and hold replay at 78s/rep,
    # while lz4-compressed runs settle at 30s/rep once the JIT is warm.
    # Byte volume is the bottleneck on disk-backed /tmp just as it is on
    # a real cluster's netty path.
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
