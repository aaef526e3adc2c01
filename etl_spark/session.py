"""SparkSession factory for the engine.

One place to pin the configs that matter at scale:
- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- Arrow on (vectorized pandas-UDF path; the engine never uses row-Python)
- UTC session timezone (byte-equal comparison against the DuckDB oracle)
- shuffle partitions sized to cores for local mode (overridden per-run)
- PySpark's per-call call-site capture off (read planning is py4j-bound)

Reference analogue: the reference delegates all execution tuning to
BigQuery / Dataproc defaults (/root/reference/etl/dags/external_sources/
apps_flyer/apps_flyer.py:102-135 batch config); here the engine owns it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The engine's SQL confs. ``get_spark`` and the spark-submit entry point
# (scripts/submit_replay.py) both set them on their session builder through
# ``with_sql_conf``: the call-site flag below is a static conf, so it only
# takes effect on a builder that creates the session.
SQL_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Don't let AQE coalesce post-shuffle aggs below the core count —
    # the default 64m advisory serializes medium shuffles onto 1-3
    # tasks, which caps scaling at higher parallelism.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    # int64 micros (not legacy INT96): INT96 writes no footer min/max,
    # which would silently disable the lake table's time-stats pruning
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # The (_bucket, _day) layout means several output dirs per write
    # task; by default Spark inserts a per-task SORT on the partition
    # columns before writing (measured ~10% of replay wall). Allowing
    # concurrent open writers skips that sort; day cardinality per
    # batch is far below this cap (falls back to sort-based if not).
    "spark.sql.maxConcurrentOutputFileWriters": "64",
    # A lake-table read names one leaf directory per (bucket, day) file
    # set. Above this many paths Spark lists them in a separate job
    # (default threshold 32). On a 4-core VM, planning snapshot_df()
    # over 84 leaves took 0.53-0.59 s with that job and 0.17-0.18 s
    # listing on the driver; changes_between, which reads twice, went
    # 0.85 s -> 0.36-0.49 s. 1024 covers e.g. 64 buckets x 16 days.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "1024",
    "spark.sql.streaming.schemaInference": "false",
    # PySpark 4.1 defaults to capturing the Python call site of every
    # DataFrame and functions.* call: it walks the stack, retries a
    # failing ``import IPython``, and sets and clears the JVM origin
    # (about 4 extra py4j round trips per call). Building one lake-table
    # lookup over two schema versions took 1 065 round trips with it and
    # 365 without; on a 4-core VM the traced perfbench read_serve lookup
    # plan went 0.156/0.115 s -> 0.080/0.078 s (seeds 1/2). The cost: an
    # analysis error raised by a DataFrame call no longer names the Python
    # line that built the failing expression. It is a static conf, and PySpark reads it once
    # per process, on the first DataFrame call.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def with_sql_conf(builder: SparkSession.Builder) -> SparkSession.Builder:
    """``builder`` with every ``SQL_CONF`` entry set."""
    for k, v in SQL_CONF.items():
        builder = builder.config(k, v)
    return builder


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

    builder = with_sql_conf(
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
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
        .config("spark.ui.enabled", "false")
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
