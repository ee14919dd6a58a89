"""SparkSession factory.

Tuned for the local[N] test harness but with settings that carry to a real
cluster: AQE on (runtime re-plan replaces the reference's entire
estimate-correction apparatus, GraphView/MatchComponent.cs:310-425),
Arrow for the Python boundary, explicit shuffle partition count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_memory() -> str:
    """48g, or half the host's RAM when that is less: a max heap above
    physical memory lets the JVM grow until the OS kills it (measured:
    the test suite's JVM reached 15 GB RSS on a 16 GB host and was
    OOM-killed) instead of collecting garbage and spilling checkpoint
    blocks to disk."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf names
        return "48g"
    return f"{max(1, min(48, ram // 2 ** 31))}g"


def get_spark(app_name: str = "graphview_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. On a real cluster
    the master/memory settings are supplied by the submitter; everything
    else here is scale-safe (AQE, skew-join handling, partition coalescing).
    """
    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{n}]"))
        .config("spark.sql.shuffle.partitions", str(max(n, 4)))
        .config("spark.default.parallelism", str(max(n, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode = one JVM for driver AND executors; checkpoint
        # blocks from long query sweeps live here too, and storage
        # eviction churn shows up as late-sweep slowdowns at 24g
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # no data-locality to wait for in local mode (and for short OLAP
        # stages on a cluster, a 3s/stage scheduler stall is never worth it)
        .config("spark.locality.wait", "0s")
        # per-DataFrame-call Python stack capture for error call-sites:
        # pure driver-side overhead (an inspect pass on EVERY DataFrame
        # API call — measured ~0.3s on plan-heavy MATCH queries whose
        # planners issue hundreds of calls). Errors still carry the JVM
        # context; we only drop the Python-frame decoration.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # the driver's events.parquet stores ts as TIMESTAMP(NANOS); read as
        # long and convert (read_table) — Spark has no nanos timestamp type
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python workers (UDFs, applyInPandas*) unpickle functions that
        # import this package by name: put its root on their PYTHONPATH
        # so they resolve it whatever the process cwd (Spark merges this
        # with the worker's own PYTHONPATH; by-value pickling would ship
        # module globals, cached DataFrames included, into every UDF)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one of the driver's parquet tables from ``sf_dir``.

    Normalizes nanosecond timestamps (stored as long via
    ``nanosAsLong``) back to Spark TimestampType at microsecond
    precision — matching what DuckDB reads for the same file.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if name == "events":
        # runtime-settable; needed even when the caller (the driver) built
        # its own session without our builder configs
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # the TIMESTAMP_NTZ→TIMESTAMP cast below is instant-preserving only
        # under a UTC session; pin it for caller-built sessions too
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        field = dict(zip(df.schema.names, df.schema.fields))
        if isinstance(field["ts"].dataType, T.LongType):
            # integer division: int64 nanos exceed double's 53-bit mantissa,
            # so (ts/1000).cast('long') can be off by 1µs vs DuckDB's exact
            # truncation; `div` stays in integer arithmetic
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000").cast("long"))
            )
        elif isinstance(field["ts"].dataType, T.TimestampNTZType):
            # parquet timestamp[us] without timezone reads as TIMESTAMP_NTZ;
            # the session runs in UTC, so the cast re-labels the same wall
            # instant as TIMESTAMP (what every downstream operator and the
            # DuckDB oracle see)
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
