"""SparkSession factory tuned for the local test harness while keeping
cluster-scale defaults (AQE, skew-join handling, partition coalescing).

On a real cluster the same config block applies unchanged; only
``master`` and memory sizing come from spark-submit. Shuffle partitions
default to 32 locally (matching local[32]); at 100 TB you would set
``spark.sql.shuffle.partitions`` to ~2-3x total cores and let AQE
coalesce, which is why AQE is always on here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .io.parquet import load_df

_DEFAULTS: dict[str, str] = {
    # Adaptive query execution: runtime re-planning, skew-join splitting,
    # partition coalescing — essential at scale, harmless locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE re-optimize (and coalesce) the plan fragments UNDER a
    # persist() too (default false only to keep cached output
    # partitioning stable for zip-style consumers, which this engine
    # has none of — every pid-dependent operator freezes
    # spark_partition_id() INTO the cached rows and derives its carry
    # maps from that same materialization, so a re-coalesced cache is
    # value-identical). Without it, every bounded persisted table
    # (with_running's parted, mood/HL per-value counts, dedup shingle
    # tables) caches at the full shuffle partition count and every
    # branch over it schedules that many near-empty tasks: measured at
    # local[32], q_mood_median_lean 1.78 -> 0.78 s (1113 -> 90 tasks),
    # q_hodges_lehmann 0.43 -> 0.26 s. At cluster scale the same
    # setting right-sizes cached-fragment partitions by data volume
    # (AQE advisory sizes) instead of pinning tiny reduce tasks.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Broadcast joins for small dimension tables (region/nation/supplier).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for every pandas_udf / applyInPandas / toPandas crossing.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Parquet: push filters + prune columns at the scan.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Timestamps in testdata are ns/ms; read them without rebasing drama.
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    # Generated-class cache (STATIC conf — only applies at session build).
    # The default 100 entries thrash when a workload cycles through >100
    # distinct codegen'd stages (the 53-query bench battery does): every
    # revisit re-compiles Janino classes inside the measured window,
    # inflating steady-state latencies 1.5-2x (round-7 "battery vs solo"
    # drift, root-caused round 8: with the cache raised, churned and hot
    # timings agree). 10k entries ≈ a few hundred MB of metaspace at
    # worst — the right trade on any long-lived session, local or cluster.
    "spark.sql.codegen.cache.maxEntries": "10000",
    # events.ts is parquet TIMESTAMP(NANOS) which Spark cannot read natively;
    # read as long nanos and normalize in load_table().
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # ANSI off: reference semantics are permissive (NA, not errors).
    "spark.sql.ansi.enabled": "false",
}


def get_spark(
    app_name: str = "dataframes-jl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default 32).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    b = SparkSession.builder.appName(app_name).master(master)
    b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    b = b.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    for k, v in _DEFAULTS.items():
        b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Load one driver-generated parquet table, normalizing types.

    Reads through :func:`io.parquet.load_df`, so the first load of a file
    in a process infers its schema (one Spark job) and every later load of
    the unchanged file runs no job. The confs set below for ``events`` are
    part of that cache's stamp, so setting them on a vanilla session
    re-infers rather than reusing a schema inferred without them.

    ``events.ts`` arrives as long nanoseconds (see nanosAsLong conf) and is
    converted to a microsecond timestamp — lossless for this data, and the
    conversion stays inside whole-stage codegen.
    """
    if name == "events":
        # Must be set on whatever session the caller (driver) built.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        try:
            # NTZ→LTZ normalization below and all epoch arithmetic assume
            # UTC; the driver's vanilla session may inherit a host tz.
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        except Exception:
            pass
    df = load_df(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer floor-division: ts/1000 via `/` goes through double,
            # and epoch-nanos (~1.7e18) exceed double's 53-bit mantissa, so
            # roughly half the timestamps would land 1 us early. `div` stays
            # in int64 end-to-end.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # parquet timestamp[us] without tz reads as TIMESTAMP_NTZ under
            # Spark 4's inferTimestampNTZ. Normalize to session-tz (UTC)
            # TIMESTAMP_LTZ so epoch arithmetic (cast to double/long,
            # unix_*) works uniformly downstream. Session tz is pinned to
            # UTC, so the wall-clock values are unchanged.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names=TPCH_TABLES):
    """Load the driver-generated parquet tables as a dict of DataFrames."""
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_tables(spark: SparkSession, sf_dir: str, names=TPCH_TABLES):
    """Register the synthetic tables as temp views so the pure-SQL
    entry point works: ``register_tables(spark, sf); spark.sql(...)``.
    Returns the same dict as :func:`load_tables`."""
    dfs = load_tables(spark, sf_dir, names)
    for n, df in dfs.items():
        df.createOrReplaceTempView(n)
    return dfs
