"""Table catalog over the driver-provisioned parquet test tables.

The driver generates TPC-H-ish tables plus ``events`` (stream-shaped),
``documents`` (text corpus) and ``embeddings`` (vector corpus) at
``/root/testdata/sf{0.001,0.01,0.1}`` (TESTDATA.md). This module is the one
place that knows the physical layout; queries take a ``sf_dir`` and call
:func:`load` / :func:`load_all`.

Scale note: at 100 TB these would be partitioned/bucketed parquet or Iceberg
tables; ``spark.read.parquet`` on a directory plus Catalyst partition
pruning covers that case with the same call. Filters and projections written
against these DataFrames reach the scan (PushedFilters / ReadSchema) because
nothing here materializes or caches eagerly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
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

#: dimensions small enough to broadcast at any realistic scale factor
BROADCAST_TABLES = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    if table not in TABLES:
        raise KeyError(f"unknown table {table!r}; catalog has {TABLES}")
    # The engine must behave identically under ANY caller-provided session
    # (the driver builds its own): pin the session timezone to UTC so
    # timestamp wall-clock values match the oracle's naive timestamps.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if table == "events":
        # events.ts is TIMESTAMP(NANOS) in parquet — a vanilla session
        # refuses it outright (PARQUET_TYPE_ILLEGAL). Read as long nanos,
        # truncate to micros exactly like DuckDB reading the same file.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
    if table == "events":
        from pyspark.sql import functions as F, types as T

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # TIMESTAMP(NANOS) read via nanosAsLong: truncate to micros,
            # exactly like DuckDB reading the same file.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            # Naive micros parquet reads as TIMESTAMP_NTZ under Spark 4's
            # default inferTimestampNTZ. The unix_* family rejects NTZ, so
            # normalize to TIMESTAMP; with the session tz pinned to UTC
            # above, wall-clock == epoch, matching the oracle's epoch_us.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}


def spread_partitions(df: DataFrame, *, target: int | None = None) -> DataFrame:
    """Round-robin repartition, ONLY when upstream yields fewer partitions
    than the session's parallelism.

    A single-file, single-row-group parquet table (the local test
    profile; also any small dimension at real scale) scans as ONE input
    partition, which serializes every per-row-heavy downstream stage
    (shingling, tokenization, decode UDFs) onto one core no matter how
    many are available. Operators with expensive narrow stages call this
    on their input: the repartition moves only the raw rows (cheap
    relative to the work it parallelizes), and at 100 TB — where a scan
    already produces >= cores partitions — it is a no-op, so the big-data
    path never pays an extra shuffle.

    The partition-count probe (``df.rdd``) is only cheap on narrow plans
    (pure scan + project/filter): under AQE it finalizes the physical
    plan, which EXECUTES any upstream shuffle stages just to learn a
    number, and that work is then redone by the real query. So frames
    whose logical plan already contains a wide operator are returned
    untouched — a shuffle upstream means the data is already spread at
    ~shuffle.partitions. Streaming frames pass through unchanged (the
    foreachBatch batches the streaming operators hand over are batch
    frames and do get spread).
    """
    if df.isStreaming:
        return df
    # structural walk of the optimized plan's NODE NAMES (not a substring
    # scan of the rendered plan text, where a column or relation literally
    # named "Sort..." would false-positive and silently skip the spread)
    wide = ("Join", "Aggregate", "Window", "Sort", "Repartition", "Deduplicate")
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if any(marker in name for marker in wide):
            return df
        children = node.children()
        for i in range(children.length()):
            stack.append(children.apply(i))
    sc = df.sparkSession.sparkContext
    t = int(target or sc.defaultParallelism)
    if df.rdd.getNumPartitions() < t:
        return df.repartition(t)
    return df
