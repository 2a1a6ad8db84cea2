"""Catalog bootstrap: register the driver's parquet tables as temp views.

Mirrors the reference's connector metadata layer
(``presto-main/.../metadata/MetadataManager.java``,
``presto-tpch/.../TpchMetadata.java:92``) — but in Spark the catalog IS the
engine's metadata service, so this is a thin veneer.

Scale note: ``spark.read.parquet`` on a directory of many files
parallelizes splits automatically (``spark.sql.files.maxPartitionBytes``);
nothing here assumes single-file tables.
"""

from __future__ import annotations

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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # Defensive: the conf is runtime-settable and the read below fails
        # with PARQUET_TYPE_ILLEGAL without it. get_spark() sets it at build
        # time, but queries() callables must also work on a caller-provided
        # vanilla session (the driver builds its own).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Same defensive-set: parquet timestamp[us] with isAdjustedToUTC=false
    # must read as TIMESTAMP, not TIMESTAMP_NTZ (session tz is UTC, so the
    # wall-clock values are identical and DuckDB oracles agree).
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS); Spark has no nanos timestamp
        # type, so the session reads it as nanos-since-epoch LONG
        # (spark.sql.legacy.parquet.nanosAsLong) and we truncate to
        # microseconds here — the same truncation DuckDB applies, so oracle
        # comparisons see identical values.
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if isinstance(df.schema["ts"].dataType, T.LongType):
            # integer `div` — a double division would lose precision on
            # nanos-since-epoch magnitudes (~1e18 > 2^53)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def register_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every driver table as a temp view; returns name→DataFrame."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def small_df(spark: SparkSession, data, schema) -> DataFrame:
    """createDataFrame for SMALL literal/driver-computed tables (probe
    lists, parameter grids, K-row results) as ONE partition. The default
    path scatters the rows over defaultParallelism near-empty slices, so
    every consumer stage — typically a broadcast build — schedules a
    full-width job of empty tasks (~0.2 s at local[32] vs ~6 ms for one;
    r14 measurement). Callers pass only driver-bounded row counts."""
    return spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
