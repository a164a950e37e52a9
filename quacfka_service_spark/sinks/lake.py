"""S8 parquet_export_sink: the hive-partitioned zstd parquet lake.

The reference exports each rotated DuckDB file twice per present hour
(/root/reference/main.go:101-125): the raw table filtered to the hour
(P1+P4) and the hourly aggregate (A2), both via
``COPY ... TO '<path>/year={{year}}/month={{month}}/day={{day}}/hour={{hour}}/...'
(FORMAT PARQUET, compression zstd, ROW_GROUP_SIZE_BYTES 100_000_000,
OVERWRITE_OR_IGNORE)``.

Spark collapses the machinery: ``partitionBy("year","month","day",
"hour")`` enumerates the partitions itself (A1 implicitly), writes all
hours in one pass, and dynamic partition-overwrite mode reproduces
``OVERWRITE_OR_IGNORE`` (replace exactly the hour partitions present in
this batch, leave the rest) — session.py pins
``partitionOverwriteMode=dynamic`` and zstd/100 MB row groups.

Scale notes:
- Partition values are computed once as columns; the writer hash-splits
  by partition value, so one pass regardless of hours present.
- A 100 TB day is ~4 TB/hour-partition: files stay parallel-readable
  because partition dirs shard by task, not one-file-per-hour.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import datepart_str, epoch_ms_precise, epoch_ms_to_ts

PARTITION_COLS = ["year", "month", "day", "hour"]


def with_hour_partitions(df: DataFrame, ts: Column) -> DataFrame:
    """Attach the four reference partition columns (string-typed, as the
    reference's ``datepart(...)::STRING`` produces, main.go:93-96)."""
    return (
        df.withColumn("year", datepart_str("year", ts))
        .withColumn("month", datepart_str("month", ts))
        .withColumn("day", datepart_str("day", ts))
        .withColumn("hour", datepart_str("hour", ts))
    )


def write_partitioned(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write a frame that already carries the four partition columns
    (one of the ``*_with_partitions`` helpers below)."""
    # mode="overwrite" + dynamic partitionOverwriteMode replaces exactly
    # the hours present in ``df`` and leaves the rest (the reference's
    # OVERWRITE_OR_IGNORE).  The pipeline writes each epoch into its own
    # ``ingest_batch=<key>`` directory this way, so a replayed epoch
    # replaces its own files (streaming/pipeline.py).
    writer = df.write.mode(mode).partitionBy(*PARTITION_COLS)
    writer.option("compression", "zstd").parquet(path)


def raw_with_partitions(bidreq: DataFrame) -> DataFrame:
    """Raw table + hour partitions from the precise-millis payload
    timestamp (main.go:101-108)."""
    ts = epoch_ms_precise(F.col("timestamp.seconds"), F.col("timestamp.nanos"))
    return with_hour_partitions(bidreq, ts)


def norm_with_partitions(norm: DataFrame) -> DataFrame:
    """Flat table + hour partitions from event_time (main.go:119-123)."""
    return with_hour_partitions(norm, epoch_ms_to_ts(F.col("event_time")))


def agg_with_partitions(agg: DataFrame) -> DataFrame:
    """hourly_agg() output + partitions from its (date, hour) keys, so
    each hour's aggregate lands in its hour dir like the reference's
    templated COPY (main.go:109-125)."""
    d = F.to_date(F.col("date"))
    return (
        agg.withColumn("year", F.year(d).cast("string"))
        .withColumn("month", F.month(d).cast("string"))
        .withColumn("day", F.dayofmonth(d).cast("string"))
        .withColumn("hour", F.col("hour").cast("string"))
    )


def write_raw_export(bidreq: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Raw export: SELECT * partitioned by payload timestamp."""
    write_partitioned(raw_with_partitions(bidreq), path, mode)


def write_norm_export(norm: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Flat-table export partitioned by event_time."""
    write_partitioned(norm_with_partitions(norm), path, mode)


def write_hourly_agg(agg: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Aggregate export."""
    write_partitioned(agg_with_partitions(agg), path, mode)
