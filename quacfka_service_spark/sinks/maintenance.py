"""Lake maintenance: small-file compaction.

The streaming sink's append mode (the reference's ``{{rand}}``
accumulate contract, main.go:108,125) grows an hour partition by one
file set per micro-batch; at 100 TB that is the classic small-file
problem — scan parallelism is fine but per-file open/footer overhead
and NameNode/listing pressure degrade reads.  Compaction rewrites a
partition's many small files into few right-sized ones.

Without a table format (Delta/Iceberg are not installable in this
environment; BASELINE.json names them as the production target) the
rewrite uses dynamic partition overwrite, which replaces exactly the
partitions present in the compacted frame in one committed write — the
same idempotent-replace contract the hour re-export relies on.
Readers that started before the commit see the old file set listing;
this matches the reference's own OVERWRITE_OR_IGNORE exposure, and a
table format upgrade makes the swap fully atomic without changing this
API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lake import PARTITION_COLS


def _delete_path(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` via the Hadoop FileSystem API (works
    for any supported scheme — local, HDFS, object store)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(hpath, True)


def compact_partitions(
    spark: SparkSession,
    path: str,
    where: str | None = None,
    target_records_per_file: int = 1_000_000,
    tmp_path: str | None = None,
) -> DataFrame:
    """Rewrite the selected hour partitions of a lake with files of
    ~``target_records_per_file`` rows.

    ``where``: SQL predicate over the partition columns
    (e.g. ``"year='2024' AND month='1'"``) — partition pruning makes
    the read touch only those directories; None compacts the whole
    lake.  Returns per-partition (files_before, rows) stats.

    Two-phase: compacted files land in ``tmp_path`` first, then a
    dynamic-overwrite write from there replaces exactly the selected
    partitions (Spark refuses to overwrite a path it is reading from,
    and the staging hop is what a table-format rewrite does anyway).

    Refuses (ValueError, before writing anything) a pipeline table
    with an ``ingest_batch=`` epoch level: compacting it would write
    ``year=`` directories beside the epoch directories and leave a
    table Spark can no longer read."""
    tmp_path = tmp_path or path.rstrip("/") + "__compact_tmp"
    df = spark.read.parquet(path)
    if "ingest_batch" in df.columns:
        raise ValueError(
            f"{path} has an ingest_batch= epoch level (a Pipeline lake "
            "table); compact_partitions only handles year/month/day/hour tables"
        )
    if where:
        df = df.where(where)

    stats = (
        df.select(*PARTITION_COLS, F.input_file_name().alias("f"))
        .groupBy(*PARTITION_COLS)
        .agg(
            F.countDistinct("f").alias("files_before"),
            F.count(F.lit(1)).alias("rows"),
        )
    )
    # collect stats BEFORE the rewrite invalidates the file listing
    collected = stats.collect()

    def _write(frame: DataFrame, out: str) -> None:
        # cluster rows by partition value so each hour dir gets one
        # writer task -> one file (maxRecordsPerFile splits oversized
        # partitions within the task)
        (
            frame.repartition(*PARTITION_COLS)
            .write.mode("overwrite")
            .partitionBy(*PARTITION_COLS)
            .option("compression", "zstd")
            .option("maxRecordsPerFile", str(target_records_per_file))
            .parquet(out)
        )

    # The staging dir must hold EXACTLY this run's selection: dynamic
    # partition overwrite only replaces partitions present in the
    # written frame, so partitions staged by a previous run with a
    # different `where` would survive in tmp and phase 2 would commit
    # those stale partitions back over newer lake data.  Clear it
    # first, and restrict the commit read to the selection too.
    _delete_path(spark, tmp_path)
    _write(df, tmp_path)                          # phase 1: stage
    committed = spark.read.parquet(tmp_path)
    if where:
        committed = committed.where(where)
    _write(committed, path)                       # phase 2: commit (dynamic overwrite)
    _delete_path(spark, tmp_path)                 # leave no stale staging state
    return spark.createDataFrame(collected, stats.schema)
