"""Small-file compaction (sinks/maintenance.py): rows preserved
exactly, file counts collapse, untouched partitions untouched."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from quacfka_service_spark.fixtures import build_bidreq
from quacfka_service_spark.proto.decode import encode_bidrequests
from quacfka_service_spark.session import load_table
from quacfka_service_spark.sinks.lake import with_hour_partitions
from quacfka_service_spark.sinks.maintenance import compact_partitions
from quacfka_service_spark.sources.files import read_lake
from quacfka_service_spark.streaming.pipeline import Pipeline

from .conftest import SF_DIR


def _files(lake: str) -> list[str]:
    return glob.glob(lake + "/**/*.parquet", recursive=True)


def test_compact_partition(spark, tmp_path):
    lake = str(tmp_path / "lake")
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "value", F.col("ts")
    )
    part = with_hour_partitions(ev, F.col("ts"))
    # simulate many micro-batch appends: 2 x 10-way-split writes
    for _ in range(2):
        part.drop("ts").repartition(10).write.mode("append").partitionBy(
            "year", "month", "day", "hour"
        ).parquet(lake)

    before_rows = spark.read.parquet(lake).count()
    before_files = len(_files(lake))
    assert before_files > 40  # plenty of small files

    target_day = spark.read.parquet(lake).select("year", "month", "day").first()
    where = (
        f"year='{target_day['year']}' AND month='{target_day['month']}'"
        f" AND day='{target_day['day']}'"
    )
    day_rows_before = spark.read.parquet(lake).where(where).count()
    other_files_before = {
        f for f in _files(lake)
        if f"/year={target_day['year']}/month={target_day['month']}/day={target_day['day']}/" not in f
    }

    stats = compact_partitions(spark, lake, where=where)
    assert stats.count() > 0
    assert stats.agg(F.sum("rows")).collect()[0][0] == day_rows_before

    # rows identical, compacted partitions now one file per hour dir
    assert spark.read.parquet(lake).count() == before_rows
    assert spark.read.parquet(lake).where(where).count() == day_rows_before
    day_files_after = [
        f for f in _files(lake)
        if f"/year={target_day['year']}/month={target_day['month']}/day={target_day['day']}/" in f
    ]
    per_hour = {}
    for f in day_files_after:
        hour_dir = f.rsplit("/", 1)[0]
        per_hour[hour_dir] = per_hour.get(hour_dir, 0) + 1
    assert all(n == 1 for n in per_hour.values()), per_hour

    # untouched partitions keep their original files
    assert other_files_before == {
        f for f in _files(lake)
        if f"/year={target_day['year']}/month={target_day['month']}/day={target_day['day']}/" not in f
    }
    assert len(_files(lake)) < before_files


def test_repeated_compaction_does_not_resurrect_stale_staging(spark, tmp_path):
    """Regression: the staging dir is deterministic (path + '__compact_tmp');
    a second compact run over a DIFFERENT partition must not re-commit the
    first run's staged copy of an already-compacted partition, which would
    silently drop rows appended in between."""
    lake = str(tmp_path / "lake")

    def _write_rows(n: int, month: str, start_id: int = 0) -> None:
        rows = [
            (start_id + i, f"2024-{month}-03 0{i % 4}:00:00") for i in range(n)
        ]
        df = spark.createDataFrame(rows, "event_id BIGINT, ts_s STRING")
        (
            df.select("event_id", F.to_timestamp("ts_s").alias("ts"))
            .withColumn("year", F.date_format("ts", "yyyy"))
            .withColumn("month", F.date_format("ts", "M"))
            .withColumn("day", F.date_format("ts", "d"))
            .withColumn("hour", F.date_format("ts", "H"))
            .drop("ts")
            .repartition(4)
            .write.mode("append")
            .partitionBy("year", "month", "day", "hour")
            .parquet(lake)
        )

    _write_rows(10, "01")
    _write_rows(10, "02")
    compact_partitions(spark, lake, where="year='2024' AND month='1'")
    # new data lands in month=1 AFTER its compaction
    _write_rows(5, "01", start_id=100)
    assert spark.read.parquet(lake).where("month='1'").count() == 15

    # compacting ONLY month=2 must leave month=1 untouched
    compact_partitions(spark, lake, where="year='2024' AND month='2'")
    assert spark.read.parquet(lake).where("month='1'").count() == 15
    assert spark.read.parquet(lake).where("month='2'").count() == 10
    # staging dir is cleaned up after commit
    assert not glob.glob(lake + "__compact_tmp/**/*.parquet", recursive=True)


def test_compaction_refuses_a_pipeline_lake(spark, tmp_path):
    """A Pipeline lake table has an ingest_batch= level above the hour
    partitions; compaction must refuse it before writing anything, and
    the table must still read back every row."""
    bidreq = build_bidreq(spark, SF_DIR)
    src = encode_bidrequests(bidreq)
    lake = str(tmp_path / "lake")
    (
        Pipeline(spark)
        .source_dataframe(src)
        .decode(confluent_prefix=True, ts_suffix=True)
        .sink_lake(lake, str(tmp_path / "ckpt"))
        .run_batch()
    )
    n = bidreq.count()
    assert read_lake(spark, lake, "bidreq").count() == n
    files_before = sorted(_files(lake))

    with pytest.raises(ValueError, match="ingest_batch"):
        compact_partitions(spark, f"{lake}/bidreq")

    # nothing written: not in the table, not in its staging dir
    assert sorted(_files(lake)) == files_before
    assert read_lake(spark, lake, "bidreq").count() == n
