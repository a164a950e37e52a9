"""End-to-end streaming harness (SURVEY.md §5.4).

Replays the sf0.001 bidreq fixture as reference-framed protobuf bytes
(6-byte Confluent prefix + payload + 8-byte LE timestamp suffix — the
exact Kafka record shape the reference consumes, main.go:228-233)
through file-source micro-batches -> python wire decode -> normalize ->
hourly agg -> partitioned lake, then asserts the lake equals batch-mode
output (Structured Streaming's repeatability guarantee)."""

from __future__ import annotations

import glob
import json

import pytest
from pyspark.sql import functions as F

from quacfka_service_spark.fixtures import build_bidreq
from quacfka_service_spark.operators.aggregates import hourly_agg
from quacfka_service_spark.operators.normalize import normalize_bidreq
from quacfka_service_spark.proto.decode import decode_bidrequests
from quacfka_service_spark.proto.wire import append_ts_suffix, encode_bidrequest
from quacfka_service_spark.sources.files import read_lake
from quacfka_service_spark.sources.kafka import KafkaConfig, le_uint64_suffix
from quacfka_service_spark.streaming.pipeline import Pipeline

SF_DIR = "/root/testdata/sf0.001"
PREFIX = b"\x00\x00\x00\x00\x00\x01"  # 6 Confluent magic bytes (S2)


@pytest.fixture(scope="module")
def framed_records(spark):
    """Fixture rows -> framed protobuf bytes (driver-side; 1000 rows)."""
    rows = build_bidreq(spark, SF_DIR).collect()
    recs = []
    for r in rows:
        d = r.asDict(recursive=True)
        event_tm = d.pop("event_tm")
        payload = encode_bidrequest(d)
        recs.append((None, PREFIX + append_ts_suffix(payload, event_tm), event_tm))
    return recs


@pytest.fixture(scope="module")
def input_dir(spark, framed_records, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("kafka_shaped"))
    # write as 4 files so maxFilesPerTrigger yields multiple micro-batches
    df = spark.createDataFrame(
        [(None, v, ms) for _, v, ms in framed_records],
        "key binary, value binary, ts_ms long",
    ).select("key", "value", F.timestamp_millis("ts_ms").alias("timestamp"))
    df.repartition(4).write.mode("overwrite").parquet(path)
    return path


def test_decode_parity_with_fixture(spark, input_dir):
    """Python wire decode over framed bytes == the original fixture."""
    src = spark.read.parquet(input_dir)
    decoded = decode_bidrequests(src, confluent_prefix=True, ts_suffix=True)
    orig = build_bidreq(spark, SF_DIR)
    key = lambda r: json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)  # noqa: E731
    a = sorted(key(r) for r in decoded.collect())
    b = sorted(key(r) for r in orig.collect())
    assert a == b


def test_le_uint64_suffix_expression(spark, input_dir):
    """F11: the JVM-side LE decode equals the timestamp we framed in."""
    src = spark.read.parquet(input_dir)
    got = src.select(
        le_uint64_suffix("value").alias("ms"),
        F.unix_millis("timestamp").alias("want"),
    )
    assert got.where(F.col("ms") != F.col("want")).count() == 0


def test_streaming_pipeline_end_to_end(spark, input_dir, tmp_path_factory):
    lake = str(tmp_path_factory.mktemp("lake"))
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    metrics = str(tmp_path_factory.mktemp("metrics") / "metrics.jsonl")

    handle = (
        Pipeline(spark)
        .source_files(input_dir, max_files_per_trigger=2)  # T6 pacing -> 2 micro-batches
        .decode(confluent_prefix=True, ts_suffix=True)
        .sink_lake(lake, ckpt, metrics_jsonl=metrics)
        .trigger(available_now=True)
        .run()
    )
    handle.await_termination(300)
    assert handle.error() is None
    handle.stop()

    bidreq = build_bidreq(spark, SF_DIR)
    norm_b = normalize_bidreq(bidreq)

    # raw export: row count + id multiset + hive partition layout
    raw = read_lake(spark, lake, "bidreq")
    assert raw.count() == bidreq.count()
    assert raw.select("id").exceptAll(bidreq.select("id")).count() == 0
    assert glob.glob(f"{lake}/bidreq/ingest_batch=*/year=*/month=*/day=*/hour=*/*.parquet")

    # norm export == batch normalize (full multiset)
    norm_s = read_lake(spark, lake, "bidreq_norm").select(*norm_b.columns)
    assert norm_s.count() == norm_b.count()
    assert norm_s.exceptAll(norm_b).count() == 0

    # hourly agg: per-micro-batch partials re-aggregated == batch agg
    # (the reference's per-rotated-file aggregates have the same
    # reader-merges contract, SURVEY.md T3)
    agg_b = hourly_agg(norm_b)
    agg_s = (
        read_lake(spark, lake, "bidreq_hourly")
        .groupBy("date", "hour", "pub_id", "device_id", "resolution", "deal")
        .agg(F.sum("requests").alias("requests"))
        .select(*agg_b.columns)
    )
    # countDistinct partials can't merge across batches in general, but
    # bidreq_id never spans micro-batches here (unique per row), so
    # sum-of-partials is exact — assert equality on that basis.
    assert agg_s.exceptAll(agg_b).count() == 0
    assert agg_s.count() == agg_b.count()

    # metrics listener wrote progress lines (T8)
    with open(metrics) as f:
        events = [json.loads(line) for line in f]
    assert any(e["event"] == "progress" and e["numInputRows"] > 0 for e in events)
    assert sum(e.get("numInputRows", 0) for e in events if e["event"] == "progress") == 1000


def test_pipeline_batch_mode(spark, input_dir, tmp_path_factory):
    """run_batch: the one-shot backfill path over the same frame."""
    lake = str(tmp_path_factory.mktemp("lake_batch"))
    (
        Pipeline(spark)
        .source_dataframe(spark.read.parquet(input_dir))
        .decode(confluent_prefix=True, ts_suffix=True)
        .sink_lake(lake, checkpoint="unused")
        .run_batch()
    )
    agg = read_lake(spark, lake, "bidreq_hourly")
    want = hourly_agg(normalize_bidreq(build_bidreq(spark, SF_DIR)))
    assert agg.select(*want.columns).exceptAll(want).count() == 0


def test_exactly_once_epoch_replay(spark, input_dir, tmp_path_factory):
    """A replayed epoch (failure after sink write, before offset
    commit) must replace its own output, not duplicate it — the
    (query, epoch) overwrite contract (T4 exactly-once; the reference
    is only at-least-once, main.go:140-195)."""
    lake = str(tmp_path_factory.mktemp("lake_replay"))
    pipe = (
        Pipeline(spark)
        .source_dataframe(spark.read.parquet(input_dir))
        .decode(confluent_prefix=True, ts_suffix=True)
        .sink_lake(lake, checkpoint="unused")
    )
    batch = spark.read.parquet(input_dir)
    pipe._export_batch(batch, 7)
    c1 = read_lake(spark, lake, "bidreq").count()
    pipe._export_batch(batch, 7)  # replay of the same epoch
    assert read_lake(spark, lake, "bidreq").count() == c1
    pipe._export_batch(batch, 8)  # a genuinely new epoch accumulates
    assert read_lake(spark, lake, "bidreq").count() == 2 * c1


def _read_lake_rows(spark, lake):
    return read_lake(spark, lake, "bidreq_norm").count()


def _read_txlog_rows(spark, lake):
    from quacfka_service_spark.sinks.txlog import TxTable

    return TxTable(f"{lake}/bidreq_norm").read(spark).count()


@pytest.mark.parametrize(
    "sink, rows",
    [("sink_lake", _read_lake_rows), ("sink_txlog", _read_txlog_rows)],
    ids=["sink_lake", "sink_txlog"],
)
def test_reprocess_after_checkpoint_reset_relands(spark, tmp_path, sink, rows):
    """One epoch rule for both sinks: the idempotency key is (the
    checkpoint's query id, epoch).  Rerunning on the same checkpoint
    lands nothing new; deleting the checkpoint to deliberately
    reprocess re-lands the data beside the old output instead of
    overwriting (lake) or being swallowed by (txlog) the earlier
    query's epochs; run_batch gets a fresh key each call, so it re-lands
    and never clobbers a streaming epoch 0."""
    import shutil

    from quacfka_service_spark.proto.decode import encode_bidrequests

    src_dir = str(tmp_path / "framed")
    bidreq = build_bidreq(spark, SF_DIR)
    encode_bidrequests(bidreq).coalesce(1).write.parquet(src_dir)
    n = normalize_bidreq(bidreq).count()

    lake, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")

    def _pipe():
        pipe = Pipeline(spark).decode(confluent_prefix=True, ts_suffix=True)
        return getattr(pipe, sink)(lake, ckpt)

    def _run():
        h = _pipe().source_files(src_dir).trigger(available_now=True).run()
        h.await_termination(300)
        assert h.error() is None
        h.stop()

    _run()
    assert rows(spark, lake) == n
    # same checkpoint, rerun: nothing new to process, nothing re-lands
    _run()
    assert rows(spark, lake) == n
    # checkpoint reset = deliberate reprocess: data lands AGAIN
    shutil.rmtree(ckpt)
    _run()
    assert rows(spark, lake) == 2 * n
    # batch mode: a fresh key per call, re-running re-lands
    batch = _pipe().source_dataframe(spark.read.parquet(src_dir))
    batch.run_batch()
    assert rows(spark, lake) == 3 * n
    batch.run_batch()
    assert rows(spark, lake) == 4 * n


def test_kafka_config_options():
    conf = KafkaConfig(
        seeds=["b1:9092", "b2:9092"], topic="bidreq", consumer_group="g1",
        user="u", password="p",
    )
    opts = conf.reader_options()
    assert opts["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
    assert opts["subscribe"] == "bidreq"
    assert opts["minPartitions"] == "5"                      # ClientCount parity
    assert opts["maxOffsetsPerTrigger"] == str(122_880 * 8)  # MsgChanCap parity
    assert "ScramLoginModule" in opts["kafka.sasl.jaas.config"]
