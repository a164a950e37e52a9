"""The Pipeline builder — Spark-native analog of the reference's
orchestrator API (/root/reference/main.go:203-276, SURVEY.md §3.3):

    q.NewOrchestrator[*rr.Bidrequest](opts...)   Pipeline(spark)
    o.NewKafkaConfig()                           .source_kafka(conf)
    o.ConfigureProcessor(...unmarshal...)        .decode(...)
    (normalizer declaration, main.go:198-199)    (normalize + agg in sink)
    o.ConfigureDuck(...) + runner RPC export     .sink_lake(root, checkpoint)
    o.Run(ctx, &wg)                              .run() -> PipelineHandle
    o.DuckPaths() consumption loop               foreachBatch (implicit)
    signal -> cancel + o.Report/ReportJSONL      handle.stop()/metrics_jsonl

The whole export machinery (file rotation S7, runner RPC S9, orphan
recovery S10, backpressure S11) collapses into one ``foreachBatch``
body plus checkpointing:

- each micro-batch is the bounded unit a rotated 4200 MB DuckDB file
  was (epoch id replaces the file path);
- U2 dual_output_append: the decoded batch is persisted once and
  written three ways (raw nested, flat norm, hourly agg) — the same
  single-pass dual-build as main.go:342-385;
- checkpointing gives exactly-once recovery, strictly stronger than
  the reference's at-least-once + orphan-.db rescan (T4);
- pacing comes from maxOffsetsPerTrigger / maxFilesPerTrigger (T6).

One epoch rule, both sinks: every table write of an epoch is keyed by
(query id, epoch id) — the idempotent-sink half of Structured
Streaming's exactly-once.  The query id is the one the checkpoint
persists (``<checkpoint>/metadata``), so a restart on the SAME
checkpoint replays an epoch onto its own key, while a new checkpoint
(or a ``run_batch``, which gets a fresh key) lands beside earlier
output instead of overwriting it.  The lake sink writes the epoch
under ``<table>/ingest_batch=<query id>_<epoch>`` with overwrite, so a
replay replaces its own files; the txlog sink commits it with txn id
(``<table>@<query id>``, epoch), so a replay is skipped in the log.

Metrics (T8): a StreamingQueryListener appends one JSON line per
progress event, the analog of ``o.ReportJSONL()`` appending to
metrics.json (main.go:62-75,418).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from ..operators.aggregates import hourly_agg
from ..operators.normalize import normalize_bidreq
from ..proto.decode import decode_bidrequests
from ..sinks.lake import (
    PARTITION_COLS,
    agg_with_partitions,
    norm_with_partitions,
    raw_with_partitions,
    write_partitioned,
)
from ..sources.files import kafka_shaped_file_stream
from ..sources.kafka import KafkaConfig, kafka_stream


class JsonlMetricsListener(StreamingQueryListener):
    """T8 metrics: one JSONL line per micro-batch progress, mirroring
    the reference's metrics.json append (main.go:62-75)."""

    def __init__(self, path: str):
        self.path = path

    def onQueryStarted(self, event):
        self._append({"event": "started", "id": str(event.id), "ts": time.time()})

    def onQueryProgress(self, event):
        p = event.progress
        self._append({
            "event": "progress",
            "id": str(p.id),
            "batchId": p.batchId,
            "numInputRows": p.numInputRows,
            "inputRowsPerSecond": p.inputRowsPerSecond,
            "processedRowsPerSecond": p.processedRowsPerSecond,
            "durationMs": dict(p.durationMs) if p.durationMs else {},
            "ts": time.time(),
        })

    def onQueryTerminated(self, event):
        self._append({"event": "terminated", "id": str(event.id), "ts": time.time()})

    def onQueryIdle(self, event):
        pass

    def _append(self, rec: dict[str, Any]) -> None:
        with open(self.path, "a") as f:
            f.write(json.dumps(rec) + "\n")


@dataclass
class Pipeline:
    """Builder; see module docstring for the orchestrator mapping."""

    spark: SparkSession
    _source: DataFrame | None = None
    _decode_opts: dict[str, Any] = field(default_factory=dict)
    _lake_root: str | None = None
    _checkpoint: str | None = None
    _metrics_path: str | None = None
    _available_now: bool = False
    _trigger_secs: float | None = None
    _transform: Callable[[DataFrame], DataFrame] | None = None
    _use_txlog: bool = False
    _query_id: str | None = None  # the epoch key's query half; see run()

    # --- sources ---
    def source_kafka(self, conf: KafkaConfig) -> "Pipeline":
        self._source = kafka_stream(self.spark, conf)
        if conf.confluent_prefix:
            self._decode_opts.setdefault("confluent_prefix", True)
        return self

    def source_files(self, path: str, max_files_per_trigger: int | None = None) -> "Pipeline":
        self._source = kafka_shaped_file_stream(self.spark, path, max_files_per_trigger)
        return self

    def source_dataframe(self, df: DataFrame) -> "Pipeline":
        """Any Kafka-shaped (value, timestamp) stream or batch frame."""
        self._source = df
        return self

    # --- decode (S4 + S2/S3 framing) ---
    def decode(self, **opts: Any) -> "Pipeline":
        """Options forwarded to proto.decode.decode_bidrequests:
        confluent_prefix, ts_suffix, use_jvm, desc_path, message_name."""
        self._decode_opts.update(opts)
        return self

    def transform(self, fn: Callable[[DataFrame], DataFrame]) -> "Pipeline":
        """X2-style custom hook applied to the decoded frame."""
        self._transform = fn
        return self

    # --- sink ---
    def sink_lake(
        self, root: str, checkpoint: str, *, metrics_jsonl: str | None = None
    ) -> "Pipeline":
        """Each epoch writes raw, norm and hourly agg as hive-partitioned
        zstd parquet under ``<root>/<table>/ingest_batch=<key>``."""
        self._lake_root = root
        self._checkpoint = checkpoint
        self._metrics_path = metrics_jsonl
        return self

    def sink_txlog(
        self, root: str, checkpoint: str, *, metrics_jsonl: str | None = None
    ) -> "Pipeline":
        """Like sink_lake, but each table is an ACID manifest-commit
        table (sinks/txlog.py): every epoch commits transactionally
        under the same (query, epoch) key, so a replayed epoch is a
        no-op in the log itself, and compaction/vacuum can run
        concurrently with the stream under snapshot isolation."""
        self.sink_lake(root, checkpoint, metrics_jsonl=metrics_jsonl)
        self._use_txlog = True
        return self

    def trigger(self, *, available_now: bool = False, processing_time_secs: float | None = None) -> "Pipeline":
        self._available_now = available_now
        self._trigger_secs = processing_time_secs
        return self

    # --- run ---
    def _decoded(self, df: DataFrame) -> DataFrame:
        bidreq = decode_bidrequests(df, **self._decode_opts)
        return bidreq if self._transform is None else self._transform(bidreq)

    def _query_key(self) -> str:
        """The query half of the epoch key: the streaming-query id the
        checkpoint persists (Delta's txn appId rule) — stable across
        restarts of the SAME checkpoint, so replayed epochs land on
        their own key; new when the checkpoint is recreated, so a
        deliberate reprocess lands beside the old output.  Read once
        per run (run() clears it; Spark writes the metadata file before
        the first batch).  No readable metadata gives a fresh key: a
        replay then re-lands rather than overwriting another run."""
        if self._query_id is None:
            try:
                with open(os.path.join(self._checkpoint, "metadata")) as f:
                    self._query_id = json.load(f)["id"]
            except (OSError, ValueError, KeyError, TypeError):
                self._query_id = uuid.uuid4().hex
        return self._query_id

    def _commit(self, table: str, frame: DataFrame, batch_id: int) -> None:
        """Land one table's epoch frame (partition columns attached)
        under the (query, epoch) key — the only per-sink difference."""
        key = self._query_key()
        if self._use_txlog:
            from ..sinks.txlog import TxTable

            TxTable(f"{self._lake_root}/{table}").commit_epoch(
                frame, f"{table}@{key}", batch_id, PARTITION_COLS
            )
        else:
            write_partitioned(
                frame, f"{self._lake_root}/{table}/ingest_batch={key}_{batch_id}"
            )

    def _export_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """The foreachBatch body = the reference's whole export path
        (§3.2): one rotated file's worth of rows -> raw + norm + agg,
        each committed under the epoch key (module docstring).  The key
        plays the role the rotated-file path played in the reference's
        at-least-once orphan rescan (main.go:140-195), upgraded to
        exactly-once.  Lake readers see ingest_batch as a partition
        column and drop it (sources/files.read_lake)."""
        bidreq = self._decoded(batch_df).persist()
        try:
            self._commit("bidreq", raw_with_partitions(bidreq), batch_id)
            # norm feeds two tables in this batch: materialize it once
            norm = normalize_bidreq(bidreq).persist()
            try:
                self._commit("bidreq_norm", norm_with_partitions(norm), batch_id)
                self._commit(
                    "bidreq_hourly", agg_with_partitions(hourly_agg(norm)), batch_id
                )
            finally:
                norm.unpersist()
        finally:
            bidreq.unpersist()

    def _start(self, writer, query_name: str) -> "PipelineHandle":
        """Metrics listener, checkpoint and trigger shared by both
        streaming runs, then start the query."""
        listener = None
        if self._metrics_path:
            listener = JsonlMetricsListener(self._metrics_path)
            self.spark.streams.addListener(listener)
        writer = writer.option("checkpointLocation", self._checkpoint).queryName(query_name)
        if self._available_now:
            writer = writer.trigger(availableNow=True)
        elif self._trigger_secs:
            writer = writer.trigger(processingTime=f"{self._trigger_secs} seconds")
        return PipelineHandle(writer.start(), self.spark, listener)

    def run(self) -> "PipelineHandle":
        if self._source is None or self._lake_root is None:
            raise ValueError("pipeline needs a source and sink_lake(...)")
        self._query_id = None  # this run's checkpoint decides the key
        writer = self._source.writeStream.foreachBatch(self._export_batch)
        return self._start(writer, "quacfka-pipeline")

    def run_incremental_agg(
        self, out_path: str, lateness: str | None = None
    ) -> "PipelineHandle":
        """The idiomatic-streaming variant of the agg sink: decode ->
        normalize -> watermarked tumbling-window hourly aggregate,
        emitted append-mode to parquet as each hour closes
        (streaming/windowed.py; contrast with the reference's
        batch-per-file re-export, SURVEY.md T2/T3)."""
        from .windowed import DEFAULT_LATENESS, incremental_hourly_agg

        if self._source is None:
            raise ValueError("pipeline needs a source")
        agg = incremental_hourly_agg(
            normalize_bidreq(self._decoded(self._source)), lateness or DEFAULT_LATENESS
        )
        writer = agg.writeStream.outputMode("append").format("parquet").option("path", out_path)
        return self._start(writer, "quacfka-incremental-agg")

    def run_batch(self) -> None:
        """One-shot batch mode over a non-streaming source frame — the
        dev/backfill path (reference parity: re-exporting one DB file).
        Each call is a fresh query key, so re-running it re-lands."""
        if self._source is None or self._lake_root is None:
            raise ValueError("pipeline needs a source and sink_lake(...)")
        self._query_id = uuid.uuid4().hex
        self._export_batch(self._source, 0)


@dataclass
class PipelineHandle:
    """o.Run's handle: stop/progress/metrics (main.go:267,320,409-429)."""

    query: Any
    spark: SparkSession
    listener: JsonlMetricsListener | None = None

    def stop(self) -> None:  # T7 graceful shutdown
        self.query.stop()
        if self.listener is not None:
            self.spark.streams.removeListener(self.listener)

    def await_termination(self, timeout: float | None = None):
        return self.query.awaitTermination(timeout)

    def progress(self) -> dict | None:
        p = self.query.lastProgress
        return dict(p) if p else None

    def error(self) -> Any:  # o.Error() (main.go:320)
        return self.query.exception()
