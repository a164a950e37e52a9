"""Drives the service's public ``Pipeline`` and lake readers for one run.

A run is: set-up (session, warm-up pipeline run, one untimed query
round), an ingest phase (``live`` open loop or ``backfill`` closed
drain), and a query phase (a closed loop of four-query rounds over the
lake the ingest phase wrote).

Only the main thread drives the run; it is also the thread that renames
input files into the watched directory, so the generator adds no work
the system under test would compete with.  Micro-batch timing comes
from the query's own progress events (``StreamingQuery.recentProgress``,
the records a ``StreamingQueryListener`` receives).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path

from gen import Inputs, Stream
from oracle import lake_hours

# live: 500-record files, each 10 min of event time starting at half past
# an hour, so a run's files fill the second half of one hour partition
# and the first half of the next; one arrives every LIVE_INTERVAL_S.  A
# 500-record micro-batch takes ~1.8 s on 4 cores, so this is about half
# the sustainable rate.
LIVE = dict(records_per_file=500, file_span_s=600, start_offset_s=1_800)
LIVE_INTERVAL_S = 3.5
# backfill: a backlog of one day of event time in 1500-record files, one
# hour partition each, drained four files (6000 records, 4 hour
# partitions) per batch: 6 batches, ~20 s on 4 cores.
BACKFILL = dict(records_per_file=1_500, file_span_s=3_600)
BACKFILL_FILES = 24
BACKFILL_FILES_PER_TRIGGER = 4
# Warm-up inputs: fixed (seed-independent), with the file size and files
# per trigger of the measured phase, so the batch shapes the samples run
# are compiled and every Python worker has loaded the decoder before any
# sample is taken; every set-up of a workload does the same work.
WARMUP_SEED = 0
WARMUP = {
    "live": (Stream(files=3, **LIVE), 1),
    "backfill": (Stream(files=4, **BACKFILL), BACKFILL_FILES_PER_TRIGGER),
}
# the query phase runs rounds for this share of --seconds
QUERY_SHARE = 0.25
QUERY_MIN_ROUNDS = 3
DRAIN_TIMEOUT_S = 60.0
# a live attempt whose latency drifts up by more than the
# ingest_latency_ms bound is not a steady state (a backlog built up, or
# the host slowed mid-run); it is run once more if the process has been
# running for less than LIVE_RETRY_BEFORE_S, so a run stays well inside
# its time limit
LIVE_MAX_DRIFT = 1.15
LIVE_RETRY_BEFORE_S = 60.0


def live_stream(seconds: int) -> Stream:
    return Stream(files=int(seconds / LIVE_INTERVAL_S) + 1, **LIVE)


def backfill_stream() -> Stream:
    return Stream(files=BACKFILL_FILES, **BACKFILL)


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(round(q / 100 * len(s) + 0.5)) - 1))
    return s[k]


@dataclass
class Batch:
    """One data-carrying micro-batch, from its progress event."""

    batch_id: int
    rows: int
    start: float  # epoch seconds
    duration_ms: dict

    @property
    def end(self) -> float:
        return self.start + self.duration_ms.get("triggerExecution", 0) / 1000


def batches_of(query) -> list[Batch]:
    out = []
    for p in query.recentProgress:
        rows = p["numInputRows"]
        if not rows:
            continue
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        out.append(Batch(p["batchId"], rows, start, dict(p["durationMs"])))
    return sorted(out, key=lambda b: b.batch_id)


def file_landings(batches: list[Batch], n_files: int, rows_per_file: int) -> list[float | None]:
    """Completion time of the batch that landed each file, by cumulative rows."""
    out: list[float | None] = [None] * n_files
    done = 0
    for b in batches:
        done += b.rows
        for k in range(n_files):
            if out[k] is None and (k + 1) * rows_per_file <= done:
                out[k] = b.end
    return out


@dataclass
class Ingest:
    """What one ingest phase observed."""

    files: list[Path]          # input files, in delivery order
    latencies_ms: list[float]  # per landed file
    batches: list[Batch]
    wall_s: float
    job_ids: list[int]
    late_ms: list[float] = field(default_factory=list)
    lag_files: list[int] = field(default_factory=list)
    error: str | None = None

    @property
    def landed(self) -> int:
        return len(self.latencies_ms)

    def drift(self) -> float:
        """Second-half over first-half median of the run's samples:
        per-file latency for an open loop, per-batch time for a drain
        (whose per-file latencies grow by construction)."""
        if self.late_ms:
            xs = self.latencies_ms
        else:
            xs = [b.duration_ms["triggerExecution"] for b in self.batches[1:]]
        h = len(xs) // 2
        return statistics.median(xs[h:]) / statistics.median(xs[:h]) if h else 1.0

    def batch_rates(self) -> list[float]:
        """Records per second of each micro-batch's execution, leaving
        out the query's first batch."""
        counted = self.batches[1:] or self.batches
        return [b.rows * 1000 / b.duration_ms["triggerExecution"] for b in counted]


class Service:
    """One benchmark process's Spark session and working directory."""

    def __init__(self, work: Path, cpus: int):
        self.work = work
        self.cpus = cpus
        self.spark = None
        self._n = 0

    def _dir(self, tag: str) -> Path:
        self._n += 1
        d = self.work / f"{self._n:03d}-{tag}"
        d.mkdir(parents=True)
        return d

    def pipeline(self, src: Path, lake: Path, max_files_per_trigger: int | None = None,
                 available_now: bool = False):
        from quacfka_service_spark.streaming.pipeline import Pipeline

        return (
            Pipeline(self.spark)
            .source_files(str(src), max_files_per_trigger=max_files_per_trigger)
            .decode(confluent_prefix=True)
            .sink_lake(str(lake), str(lake.parent / "checkpoint"))
            .trigger(available_now=available_now)
        )

    # --- set-up ------------------------------------------------------

    def setup(self, warmup: Inputs, files_per_trigger: int) -> tuple[float, float]:
        """get_spark(), one pipeline run over the warm-up input into a
        throwaway lake, and one untimed query round over that lake:
        (session start s, warm-up s)."""
        from quacfka_service_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=str(self.cpus))
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        d = self._dir("warmup")
        src = d / "in"
        src.mkdir()
        for f in warmup.files:
            os.link(f, src / f.name)
        h = self.pipeline(src, d / "lake", max_files_per_trigger=files_per_trigger,
                          available_now=True).run()
        try:
            h.await_termination(DRAIN_TIMEOUT_S)
            if h.error() is not None:
                raise RuntimeError(f"warm-up pipeline failed: {h.error()}")
        finally:
            h.stop()
        first = min(lake_hours(d / "lake", "bidreq"), key=lambda h: tuple(map(int, h)))
        round_ms(self.queries(d / "lake", dict(zip(("year", "month", "day", "hour"), first))),
                 lambda name, df: True)
        t2 = time.perf_counter()
        shutil.rmtree(d)
        return t1 - t0, t2 - t1

    def stop(self) -> None:
        """Stop the session and the JVM behind it, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def _job_ids(self, query) -> list[int]:
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId)))

    # --- ingest phases -----------------------------------------------

    def live(self, inp: Inputs) -> tuple[Ingest, Path]:
        """Open loop: file k is due at t0 + k * LIVE_INTERVAL_S and lands
        by atomic rename; default trigger."""
        d = self._dir("live")
        stage, src, lake = d / "stage", d / "in", d / "lake"
        stage.mkdir()
        src.mkdir()
        for f in inp.files:
            os.link(f, stage / f.name)
        n_rows = inp.stream.records_per_file
        h = self.pipeline(src, lake).run()
        q = h.query
        late, lag, due = [], [], []
        try:
            t0 = time.time() + 0.25
            for k, f in enumerate(inp.files):
                t_due = t0 + k * LIVE_INTERVAL_S
                time.sleep(max(0.0, t_due - time.time()))
                os.utime(stage / f.name)
                os.rename(stage / f.name, src / f.name)
                now = time.time()
                late.append((now - t_due) * 1000)
                due.append(t_due)
                committed = sum(b.rows for b in batches_of(q)) // n_rows
                lag.append(k + 1 - committed)
            deadline = time.time() + DRAIN_TIMEOUT_S
            while time.time() < deadline:
                if sum(b.rows for b in batches_of(q)) >= len(inp.files) * n_rows:
                    break
                if q.exception() is not None:
                    break
                time.sleep(0.05)
            wall = time.time() - t0
            batches = batches_of(q)
            jobs = self._job_ids(q)
            err = q.exception()
        finally:
            h.stop()
        ends = file_landings(batches, len(inp.files), n_rows)
        lat = [(e - t) * 1000 for e, t in zip(ends, due) if e is not None]
        return Ingest(list(inp.files), lat, batches, wall, jobs,
                      late, lag, None if err is None else str(err)), lake

    def backfill(self, inp: Inputs) -> tuple[Ingest, Path]:
        """Closed drain of a pre-loaded backlog (availableNow); each
        file's latency runs from the drain start."""
        d = self._dir("backfill")
        src, lake = d / "in", d / "lake"
        src.mkdir()
        for f in inp.files:
            os.link(f, src / f.name)
        h = self.pipeline(src, lake, max_files_per_trigger=BACKFILL_FILES_PER_TRIGGER,
                          available_now=True).run()
        t0 = time.time()
        try:
            h.await_termination(DRAIN_TIMEOUT_S * 1.5)
            wall = time.time() - t0
            batches = batches_of(h.query)
            jobs = self._job_ids(h.query)
            err = h.error()
        finally:
            h.stop()
        ends = file_landings(batches, len(inp.files), inp.stream.records_per_file)
        lat = [(e - t0) * 1000 for e in ends if e is not None]
        return Ingest(list(inp.files), lat, batches, wall, jobs,
                      error=None if err is None else str(err)), lake

    # --- query phase -------------------------------------------------

    def queries(self, lake: Path, hour: dict, read=None):
        """The four reader queries, in round order, as (name, thunk).
        ``read`` stands in for ``read_lake`` (the traced run wraps it)."""
        from pyspark.sql import functions as F

        from quacfka_service_spark import sqlapi
        from quacfka_service_spark.operators.aggregates import hourly_agg, partition_enumeration
        from quacfka_service_spark.sources.files import read_lake

        spark, root = self.spark, str(lake)
        read = read or read_lake

        def enum():
            return partition_enumeration(read(spark, root, "bidreq")).toPandas()

        def rollup():
            return (read(spark, root, "bidreq_hourly")
                    .groupBy("date", "hour").agg(F.sum("requests").alias("requests"))
                    .toPandas())

        def agg():
            return hourly_agg(read(spark, root, "bidreq_norm")).toPandas()

        def raw():
            pruned = read(spark, root, "bidreq").where(
                (F.col("year") == hour["year"]) & (F.col("month") == hour["month"])
                & (F.col("day") == hour["day"]) & (F.col("hour") == hour["hour"]))
            pruned.createOrReplaceTempView("bidreq")
            return sqlapi.sql(spark, sqlapi.RAW_EXPORT_SQL, **hour).toPandas()

        return [("partition_enumeration", enum), ("rollup", rollup),
                ("hourly_agg", agg), ("raw_export", raw)]


def round_ms(qs, check) -> tuple[float, int]:
    """One timed four-query round: (wall ms, wrong answers)."""
    wrong = 0
    total = 0.0
    for name, run in qs:
        t = time.perf_counter()
        df = run()
        total += time.perf_counter() - t
        wrong += 0 if check(name, df) else 1
    return total * 1000, wrong


def cpu_steal() -> tuple[int, int]:
    """(steal ticks, total ticks) from /proc/stat; (0, 0) elsewhere."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)
