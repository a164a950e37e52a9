"""Traced replay: per-layer spans from the benchmark's own call sites.

Replays each measured micro-batch's input files through the call
sequence of the ``Pipeline._export_batch`` body, using only public
functions, and forces each call at its own boundary so the span covers
that layer's work alone:

    decode_bidrequests -> persist -> write_raw_export -> normalize_bidreq
    -> write_norm_export -> hourly_agg -> write_hourly_agg

Query rounds are traced the same way: ``read_lake`` (the file listing)
and each of the four queries.  Spans live in memory and are written out
as JSON when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    group: str  # "batch-<n>" or "round-<n>"
    counts: dict

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, group: str, parent: int | None = None):
        s = Span(len(self.spans), name, time.perf_counter(), 0.0, parent, group, {})
        self.spans.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()

    def self_ms(self, name: str) -> list[float]:
        """Self time of each span called ``name``: its duration minus the
        part its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return [(s.end - s.start - child[i]) * 1000
                for i, s in enumerate(self.spans) if s.name == name]

    def ms(self, name: str) -> list[float]:
        return [s.ms for s in self.spans if s.name == name]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([asdict(s) for s in self.spans]))


def replay_batches(spark, tracer: Tracer, batch_files: list[list[Path]], out: Path) -> None:
    """One traced replay per micro-batch, into its own lake."""
    from quacfka_service_spark.operators.aggregates import hourly_agg
    from quacfka_service_spark.operators.normalize import normalize_bidreq
    from quacfka_service_spark.proto.decode import decode_bidrequests
    from quacfka_service_spark.sinks.lake import (
        write_hourly_agg,
        write_norm_export,
        write_raw_export,
    )
    from quacfka_service_spark.sources.files import KAFKA_RECORD_SCHEMA

    for n, files in enumerate(batch_files):
        g = f"batch-{n}"
        sub = f"ingest_batch={n}"
        with tracer.span("batch", g) as root:
            p = root.id
            src = spark.read.schema(KAFKA_RECORD_SCHEMA).parquet(*map(str, files))
            with tracer.span("proto.decode_bidrequests", g, p) as s:
                bidreq = decode_bidrequests(src, confluent_prefix=True)
                bidreq.persist()
                s.counts["rows"] = bidreq.count()
            try:
                with tracer.span("sinks.lake.write_raw_export", g, p):
                    write_raw_export(bidreq, f"{out}/bidreq/{sub}", mode="overwrite")
                with tracer.span("operators.normalize.normalize_bidreq", g, p) as s:
                    norm = normalize_bidreq(bidreq)
                    norm.persist()
                    s.counts["rows"] = norm.count()
                with tracer.span("sinks.lake.write_norm_export", g, p):
                    write_norm_export(norm, f"{out}/bidreq_norm/{sub}", mode="overwrite")
                with tracer.span("operators.aggregates.hourly_agg", g, p) as s:
                    agg = hourly_agg(norm)
                    agg.persist()
                    s.counts["groups"] = agg.count()
                with tracer.span("sinks.lake.write_hourly_agg", g, p):
                    write_hourly_agg(agg, f"{out}/bidreq_hourly/{sub}", mode="overwrite")
                agg.unpersist()
                norm.unpersist()
            finally:
                bidreq.unpersist()


def traced_round(svc, tracer: Tracer, n: int, lake: Path, hour: dict) -> None:
    """One traced four-query round over ``lake``: a span per query and,
    inside it, one per ``read_lake`` call (the file listing)."""
    from quacfka_service_spark.sources.files import read_lake

    g = f"round-{n}"
    parent = [None]

    def traced_read(spark, root, table):
        with tracer.span("sources.files.read_lake", g, parent[0]) as s:
            s.counts["table"] = table
            return read_lake(spark, root, table)

    with tracer.span("round", g) as root:
        for name, run in svc.queries(lake, hour, read=traced_read):
            label = "lake_hourly_agg" if name == "hourly_agg" else name
            with tracer.span(f"operators.aggregates.{label}", g, root.id) as s:
                parent[0] = s.id
                run()
