"""Seeded, cached input generator for the service benchmark.

Kept apart from the system under test: the measured process only
renames files this module wrote beforehand.

Two stages:

1. The payload *pool* (seed-independent, built once per checkout).  A
   Spark process runs the repo's own ``build_bidreq`` over a synthetic
   events table and encodes every row with ``proto.wire.encode_bidrequest``
   in ``mapInArrow`` workers.  In the fixture, only ``timestamp.seconds``
   depends on the event time, and the encoder writes the ``timestamp``
   message (field 20, the highest) last.  So each payload splits into a
   time-independent *body* and a timestamp tail; the pool keeps
   ``(event_id, user_id, body)``.  The build checks both halves of that
   claim: every payload ends in the tail the encoder makes for its own
   timestamp, and a second build of some of the rows at another event
   time gives byte-identical bodies.

2. Per-seed inputs (pure Python, no Spark).  A seed picks distinct pool
   rows and a time-ordered synthetic clock; each record becomes the
   Confluent stub + body + the encoder's timestamp tail for its own
   event time, i.e. exactly ``encode_bidrequest(build_bidreq(row))``
   framed the way the service's file mode reads it.  The records are
   split into Kafka-shaped parquet files and an events-shaped table is
   written beside them for the DuckDB oracle.

Both stages cache their output under ``perfbench/.cache`` with a
SHA-256 manifest that is verified on every reuse.

Run ``python3 perfbench/gen.py pool DIR`` to build a pool by hand.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import sys
from dataclasses import asdict, dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CACHE = Path(__file__).resolve().parent / ".cache"

POOL_SIZE = 65_536
POOL_EPOCH_S = 1_577_836_800  # 2020-01-01T00:00:00Z
# rows rebuilt at a second event time to prove bodies are time-independent
POOL_PROBE_ROWS = 512
POOL_PROBE_SHIFT_S = 7 * 86_400 + 13 * 3_600 + 17
CONFLUENT_STUB = b"\x00\x00\x00\x00\x00\x01"
NANOS_MUL = 1_000_003  # fixture: timestamp.nanos = (e * 1000003) % 1e9


def sha256_file(path: Path) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _write_manifest(d: Path, meta: dict) -> None:
    files = sorted(p for p in d.rglob("*") if p.is_file() and p.name != "manifest.json")
    meta = dict(meta, files={str(p.relative_to(d)): sha256_file(p) for p in files})
    (d / "manifest.json").write_text(json.dumps(meta, indent=1, sort_keys=True))


def verify_manifest(d: Path) -> dict | None:
    """The manifest if every listed file is present with its checksum."""
    try:
        meta = json.loads((d / "manifest.json").read_text())
    except (OSError, ValueError):
        return None
    for rel, digest in meta.get("files", {}).items():
        p = d / rel
        if not p.is_file() or sha256_file(p) != digest:
            return None
    return meta


def _publish(tmp: Path, final: Path) -> None:
    if final.exists():
        shutil.rmtree(final)
    os.rename(tmp, final)


def ts_tail(seconds: int, e: int) -> bytes:
    """The encoder's bytes for the fixture's ``timestamp`` message."""
    from quacfka_service_spark.proto.wire import BIDREQUEST_SPEC, encode_message

    ts = {"seconds": seconds, "nanos": (e * NANOS_MUL) % 1_000_000_000}
    return encode_message({"timestamp": ts}, BIDREQUEST_SPEC)


# --------------------------------------------------------------------------
# stage 1: the pool
# --------------------------------------------------------------------------


def _pool_user(e: int) -> int:
    return (e * 2_654_435_761) % 100_003


def _events_table(ids, users, ts_us):
    import pyarrow as pa

    n = len(ids)
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(["bid"] * n, pa.string()),
        "value": pa.array([0.0] * n, pa.float64()),
        "props": pa.array([""] * n, pa.string()),
    })


def _encode_bodies(batches):
    """mapInArrow body: nested bidreq rows -> (event_id, body)."""
    import pyarrow as pa

    from quacfka_service_spark.proto.wire import encode_bidrequest

    for batch in batches:
        es, bodies = [], []
        for rec in batch.to_pylist():
            rec.pop("event_tm", None)
            e = int(rec["id"][len("req-"):])
            payload = encode_bidrequest(rec)
            tail = ts_tail(rec["timestamp"]["seconds"], e)
            if not payload.endswith(tail):
                raise ValueError(f"payload of event {e} does not end in its timestamp")
            es.append(e)
            bodies.append(payload[: -len(tail)])
        yield pa.RecordBatch.from_arrays(
            [pa.array(es, pa.int64()), pa.array(bodies, pa.binary())], ["event_id", "body"]
        )


def build_pool(out: Path) -> None:
    """Stage 1, run in its own process: needs a Spark session."""
    import pyarrow.parquet as pq

    from quacfka_service_spark.fixtures import build_bidreq
    from quacfka_service_spark.session import get_spark

    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "main").mkdir(parents=True)
    (tmp / "probe").mkdir()
    ids = list(range(1, POOL_SIZE + 1))
    users = [_pool_user(e) for e in ids]
    pq.write_table(
        _events_table(ids, users, [(POOL_EPOCH_S + e) * 1_000_000 for e in ids]),
        tmp / "main" / "events.parquet",
    )
    pids = ids[:POOL_PROBE_ROWS]
    pq.write_table(
        _events_table(pids, users[:POOL_PROBE_ROWS],
                      [(POOL_EPOCH_S + POOL_PROBE_SHIFT_S + e) * 1_000_000 for e in pids]),
        tmp / "probe" / "events.parquet",
    )
    spark = get_spark("perfbench-pool")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        schema = "event_id long, body binary"
        bodies = {}
        for part in ("main", "probe"):
            rows = (
                build_bidreq(spark, str(tmp / part))
                .mapInArrow(_encode_bodies, schema)
                .toArrow()
            )
            bodies[part] = dict(zip(rows.column("event_id").to_pylist(),
                                    rows.column("body").to_pylist()))
    finally:
        spark.stop()
    main, probe = bodies["main"], bodies["probe"]
    if sorted(main) != ids:
        raise ValueError("pool build lost or duplicated rows")
    if any(probe[e] != main[e] for e in pids):
        raise ValueError("payload bodies depend on event time; the splice is invalid")
    import pyarrow as pa

    shutil.rmtree(tmp / "main")
    shutil.rmtree(tmp / "probe")
    pq.write_table(
        pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "user_id": pa.array(users, pa.int64()),
            "body": pa.array([main[e] for e in ids], pa.binary()),
        }),
        tmp / "pool.parquet",
    )
    _write_manifest(tmp, {"pool_size": POOL_SIZE})
    _publish(tmp, out)


def ensure_pool(env: dict) -> Path:
    """The cached pool, built in a child process if absent or corrupt."""
    import subprocess

    out = CACHE / f"pool-{POOL_SIZE}"
    if verify_manifest(out) is None:
        CACHE.mkdir(parents=True, exist_ok=True)
        subprocess.run(
            [sys.executable, str(Path(__file__).resolve()), "pool", str(out)],
            env=env, check=True, stdout=subprocess.DEVNULL,
        )
        if verify_manifest(out) is None:
            raise RuntimeError("pool build did not produce a verified pool")
    return out


# --------------------------------------------------------------------------
# stage 2: per-seed inputs
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class Stream:
    """Traffic dimensions of one generated input stream."""

    files: int
    records_per_file: int
    # event time: file k covers [t0 + k * file_span_s, t0 + (k + 1) * file_span_s)
    # where t0 is an hour boundary + start_offset_s, so the hour partitions
    # each file and each batch touches are the same for every seed
    file_span_s: int
    start_offset_s: int = 0

    @property
    def records(self) -> int:
        return self.files * self.records_per_file


@dataclass
class Inputs:
    stream: Stream
    files: list[Path]  # Kafka-shaped parquet, in delivery order
    events: Path       # the events-shaped table behind them, same order


def _load_pool(pool_dir: Path):
    import pyarrow.parquet as pq

    t = pq.read_table(pool_dir / "pool.parquet")
    return (t.column("event_id").to_pylist(), t.column("user_id").to_pylist(),
            t.column("body").to_pylist())


def _make_inputs(out: Path, pool_dir: Path, stream: Stream, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, users, bodies = _load_pool(pool_dir)
    if stream.records > len(ids):
        raise ValueError(f"{stream.records} records requested from a pool of {len(ids)}")
    rng = random.Random(seed)
    rows = rng.sample(range(len(ids)), stream.records)
    # time-ordered synthetic clock from an hour boundary somewhere in 2024;
    # a file's records are sorted uniform draws over its span, stopping a
    # second short of its end (the raw table's partition adds up to 999 ms)
    t0 = 1_704_067_200 + rng.randrange(0, 300 * 24) * 3_600 + stream.start_offset_s
    span_us = (stream.file_span_s - 1) * 1_000_000
    ts_us = []
    for k in range(stream.files):
        lo = (t0 + k * stream.file_span_s) * 1_000_000
        ts_us += sorted(lo + rng.randrange(span_us) for _ in range(stream.records_per_file))
    ev_ids = [ids[r] for r in rows]
    ev_users = [users[r] for r in rows]
    values = [
        CONFLUENT_STUB + bodies[r] + ts_tail(t // 1_000_000, ids[r])
        for r, t in zip(rows, ts_us)
    ]
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "files").mkdir(parents=True)
    pq.write_table(_events_table(ev_ids, ev_users, ts_us), tmp / "events.parquet")
    n = stream.records_per_file
    for k in range(stream.files):
        sl = slice(k * n, (k + 1) * n)
        pq.write_table(
            pa.table({
                "key": pa.nulls(n, pa.binary()),
                "value": pa.array(values[sl], pa.binary()),
                "timestamp": pa.array(ts_us[sl], pa.timestamp("us", tz="UTC")),
            }),
            tmp / "files" / f"part-{k:05d}.parquet",
        )
    _write_manifest(tmp, {"seed": seed, "stream": asdict(stream)})
    _publish(tmp, out)


def inputs(name: str, stream: Stream, seed: int, pool_dir: Path) -> Inputs:
    """Cached per-(name, stream, seed) inputs; regenerated if a checksum fails."""
    key = hashlib.sha256(
        json.dumps([name, asdict(stream), seed, POOL_SIZE]).encode()
    ).hexdigest()[:16]
    out = CACHE / f"in-{name}-{seed}-{key}"
    if verify_manifest(out) is None:
        _make_inputs(out, pool_dir, stream, seed)
        if verify_manifest(out) is None:
            raise RuntimeError(f"generated inputs in {out} fail their checksums")
    files = [out / "files" / f"part-{k:05d}.parquet" for k in range(stream.files)]
    return Inputs(stream, files, out / "events.parquet")


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "pool":
        sys.exit("usage: gen.py pool OUT_DIR")
    sys.path.insert(0, str(ROOT))
    build_pool(Path(sys.argv[2]))
