"""Service benchmark: live freshness, backfill drain rate, lake query latency.

    python3 perfbench/run.py --workload live|backfill --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One run, in this one process:

1. Generates (or reuses, after a checksum) the seed's inputs; see gen.py.
   None of this is timed.
2. Set-up (``setup_s``): ``get_spark(cpus=nproc)``, one pipeline run
   over a fixed warm-up input into a throwaway lake, and one untimed
   query round over that lake.
3. Ingest phase through the service's public ``Pipeline`` in file mode
   (``confluent_prefix=True``): ``live`` is an open loop of small
   time-ordered files renamed into the watched directory on a fixed
   schedule; ``backfill`` is a closed ``availableNow`` drain of a
   pre-loaded day of event time.
4. Query phase: one untimed, then timed rounds of four reader queries
   over the lake the ingest phase wrote.
5. Correctness gate: the lake and every query answer against DuckDB
   over the same events (oracle.py).

``--trace 1`` repeats the run's batches and rounds through the traced
replay (spans.py) and reports per-layer metrics instead; end-to-end
metrics always come from untraced runs.  The last line of stdout is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("live", "backfill")


def parse(argv):
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def environment(work: Path, cpus: int) -> dict:
    """Pin everything a run writes inside the checkout and make the
    package importable in Python workers."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p])
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["TMPDIR"] = str(tmp)
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return dict(env)


def lake_stats(lake: Path, batches: int) -> dict:
    from oracle import TABLES

    files = [p for t in TABLES for p in (lake / t).rglob("*.parquet")]
    hours = [
        len(list(b.glob("year=*/month=*/day=*/hour=*")))
        for b in (lake / "bidreq").glob("ingest_batch=*")
    ]
    return {
        "files": len(files),
        "bytes": sum(p.stat().st_size for p in files),
        "files_per_batch": len(files) / max(1, batches),
        "hours_per_batch": statistics.median(hours) if hours else 0,
    }


def payload_bytes(files) -> int:
    import pyarrow.parquet as pq

    return sum(
        sum(len(v) for v in pq.read_table(f, columns=["value"]).column("value").to_pylist())
        for f in files)


def split_by_batch(files: list[Path], batches, rows_per_file: int) -> list[list[Path]]:
    out, k = [], 0
    for b in batches:
        n = b.rows // rows_per_file
        out.append(files[k:k + n])
        k += n
    return out


def run(args, work: Path) -> dict:
    import gen
    import service as sv
    from oracle import Oracle

    t_start = time.perf_counter()
    clock = [t_start]
    phases = {}

    def lap(name):
        now = time.perf_counter()
        phases[name] = now - clock[0]
        clock[0] = now

    cpus = len(os.sched_getaffinity(0))
    pool = gen.ensure_pool(environment(work, cpus))
    warm_stream, warm_per_trigger = sv.WARMUP[args.workload]
    warm = gen.inputs(f"warmup-{args.workload}", warm_stream, sv.WARMUP_SEED, pool)
    stream = sv.live_stream(args.seconds) if args.workload == "live" else sv.backfill_stream()
    inp = gen.inputs(args.workload, stream, args.seed, pool)
    oracle = Oracle(inp.events)
    lap("inputs")

    svc = sv.Service(work / "run", cpus)
    steal0 = sv.cpu_steal()
    notes, warnings = [], []
    try:
        start_s, warm_s = svc.setup(warm, warm_per_trigger)
        lap("setup")
        if args.workload == "live":
            ing, lake = svc.live(inp)
            if ing.landed == len(ing.files) and ing.drift() > sv.LIVE_MAX_DRIFT:
                # not a steady state; one more attempt on a fresh lake
                # if the run still has time for it
                warnings.append(f"INVALID live attempt: latency drift {ing.drift():.2f}, "
                                f"p50 {statistics.median(ing.latencies_ms):.0f} ms")
                if time.perf_counter() - t_start < sv.LIVE_RETRY_BEFORE_S:
                    ing, lake = svc.live(inp)
                    if ing.drift() > sv.LIVE_MAX_DRIFT:
                        warnings.append(f"INVALID live run: latency drift {ing.drift():.2f}")
        else:
            ing, lake = svc.backfill(inp)
        lap("ingest")
        if ing.error:
            notes.append(f"pipeline error: {ing.error.splitlines()[0]}")
        missing = len(ing.files) - ing.landed
        if missing:
            notes.append(f"{missing} files still in the backlog at the end")
        bad = oracle.check_lake(lake)
        notes += bad
        lap("check")

        qs = svc.queries(lake, oracle.first_hour)
        # the first round on a new lake lists its files and plans cold
        _, wrong = sv.round_ms(qs, oracle.answer_ok)
        rounds = []
        while len(rounds) < sv.QUERY_MIN_ROUNDS or sum(rounds) / 1000 < args.seconds * sv.QUERY_SHARE:
            ms, w = sv.round_ms(qs, oracle.answer_ok)
            rounds.append(ms)
            wrong += w
        if wrong:
            notes.append(f"{wrong} wrong query answers")
        steal1 = sv.cpu_steal()
        lap("rounds")

        res = {
            "ingest": ing, "rounds": rounds, "start_s": start_s, "warm_s": warm_s,
            "steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "attempted": len(ing.files) + len(qs) * (len(rounds) + 1),
            "failed": missing + len(bad) + wrong,
            "notes": notes, "warnings": warnings, "phases": phases,
        }
        if args.trace:
            res["trace"] = traced(svc, ing, inp, lake, oracle.first_hour, work, args)
            res["lake_stats"] = lake_stats(lake, len(ing.batches))
            lap("trace")
    finally:
        svc.stop()
        oracle.close()
    lap("stop")
    return res


def traced(svc, ing, inp, lake, hour, work, args):
    from spans import Tracer, replay_batches, traced_round

    tracer = Tracer()
    files = split_by_batch(ing.files, ing.batches, inp.stream.records_per_file)
    replay_batches(svc.spark, tracer, files, work / "traced-lake")
    for n in range(3):
        traced_round(svc, tracer, n, lake, hour)
    out = HERE / "traces" / f"{args.workload}-seed{args.seed}.json"
    tracer.write(out)
    return tracer


def end_to_end(res) -> dict:
    ing = res["ingest"]
    return {
        "ingest_latency_ms": {"value": statistics.median(ing.latencies_ms), "unit": "ms"},
        "records_per_s": {"value": statistics.median(ing.batch_rates()), "unit": "1/s"},
        "query_ms": {"value": statistics.median(res["rounds"]), "unit": "ms"},
        "setup_s": {"value": res["start_s"] + res["warm_s"], "unit": "s"},
    }


def per_layer(res, inp_files) -> dict:
    import service as sv

    ing, tr, ls = res["ingest"], res["trace"], res["lake_stats"]
    b = ing.batches
    med = statistics.median

    def dur(key):
        return med([x.duration_ms.get(key, 0) for x in b])

    rows = sum(x.rows for x in b)
    busy = sum(x.duration_ms.get("triggerExecution", 0) for x in b) / 1000
    decode = tr.ms("proto.decode_bidrequests")
    decoded_rows = [s.counts["rows"] for s in tr.spans if s.name == "proto.decode_bidrequests"]
    norm_rows = [s.counts["rows"] for s in tr.spans if s.name == "operators.normalize.normalize_bidreq"]
    groups = [s.counts["groups"] for s in tr.spans if s.name == "operators.aggregates.hourly_agg"]
    lat = ing.latencies_ms
    batch_wall = tr.ms("batch")
    overhead = [t - x.duration_ms.get("triggerExecution", 0) for t, x in zip(batch_wall, b)]
    m = {
        "session.start_s": (res["start_s"], "s"),
        "session.warmup_s": (res["warm_s"], "s"),
        "sources.files.lag_files": (med(ing.lag_files) if ing.lag_files else len(ing.files), "count"),
        "sources.files.latest_offset_ms": (dur("latestOffset"), "ms"),
        "sources.files.get_batch_ms": (dur("getBatch"), "ms"),
        "sources.files.read_lake_ms": (med(tr.ms("sources.files.read_lake")), "ms"),
        "sources.files.lake_files": (ls["files"], "count"),
        "streaming.pipeline.trigger_ms": (dur("triggerExecution"), "ms"),
        "streaming.pipeline.add_batch_ms": (dur("addBatch"), "ms"),
        "streaming.pipeline.wal_commit_ms": (dur("walCommit"), "ms"),
        "streaming.pipeline.query_planning_ms": (dur("queryPlanning"), "ms"),
        "streaming.pipeline.jobs_per_batch": (len(ing.job_ids) / len(b), "count"),
        "streaming.pipeline.rows_per_batch": (med([x.rows for x in b]), "count"),
        "streaming.pipeline.idle_frac": (max(0.0, 1 - busy / ing.wall_s), "ratio"),
        "proto.decode_ms": (med(decode), "ms"),
        "proto.decode_records_per_s": (sum(decoded_rows) / (sum(decode) / 1000), "1/s"),
        "proto.payload_mb": (payload_bytes(inp_files) / 1e6, "MB"),
        "operators.normalize.normalize_ms": (med(tr.ms("operators.normalize.normalize_bidreq")), "ms"),
        "operators.normalize.fanout": (sum(norm_rows) / sum(decoded_rows), "ratio"),
        "operators.aggregates.hourly_agg_ms": (med(tr.ms("operators.aggregates.hourly_agg")), "ms"),
        "operators.aggregates.groups": (med(groups), "count"),
        "operators.aggregates.partition_enumeration_ms": (
            med(tr.self_ms("operators.aggregates.partition_enumeration")), "ms"),
        "operators.aggregates.raw_export_ms": (med(tr.self_ms("operators.aggregates.raw_export")), "ms"),
        "operators.aggregates.rollup_ms": (med(tr.self_ms("operators.aggregates.rollup")), "ms"),
        "operators.aggregates.lake_hourly_agg_ms": (
            med(tr.self_ms("operators.aggregates.lake_hourly_agg")), "ms"),
        "sinks.lake.write_raw_ms": (med(tr.ms("sinks.lake.write_raw_export")), "ms"),
        "sinks.lake.write_norm_ms": (med(tr.ms("sinks.lake.write_norm_export")), "ms"),
        "sinks.lake.write_agg_ms": (med(tr.ms("sinks.lake.write_hourly_agg")), "ms"),
        "sinks.lake.files_per_batch": (ls["files_per_batch"], "count"),
        "sinks.lake.hours_per_batch": (ls["hours_per_batch"], "count"),
        "sinks.lake.bytes_per_record": (ls["bytes"] / rows, "B"),
        "bench.generator_late_ms": (max(ing.late_ms) if ing.late_ms else 0.0, "ms"),
        "bench.backlog_max_files": (max(ing.lag_files) if ing.lag_files else len(ing.files), "count"),
        "bench.drift": (ing.drift(), "ratio"),
        "bench.steal_frac": (res["steal_frac"], "ratio"),
        "bench.ingest_latency_p90_ms": (sv.percentile(lat, 90), "ms"),
        "bench.query_p90_ms": (sv.percentile(res["rounds"], 90), "ms"),
        "bench.trace_overhead_ms": (med(overhead), "ms"),
        "bench.batch_self_ms": (med(tr.self_ms("batch")), "ms"),
        "bench.failed_frac": (res["failed"] / res["attempted"], "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv=None) -> int:
    args = parse(argv)
    if not (ROOT / "quacfka_service_spark").is_dir():
        print(f"perfbench: no quacfka_service_spark package next to {HERE}", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = run(args, work)
        ing = res["ingest"]
        if args.trace:
            metrics = per_layer(res, ing.files)
        else:
            metrics = end_to_end(res)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    import service as sv

    lat = ing.latencies_ms
    print(f"workload={args.workload} seed={args.seed} files={len(ing.files)} "
          f"batches={len(ing.batches)} rounds={len(res['rounds'])}")
    print(f"  ingest_latency_ms p50={statistics.median(lat):.1f} "
          f"p90={sv.percentile(lat, 90):.1f} n={len(lat)}")
    print(f"  records_per_s={statistics.median(ing.batch_rates()):.1f} "
          f"n={len(ing.batch_rates())} batches")
    print("  batch rows/trigger_ms " + " ".join(
        f"{b.rows}/{b.duration_ms.get('triggerExecution', 0)}" for b in ing.batches))
    print("  round_ms " + " ".join(f"{r:.0f}" for r in res["rounds"]))
    print(f"  query_ms p50={statistics.median(res['rounds']):.1f} "
          f"p90={sv.percentile(res['rounds'], 90):.1f} n={len(res['rounds'])}")
    print(f"  setup_s={res['start_s'] + res['warm_s']:.3f} "
          f"(session {res['start_s']:.2f}, warm-up {res['warm_s']:.2f})")
    print(f"  failed_frac={res['failed'] / res['attempted']:.4f} "
          f"({res['failed']}/{res['attempted']})")
    print(f"  drift={ing.drift():.3f} steal_frac={res['steal_frac']:.3f}")
    print("  phases_s " + " ".join(f"{k}={v:.1f}" for k, v in res["phases"].items()))
    for n in res["warnings"]:
        print(f"  {n}")
    for n in res["notes"]:
        print(f"  FAIL {n}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
