"""Correctness gate: DuckDB over the generated events table.

The expected answers come from the repo's DuckDB oracle twins
(``fixtures.BIDREQ_NORM_CTE`` and
``__spark_entry__.oracle_sql()``), run over exactly the events whose
files the pipeline was given.  The lake side is read by DuckDB and the
file system, never by Spark, so a Spark bug cannot hide itself.
"""

from __future__ import annotations

from collections import Counter
from pathlib import Path

TABLES = ("bidreq", "bidreq_norm", "bidreq_hourly")


def _rows(df) -> Counter:
    """Order-insensitive, engine-neutral form of a result frame: the
    multiset of its rows as strings, NULL and NaN both "None"."""
    df = df[sorted(df.columns)]
    cells = df.astype(object).where(df.notna(), None).astype(str)
    return Counter(map(tuple, cells.values.tolist()))


def _parquet(lake: Path, table: str) -> str:
    return f"read_parquet('{lake}/{table}/**/*.parquet', hive_partitioning=false)"


def lake_hours(lake: Path, table: str) -> set[tuple[str, ...]]:
    """Hour partitions present on disk, across ingest batches."""
    out = set()
    for p in (lake / table).glob("ingest_batch=*/year=*/month=*/day=*/hour=*"):
        out.add(tuple(part.split("=", 1)[1] for part in p.parts[-4:]))
    return out


class Oracle:
    """Expected answers for the events delivered to one lake."""

    def __init__(self, events: Path):
        import duckdb

        from __spark_entry__ import oracle_sql
        from quacfka_service_spark.fixtures import BIDREQ_NORM_CTE

        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        self.con.execute("SET threads=2")
        self.con.execute(f"CREATE TABLE events AS SELECT * FROM read_parquet('{events}')")
        q = oracle_sql()
        one = lambda sql: self.con.execute(sql).fetchone()  # noqa: E731
        self.raw_rows, self.raw_ids = one("SELECT count(*), count(DISTINCT event_id) FROM events")
        self.norm_rows = one(f"WITH {BIDREQ_NORM_CTE} SELECT count(*) FROM bidreq_norm")[0]
        self.agg = self.con.execute(q["hourly_agg"]).fetchdf()
        self.requests = int(self.agg["requests"].sum())
        enum = self.con.execute(q["partition_enumeration"]).fetchdf()
        self.raw_hours = set(map(tuple, enum.astype(str).values.tolist()))
        self.norm_hours = {
            tuple(map(str, r)) for r in self.con.execute(
                f"WITH {BIDREQ_NORM_CTE} SELECT DISTINCT year(t), month(t), day(t), hour(t) "
                "FROM (SELECT epoch_ms(event_time * 1000) AS t FROM bidreq_norm)").fetchall()
        }
        mh = min(self.raw_hours, key=lambda h: tuple(int(x) for x in h))
        self.first_hour = dict(zip(("year", "month", "day", "hour"), mh))
        rollup = self.con.execute(
            f"SELECT date, hour, sum(requests)::BIGINT AS requests FROM ({q['hourly_agg']}) "
            "GROUP BY ALL").fetchdf()
        raw = self.con.execute(q["raw_export_filter"]).fetchdf()
        self.expected = {
            "partition_enumeration": _rows(enum),
            "rollup": _rows(rollup),
            "hourly_agg": _rows(self.agg),
            "raw_export": _rows(raw),
        }

    def answer_ok(self, name: str, df) -> bool:
        return _rows(df) == self.expected[name]

    def check_lake(self, lake: Path) -> list[str]:
        """Mismatches between the lake on disk and the expected answers."""
        bad = []
        one = lambda sql: self.con.execute(sql).fetchone()  # noqa: E731
        rows, ids = one(f"SELECT count(*), count(DISTINCT id) FROM {_parquet(lake, 'bidreq')}")
        if (rows, ids) != (self.raw_rows, self.raw_ids):
            bad.append(f"raw rows/ids {rows}/{ids} != {self.raw_rows}/{self.raw_ids}")
        norm = one(f"SELECT count(*) FROM {_parquet(lake, 'bidreq_norm')}")[0]
        if norm != self.norm_rows:
            bad.append(f"norm rows {norm} != {self.norm_rows}")
        req = one(f"SELECT sum(requests) FROM {_parquet(lake, 'bidreq_hourly')}")[0]
        if req != self.requests:
            bad.append(f"sum(requests) {req} != {self.requests}")
        if lake_hours(lake, "bidreq") != self.raw_hours:
            bad.append("raw hour partitions differ")
        for t in ("bidreq_norm", "bidreq_hourly"):
            if lake_hours(lake, t) != self.norm_hours:
                bad.append(f"{t} hour partitions differ")
        return bad

    def close(self) -> None:
        self.con.close()
