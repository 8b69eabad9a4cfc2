"""Mixed lake read/write loop against a DuckDB model of the table.

One closed-loop client on a Lake table seeded from the fixture's
``events`` with ``data_inlining_row_limit`` = 1000. Each cycle runs
the ops of ``CYCLE`` in a fixed order, and the seed draws each op's
arguments (rows, id ranges, event types, versions):

- writes: ``insert_rows`` of 100 or 1000 rows (inline buffer) or
  10000 rows (parquet), DV ``delete`` and CoW ``update`` on narrow
  ``event_id`` ranges;
- reads: one filtered aggregate through ``Lake.execute`` (SQL) and
  through ``lake.table()`` (API), ``table(version=v)`` with ``v`` drawn
  over the whole history, ``table_changes`` over the last few versions,
  and a cold open (a new ``Lake``, ``table()``, count);
- maintenance: ``Lake.checkpoint()`` closes every cycle of ops, so a
  cycle is the workload's pass.

Every write is mirrored into a DuckDB model; each read's count and
sum(value) is checked against the model (per-version history for time
travel) after the timed phase.
"""

from __future__ import annotations

import datetime as dt
import functools
import math
import os
import random
import statistics
import time

import duckdb
import pyarrow as pa
from pyspark.sql import functions as F

from pg_ducklake_spark.catalog import SnapshotLog
from pg_ducklake_spark.lake import Lake
from pg_ducklake_spark.plans import t as plan_table

TABLE = "ev"
INLINE_LIMIT = 1000
WARM_CYCLES = 1
_TYPES = ["click", "error", "purchase", "signup", "view"]
# One cycle: these ops in this order, then a checkpoint. The order is
# fixed so every run sees the same mix of cache hits (a read right after
# a read of the same snapshot) and misses (a read right after a write,
# time travel). The second field fixes where an op lands: DML in the
# seeded base rows or in recently appended ones, time travel to the
# older or the newer half of the history. The seed draws the rest of
# each op's arguments.
CYCLE = [
    ("append_100", None), ("read_api", None), ("read_sql", None),
    ("delete", "base"), ("time_travel", "old"), ("append_10k", None),
    ("cold_open", None), ("update", "base"), ("append_1k", None),
    ("delete", "recent"), ("time_travel", "recent"), ("append_100", None),
    ("changes", None),
]
WRITES = {"append_100", "append_1k", "append_10k", "delete", "update"}
READS = {"read_sql", "read_api", "time_travel", "changes", "cold_open"}
_SPAN = {
    "append_100": "lake.append_inline", "append_1k": "lake.append_inline",
    "append_10k": "lake.append_parquet", "delete": "lake.delete",
    "update": "lake.update", "checkpoint": "lake.checkpoint",
    "time_travel": "lake.time_travel", "changes": "changefeed.table_changes",
    "cold_open": "lake.cold_open",
}
_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class LakeMixed:
    def __init__(self, spark, tracer, data_dir: str, work: str, seed: int):
        self.spark, self.tr, self.work = spark, tracer, work
        self.data_dir = data_dir
        self.events = os.path.join(data_dir, "events.parquet")
        self.rng = random.Random(seed)
        self.lakes: list[tuple[str, Lake]] = []
        self.checks: list[tuple[str, object, object]] = []  # (op, got, want)

    # -- set-up ------------------------------------------------------------

    def prepare(self) -> None:
        """A fresh lake with the seeded table."""
        path = os.path.join(self.work, f"lake{len(self.lakes)}")
        lake = Lake(self.spark, path)
        # events.ts is parquet TIMESTAMP(NANOS); plans.t() reads it as the
        # engine's queries do.
        lake.create_table_as(TABLE, plan_table(self.spark, self.data_dir, "events"))
        lake.set_option("data_inlining_row_limit", INLINE_LIMIT, table=TABLE)
        self.lakes.append((path, lake))

    def warm(self) -> None:
        """``WARM_CYCLES`` full cycles on the first lake prepared; the
        timed phase then uses the last one."""
        self.path, self.lake = self.lakes[0]
        self._reset_model()
        for _ in range(WARM_CYCLES):
            for op, region in CYCLE + [("checkpoint", None)]:
                self._run_op(op, region)
        self.path, self.lake = self.lakes[-1]
        self._reset_model()
        self.checks.clear()

    def _reset_model(self) -> None:
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE TABLE m AS SELECT {', '.join(_COLS)} FROM read_parquet('{self.events}')"
        )
        self.con.execute("CREATE TABLE u AS SELECT * FROM m")  # every row ever written
        self.next_id = self.con.execute("SELECT max(event_id) + 1 FROM m").fetchone()[0]
        self.base_rows = self.next_id
        self.history: dict[int, tuple[int, float]] = {}
        self._record()

    def _model(self, where: str = "true") -> tuple[int, float]:
        n, s = self.con.execute(
            f"SELECT count(*), coalesce(sum(value), 0) FROM m WHERE {where}"
        ).fetchone()
        return int(n), float(s)

    def _record(self) -> None:
        self.history[self.lake.current_snapshot(TABLE)] = self._model()

    # -- ops ---------------------------------------------------------------

    def _rows(self, n: int) -> tuple[list[dict], pa.Table]:
        r, base = self.rng, self.next_id
        self.next_id += n
        ts0 = dt.datetime(2024, 2, 1)
        rows = [
            {
                "event_id": base + i,
                "ts": ts0 + dt.timedelta(seconds=r.randrange(86_400)),
                "user_id": r.randrange(1500),
                "event_type": r.choice(_TYPES),
                "value": round(r.random() * 100, 2),
                "props": "{}",
            }
            for i in range(n)
        ]
        return rows, pa.Table.from_pylist(rows)

    def _range(self, region: str) -> tuple[int, int]:
        lo, hi = (0, self.base_rows) if region == "base" else (self.base_rows, self.next_id)
        a = self.rng.randrange(lo, max(lo + 1, hi - 200))
        return a, a + self.rng.randrange(20, 200)

    def _run_op(self, op: str, region: str | None = None) -> float:
        """Run one op; returns its latency. Model upkeep and the values
        to check are gathered outside the timed region."""
        lake, tr, con = self.lake, self.tr, self.con
        got = want = None
        if op.startswith("append"):
            n = {"append_100": 100, "append_1k": 1000, "append_10k": 10_000}[op]
            rows, arrow = self._rows(n)
            t0 = time.perf_counter()
            with tr.span(_SPAN[op], op, "run"):
                got = lake.insert_rows(TABLE, rows)
            lat = time.perf_counter() - t0
            con.execute("INSERT INTO m SELECT * FROM arrow")
            con.execute("INSERT INTO u SELECT * FROM arrow")
            want = n
        elif op in ("delete", "update"):
            a, b = self._range(region)
            where = f"event_id BETWEEN {a} AND {b}"
            want = self._model(where)[0]
            t0 = time.perf_counter()
            with tr.span(_SPAN[op], op, "run"):
                if op == "delete":
                    got = lake.delete(TABLE, where)
                else:
                    got = lake.update(TABLE, {"value": "value + 1.0"}, where)
            lat = time.perf_counter() - t0
            if op == "delete":
                con.execute(f"DELETE FROM m WHERE {where}")
            else:
                con.execute(f"UPDATE m SET value = value + 1.0 WHERE {where}")
        elif op == "checkpoint":
            t0 = time.perf_counter()
            with tr.span(_SPAN[op], op, "run"):
                lake.checkpoint(TABLE)
            lat = time.perf_counter() - t0
        elif op in ("read_sql", "read_api"):
            et = self.rng.choice(_TYPES)
            want = self._model(f"event_type = '{et}'")
            t0 = time.perf_counter()
            if op == "read_sql":
                with tr.span("sqlexec.read", op, "run"):
                    row = lake.execute(
                        "SELECT count(*) AS n, sum(value) AS s "
                        f"FROM {TABLE} WHERE event_type = '{et}'"
                    ).collect()[0]
            else:
                with tr.span("lake.read_api", op):
                    with tr.span("lake.table_build", op, "table"):
                        df = lake.table(TABLE).filter(F.col("event_type") == et).agg(
                            F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
                        )
                    with tr.span("lake.scan", op, "collect"):
                        row = df.collect()[0]
            lat = time.perf_counter() - t0
            got = (row["n"], row["s"] or 0.0)
        elif op == "time_travel":
            vs = sorted(self.history)
            half = len(vs) // 2
            v = self.rng.choice(vs[:max(1, half)] if region == "old" else vs[half:])
            want = self.history[v]
            t0 = time.perf_counter()
            with tr.span(_SPAN[op], op, "run"):
                row = lake.table(TABLE, version=v).agg(
                    F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
                ).collect()[0]
            lat = time.perf_counter() - t0
            got = (row["n"], row["s"] or 0.0)
        elif op == "changes":
            vs = sorted(self.history)
            v1, v2 = vs[max(0, len(vs) - 4)], vs[-1]
            want = self.history[v2][0] - self.history[v1][0]
            t0 = time.perf_counter()
            with tr.span(_SPAN[op], op, "run"):
                counts = dict(
                    lake.table_changes(TABLE, v1 + 1, v2)
                    .groupBy("_change_type").count().collect()
                ) if v2 > v1 else {}
            lat = time.perf_counter() - t0
            got = (
                counts.get("insert", 0) + counts.get("update_postimage", 0)
                - counts.get("delete", 0) - counts.get("update_preimage", 0)
            )
        elif op == "cold_open":
            want = self._model()[0]
            t0 = time.perf_counter()
            with tr.span(_SPAN[op], op, "run"):
                got = Lake(self.spark, self.path).table(TABLE).count()
            lat = time.perf_counter() - t0
        else:
            raise ValueError(op)
        if op in WRITES or op == "checkpoint":
            self._record()
        if want is not None:
            self.checks.append((op, got, want))
        return lat

    def one_pass(self) -> list[tuple[str, float]]:
        """One cycle of ops, then a checkpoint."""
        samples = []
        for op, region in CYCLE + [("checkpoint", None)]:
            try:
                samples.append((op, self._run_op(op, region)))
            except Exception as e:  # a failing op is a counted failure
                self.checks.append((op, f"error: {type(e).__name__}: {e}", None))
        return samples

    # -- after the timed phase ----------------------------------------------

    def verify(self) -> tuple[int, int, list[str]]:
        def ok(got, want) -> bool:
            if isinstance(want, tuple):
                return (
                    isinstance(got, tuple) and got[0] == want[0]
                    and math.isclose(got[1], want[1], rel_tol=1e-9, abs_tol=1e-6)
                )
            return got == want

        bad = [op for op, got, want in self.checks if not ok(got, want)]
        return len(self.checks), len(bad), sorted(set(bad))

    @functools.cached_property
    def footprint(self) -> dict[str, float]:
        """Lake bytes at the end of the run against the live rows (``m``)
        and every row ever written (``u``), each written once as parquet."""
        out = {}
        lake_bytes = _dir_bytes(self.path)
        for key, tbl in (("space_amp", "m"), ("bytes_written_per_user_byte", "u")):
            f = os.path.join(self.work, f"{tbl}.parquet")
            self.con.execute(f"COPY {tbl} TO '{f}' (FORMAT parquet)")
            out[key] = lake_bytes / os.path.getsize(f)
            os.remove(f)
        return out

    def layer_metrics(self, samples, n_passes: int) -> dict:
        tr = self.tr
        out = {
            f"{name}_s": tr.median_self(name)
            for name in (
                "lake.append_inline", "lake.append_parquet", "lake.delete",
                "lake.update", "lake.checkpoint", "lake.table_build", "lake.scan",
                "lake.time_travel", "lake.cold_open", "sqlexec.read",
                "changefeed.table_changes",
            )
        }
        api = [s.end - s.start for s in tr.spans if s.name == "lake.read_api"]
        sql = tr.self_times("sqlexec.read")
        out["sqlexec.overhead_s"] = (
            statistics.median(sql) - statistics.median(api) if sql and api else 0.0
        )
        table_dir = self.lake.table_info(TABLE)["path"]
        replays = []
        for _ in range(3):
            log = SnapshotLog(table_dir)
            t0 = time.perf_counter()
            state = log.replay()
            replays.append(time.perf_counter() - t0)
        log_dir = log.log_dir
        names = os.listdir(log_dir)
        out.update({
            "catalog.replay_s": statistics.median(replays),
            "catalog.snapshots": float(len(log.versions())),
            "catalog.checkpoints": float(sum(n.endswith(".ckpt.json") for n in names)),
            "catalog.log_bytes": float(_dir_bytes(log_dir)),
            "lake.data_files": float(len(state.files)),
            "lake.dv_files": float(len(state.dvs)),
        })
        out["lake.bytes_written_per_user_byte"] = self.footprint[
            "bytes_written_per_user_byte"
        ]
        return out
