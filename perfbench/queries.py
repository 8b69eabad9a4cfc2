"""Query workloads: build each registered plan and collect it.

One closed-loop client. A pass runs every query of the workload's list
once, in an order the seed permutes per pass; each op rebuilds the
DataFrame (``QUERIES[name](spark, dir)``) and collects it. The session
is ``get_spark()`` as a library caller gets it, with no per-query conf.

Results are kept in memory and checked after the timed phase: each one
must hash-match its DuckDB oracle (``plans.ORACLES``) under the
order-insensitive normalization of ``tools/check_correctness.py``.
"""

from __future__ import annotations

import hashlib
import os
import random
import statistics
import time

from pg_ducklake_spark.plans import ORACLES, QUERIES, TABLES
from pg_ducklake_spark.plans import _TABLE_CACHE, t as plan_table
from tools.check_correctness import norm_rows

_PHASES = ("analysis", "optimization", "planning")


def digest(cols: list[str], rows: list[tuple]) -> str:
    h = hashlib.sha256("|".join(sorted(cols)).encode())
    for line in norm_rows(cols, rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


class QueryWorkload:
    def __init__(self, spark, tracer, data_dir: str, queries: list[str], seed: int,
                 oracle_dir: str):
        missing = [q for q in queries if q not in ORACLES]
        if missing:
            raise KeyError(f"queries without an oracle: {missing}")
        self.spark, self.tr = spark, tracer
        self.dir, self.queries = data_dir, list(queries)
        self.oracle_dir = oracle_dir
        self.rng = random.Random(seed)
        self.tables = [
            tb for tb in TABLES if os.path.exists(os.path.join(data_dir, f"{tb}.parquet"))
        ]
        self.raw: list[tuple[str, list[str], list[tuple]]] = []
        self.results: list[tuple[str, str]] = []  # (query, digest or error)
        self.phase_ms: dict[str, list[float]] = {p: [] for p in _PHASES}

    def prepare(self) -> None:
        """Resolve every table's schema (parquet footer reads)."""
        for tb in self.tables:
            _TABLE_CACHE.pop((id(self.spark), self.dir, tb), None)
            plan_table(self.spark, self.dir, tb)

    def warm(self) -> None:
        """One untimed full-size pass: codegen, JIT, Python workers and
        the plans' persisted intermediates (``scoped_persist``) are ready
        before timing. A pass over a 10x smaller copy left the timed
        passes ~50% slower, because those intermediates belong to the
        full-size inputs."""
        for q in self.queries:
            QUERIES[q](self.spark, self.dir).collect()

    def _op(self, q: str) -> tuple[float, tuple[list[str], list[tuple]]]:
        tr = self.tr
        t0 = time.perf_counter()
        with tr.span("op", q):
            with tr.span("plans.build", q, "build"):
                df = QUERIES[q](self.spark, self.dir)
            with tr.span("spark.collect", q, "collect"):
                rows = df.collect()
            lat = time.perf_counter() - t0
            if tr.recording:
                phases = df._jdf.queryExecution().tracker().phases()  # Scala Map
                for p in _PHASES:
                    ph = phases.get(p)
                    self.phase_ms[p].append(ph.get().durationMs() if ph.isDefined() else 0)
        return lat, (df.columns, [tuple(r) for r in rows])

    def one_pass(self) -> list[tuple[str, float]]:
        """Every query once, in a freshly permuted order."""
        order = self.queries[:]
        self.rng.shuffle(order)
        samples = []
        for q in order:
            try:
                lat, (cols, rows) = self._op(q)
            except Exception as e:  # a failing plan is a counted failure
                self.results.append((q, f"error: {type(e).__name__}: {e}"))
                continue
            samples.append((q, lat))
            self.raw.append((q, cols, rows))
        return samples

    def oracle_digest(self, q: str) -> str:
        """The oracle's digest, cached in ``oracle_dir`` and keyed by the
        oracle's SQL and the input files' sizes."""
        sizes = [os.path.getsize(os.path.join(self.dir, f"{tb}.parquet")) for tb in self.tables]
        key = hashlib.sha256(f"{ORACLES[q]}|{sizes}".encode()).hexdigest()[:16]
        path = os.path.join(self.oracle_dir, f"{q}_{key}.sha256")
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        import duckdb

        con = duckdb.connect()
        try:
            for tb in self.tables:
                con.execute(
                    f"CREATE VIEW {tb} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.dir, tb)}.parquet')"
                )
            res = con.execute(ORACLES[q])
            d = digest([c[0] for c in res.description], res.fetchall())
        finally:
            con.close()
        with open(path + ".tmp", "w") as f:
            f.write(d)
        os.replace(path + ".tmp", path)
        return d

    def verify(self) -> tuple[int, int, list[str]]:
        """(attempted, failed, failing query names)."""
        self.results.extend((q, digest(c, r)) for q, c, r in self.raw)
        self.raw.clear()
        want = {q: self.oracle_digest(q) for q in self.queries}
        bad = [q for q, d in self.results if d != want[q]]
        return len(self.results), len(bad), sorted(set(bad))

    def layer_metrics(self, samples: list[tuple[str, float]], n_passes: int) -> dict:
        tr = self.tr
        out = {
            "plans.build_s": tr.total_self("plans.build") / n_passes,
            "plans.build_rpcs": tr.total_rpcs("plans.build") / n_passes,
            "spark.collect_s": tr.total_self("spark.collect") / n_passes,
        }
        for p in _PHASES:
            out[f"spark.{p}_s"] = sum(self.phase_ms[p]) / 1000.0 / n_passes
        by_q: dict[str, list[float]] = {}
        for q, lat in samples:
            by_q.setdefault(q, []).append(lat)
        for q in self.queries:
            out[f"query.{q}_s"] = statistics.median(by_q[q]) if q in by_q else 0.0
        return out
