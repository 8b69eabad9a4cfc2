#!/usr/bin/env python3
"""The engine's benchmark: one workload per run, timed, then checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (each one closed-loop client in one process on ``local[N]``,
N = the CPU count):

- ``sweep_sf01``: a fixed list of registered plans on the sf0.1 star
  schema, cross-family ones plus the pair/cluster-generating curation
  plans, build + collect per op, in an order the seed permutes per pass;
- ``lake_mixed``: a seeded read/write/maintenance mix on a Lake table
  (see ``lake_mixed.py``).

The inputs are the engine's sf0.1 test tables (TESTDATA.md), kept in
``perfbench/data/sf0.1``. Set-up (session start, table resolution,
warm-up) runs first; the timed phase then runs a whole number of
passes, ``round(--seconds / PASS_S)``, so a given
``--seconds`` times the same work on every commit and at every machine
speed. Every result is checked afterwards. Standard output ends with
two JSON lines: a report (environment, calibration, ungated workload
metrics) and the result ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics; ``--trace
1`` turns on the Spark event log, runs one traced pass between two
untraced ones, and reports the per-layer metrics plus the tracing
overhead.

State lives under ``.perfbench/`` in the checkout: oracle digests kept
across runs, traces, and a per-run directory removed at exit. The
session is ``get_spark()`` as a library caller gets it, including its
choice of scratch directory.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DATA = os.path.join(HERE, "data", "sf0.1")  # fixed inputs; --seed drives op order and arguments
SWEEP = [
    # cross-family plans whose cost is mostly per-query fixed cost
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue",
    "events_by_type",
    "events_sessionized_gap",
    "ts_asof_join",
    "stats_value_moments",
    "sim_lsh_bucket_topk",
    "dedup_exact_groups",
    # pair/cluster-generating curation plans, where operators do the work
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "dedup_components",
]
WORKLOADS = ("sweep_sf01", "lake_mixed")
# Seconds of --seconds charged per pass: a run times
# round(--seconds / PASS_S) passes (at least one), whatever the
# machine's speed. At 16 s that is 2 sweep passes (~6 s each on a quiet
# 4-CPU VM) or 2 lake cycles (~5 s each), which keeps a full evaluation
# inside its time budget when the VM runs at half speed.
PASS_S = 8.0
# The repeatable part of set-up runs this often; setup_s counts its median.
PREPARE_REPEATS = 2

# Job-group op names that are not timed ops.
_UNTIMED = {"setup", "untraced", "verify"}
_LAKE_LAYER = (
    "lake.append_inline_s", "lake.append_parquet_s", "lake.delete_s",
    "lake.update_s", "lake.checkpoint_s", "lake.table_build_s", "lake.scan_s",
    "lake.time_travel_s", "lake.cold_open_s", "lake.data_files", "lake.dv_files",
    "lake.bytes_written_per_user_byte", "catalog.replay_s", "catalog.snapshots",
    "catalog.checkpoints", "catalog.log_bytes", "sqlexec.read_s",
    "sqlexec.overhead_s", "changefeed.table_changes_s",
)
PER_LAYER = (
    ("session.start_s", "plans.build_s", "plans.build_rpcs", "plans.build_jobs",
     "plans.build_job_s", "spark.collect_s", "spark.analysis_s",
     "spark.optimization_s", "spark.planning_s", "spark.jobs", "spark.tasks",
     "spark.task_s", "spark.gc_s", "spark.shuffle_read_bytes",
     "spark.shuffle_write_bytes", "spark.spill_bytes")
    + tuple(f"query.{q}_s" for q in SWEEP)
    + _LAKE_LAYER
    + ("trace.overhead_pass_s", "trace.overhead_op_p50_s", "trace.ungrouped_jobs")
)
# Gated end-to-end metrics; the others are reported ungated (NOTES.md
# gives the measured reasons).
END_TO_END = {"setup_s": "s", "pass_s": "s"}


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _isolate(run_dir: str, event_dir: str | None) -> None:
    """Point Python's and the JVM's temporary files at run_dir and turn
    the event log on for a traced run. Spark's scratch directory is left
    to ``get_spark()``; only its fallback, ``java.io.tmpdir``, lands in
    run_dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    submit = f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"'
    if event_dir:
        os.makedirs(event_dir)
        submit += (
            " --conf spark.eventLog.enabled=true --conf spark.eventLog.compress=false"
            " --conf spark.eventLog.rolling.enabled=false"
            f" --conf spark.eventLog.dir=file://{event_dir}"
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = submit + " pyspark-shell"
    os.environ.pop("SPARK_GRAFT_CPUS", None)  # always local[<CPU count>]


def _p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


def _hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _env(spark) -> dict:
    import duckdb
    import pyspark
    import pyspark.sql.functions.builtin as builtin

    local = spark.sparkContext.getConf().get("spark.local.dir", "")
    return {
        "env.cpus": os.cpu_count(),
        "env.pyspark": pyspark.__version__,
        "env.duckdb": duckdb.__version__,
        "env.java": spark._jvm.System.getProperty("java.version"),
        "env.scratch_dir_kind": "tmpfs" if local.startswith("/dev/shm") else "default",
        "env.rpcslim_active": builtin._get_jvm_function.__module__.endswith("rpcslim"),
    }


def _calibrate(spark) -> dict:
    """Fixed reference work on both engines, median of 3 each."""
    import duckdb

    def med(fn) -> float:
        xs = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            xs.append(time.perf_counter() - t0)
        return statistics.median(xs)

    con = duckdb.connect()
    out = {
        "calib.spark_s": med(
            lambda: spark.range(10_000_000).selectExpr("sum(id)").collect()
        ),
        "calib.duck_s": med(
            lambda: con.execute("SELECT sum(range) FROM range(10000000)").fetchall()
        ),
    }
    con.close()
    return out


def _measure(wl, n: int) -> tuple[list[tuple[str, float]], list[float]]:
    """``n`` whole passes. A pass's time is the sum of its op latencies."""
    samples, passes = [], []
    for _ in range(n):
        s = wl.one_pass()
        samples += s
        passes.append(sum(lat for _, lat in s))
    return samples, passes


def _summary(samples, passes) -> dict[str, float]:
    lats = [lat for _, lat in samples]
    return {
        "pass_s": statistics.median(passes),
        "op_p50_s": statistics.median(lats),
        "op_p90_s": _p90(lats),
        "ops_per_s": len(lats) / sum(lats),
    }


def _by_kind(samples: list[tuple[str, float]]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for kind, lat in samples:
        out.setdefault(kind, []).append(lat)
    return out


def _spark_layers(event_dir: str, workload: str, n_passes: int) -> dict:
    from stage_report import UNGROUPED, report

    logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    groups = report(logs[0])
    out = dict.fromkeys(
        ("spark.jobs", "spark.tasks", "spark.task_s", "spark.gc_s",
         "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
         "spark.spill_bytes", "plans.build_jobs", "plans.build_job_s"), 0.0)
    for g, m in groups.items():
        if g == UNGROUPED:
            continue
        wl, op, phase = g.split("/", 2)
        if wl != workload or op in _UNTIMED:
            continue
        for k in ("jobs", "tasks", "task_s", "gc_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            out[f"spark.{k}"] += m[k] / n_passes
        if phase == "build":  # plan-building functions only; lake.table() is "table"
            out["plans.build_jobs"] += m["jobs"] / n_passes
            out["plans.build_job_s"] += m["job_s"] / n_passes
    out["trace.ungrouped_jobs"] = float(groups.get(UNGROUPED, {}).get("jobs", 0))
    return out, groups


def _shutdown(spark) -> None:
    """Stop the session, then end the JVM it ran in and wait for it, so
    no process of the run outlives it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def main() -> int:
    args = _args()
    work = os.path.join(ROOT, ".perfbench")
    oracles = os.path.join(work, "oracles")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    sys.path[:0] = [HERE, ROOT]
    try:
        from pg_ducklake_spark.session import get_spark
        from tracer import Tracer
    except ImportError as e:
        print(f"perfbench: the engine's sources are not here ({e})", file=sys.stderr)
        return 2
    os.makedirs(oracles, exist_ok=True)
    _isolate(run_dir, event_dir)

    spark = None
    try:
        tr = Tracer(args.workload, traced=bool(args.trace))
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        tr.sc = spark.sparkContext
        tr.group("setup", "setup")
        c0 = time.perf_counter()
        env, calib = _env(spark), _calibrate(spark)
        calib_s = time.perf_counter() - c0

        if args.workload == "lake_mixed":
            from lake_mixed import LakeMixed

            wl = LakeMixed(spark, tr, DATA, run_dir, args.seed)
        else:
            from queries import QueryWorkload

            wl = QueryWorkload(spark, tr, DATA, SWEEP, args.seed, oracles)
        preps = []
        for _ in range(PREPARE_REPEATS):
            p0 = time.perf_counter()
            wl.prepare()
            preps.append(time.perf_counter() - p0)
        w0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - w0
        setup_s = (
            time.perf_counter() - T_START - calib_s
            - (sum(preps) - statistics.median(preps))
        )

        wl.rng.seed(args.seed)
        tr.group("untraced", "run")
        if args.trace:
            # One traced pass between two untraced ones: the overhead is
            # the traced pass against the mean of its neighbours, so the
            # lake's growth and the sweep's warm-up cancel to first order.
            samples, passes = _measure(wl, 1)
            tr.start()
            t_samples, t_passes = _measure(wl, 1)
            tr.stop()
            tr.group("untraced", "run")
            s2, p2 = _measure(wl, 1)
            samples, passes = samples + s2, passes + p2
        else:
            samples, passes = _measure(wl, max(1, round(args.seconds / PASS_S)))
        peak_rss = _hwm_mb(os.getpid()) + _hwm_mb(
            spark._jvm.ProcessHandle.current().pid()
        )
        e2e = {"setup_s": setup_s, **_summary(samples, passes)}
        tr.group("verify", "run")
        v0 = time.perf_counter()
        attempted, failed, failing = wl.verify()
        verify_s = time.perf_counter() - v0

        extra: dict[str, float] = {}
        if args.workload == "lake_mixed":
            from lake_mixed import READS, WRITES

            for cls, kinds in (("write", WRITES), ("read", READS)):
                xs = [lat for op, lat in samples if op in kinds]
                extra[f"{cls}_p50_s"] = statistics.median(xs) if xs else 0.0
                extra[f"{cls}_p90_s"] = _p90(xs) if xs else 0.0
                extra[f"{cls}_samples"] = len(xs)
            extra.update(wl.footprint)
        if args.trace:
            traced = _summary(t_samples, t_passes)
            layers = dict.fromkeys(PER_LAYER, 0.0)
            layers["session.start_s"] = session_s
            wl_layers = wl.layer_metrics(t_samples, len(t_passes))
            unknown = set(wl_layers) - set(PER_LAYER)
            if unknown:
                raise KeyError(f"layer metrics missing from PER_LAYER: {sorted(unknown)}")
            layers.update(wl_layers)
            layers["trace.overhead_pass_s"] = traced["pass_s"] - statistics.mean(passes)
            layers["trace.overhead_op_p50_s"] = traced["op_p50_s"] - e2e["op_p50_s"]
        s0 = time.perf_counter()
        spark, stopping = None, spark
        _shutdown(stopping)
        stop_s = time.perf_counter() - s0
        if args.trace:
            spark_layers, groups = _spark_layers(event_dir, args.workload, len(t_passes))
            layers.update(spark_layers)
            out_dir = os.path.join(work, "traces")
            os.makedirs(out_dir, exist_ok=True)
            stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
            tr.dump(stem + ".spans.jsonl")
            with open(stem + ".groups.json", "w") as f:
                json.dump(groups, f, indent=1, sort_keys=True)

        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            **env, **calib,
            "setup.session_s": session_s, "setup.prepare_s": preps,
            "setup.warm_s": warm_s, "verify_s": verify_s, "stop_s": stop_s,
            "ops_failed_ratio": failed / attempted if attempted else 1.0,
            "peak_rss_mb": peak_rss, "op_p50_s": e2e["op_p50_s"],
            "op_p90_s": e2e["op_p90_s"], "ops_per_s": e2e["ops_per_s"],
            "ops": len(samples), "passes": len(passes),
            "failing": failing, **extra,
            "op_p50_by_kind": {
                k: statistics.median(v) for k, v in sorted(_by_kind(samples).items())
            },
        }
        if args.trace:
            report.update({f"traced.{k}": v for k, v in traced.items()})
            metrics = {
                k: {"value": float(layers[k]), "unit": _unit(k)} for k in PER_LAYER
            }
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        print(json.dumps(report), flush=True)
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics,
        }), flush=True)
        return 0
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def _unit(name: str) -> str:
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_byte"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
