"""Regression net for the r12 gate failure (plans/__init__.py rebalance
conf probe).

Every builder-side check used to run through ``get_spark``, whose
defaults (``spark.sql.files.maxPartitionBytes`` in particular) masked a
``rebalance()`` conf-probe crash that only fires on a STOCK
SparkSession — exactly what the driver's plain-session oracle harness
uses. CORRECTNESS_r12 caught 3 of ~40 latently-affected queries as hard
errors.

This test builds AND collects one tagged-rebalance query per affected
family in a subprocess whose SparkSession has ZERO confs set (builder
with only a master), so a conf-masked crash can never ship again.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# One representative per rebalance-tagged family (the first three are
# the exact queries CORRECTNESS_r12 crashed).
PLAIN_SESSION_SAMPLE = [
    "text_distinctive_terms",  # text family — crashed in r12
    "pipe_length_buckets",  # pipeline family — crashed in r12
    "pipe_train_eval_split",  # pipeline family — crashed in r12
    "dedup_simhash_pairs",  # dedup family
    "dedup_semantic_prune",  # semdedup family (applyInPandas kernel)
    "sim_lsh_bucket_topk",  # similarity family
    "graph_degree_histogram",  # graph family (via _spark_edges)
    "text_pii_scan",  # pii family
    "text_cms_heavy_hitters",  # sketches family
]

_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

# STOCK session: master only, no confs — the driver-contract shape.
spark = (
    SparkSession.builder.appName("plain_session_regression")
    .master("local[4]")
    .getOrCreate()
)
from pg_ducklake_spark.plans import QUERIES

for name in {names!r}:
    df = QUERIES[name](spark, {sf!r})
    df.collect()
    print("PLAIN_OK", name, flush=True)
spark.stop()
"""


def test_tagged_rebalance_queries_on_stock_session():
    env = dict(os.environ)
    # Python workers (pandas kernels) must be able to import the package.
    existing = env.get("PYTHONPATH", "")
    if REPO not in existing.split(os.pathsep):
        env["PYTHONPATH"] = f"{REPO}{os.pathsep}{existing}" if existing else REPO
    script = _SCRIPT.format(repo=REPO, names=PLAIN_SESSION_SAMPLE, sf=SF_DIR)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=900,
        env=env,
    )
    assert proc.returncode == 0, (
        "stock-session query run failed\n"
        f"--- stdout ---\n{proc.stdout[-4000:]}\n"
        f"--- stderr ---\n{proc.stderr[-6000:]}"
    )
    for name in PLAIN_SESSION_SAMPLE:
        assert f"PLAIN_OK {name}" in proc.stdout, f"{name} did not complete"


# ``get_spark`` differs from the stock session only in confs: it runs the
# stock py4j/PySpark client, never a patched copy of it.


def test_get_spark_runs_the_stock_client(spark):
    import py4j.clientserver as cs
    import pyspark.sql.classic.column as cc
    import pyspark.sql.functions.builtin as builtin

    for fn, module in (
        (builtin._get_jvm_function, "pyspark.sql.functions.builtin"),
        (cc._to_seq, "pyspark.sql.classic.column"),
        (cs.ClientServerConnection.connect_to_java_server, "py4j.clientserver"),
    ):
        assert fn.__module__ == module, f"{fn.__qualname__} replaced by {fn.__module__}"


def test_dataframe_debugging_disabled_in_session(spark):
    assert (
        spark.conf.get("spark.python.sql.dataFrameDebugging.enabled", "true")
        == "false"
    )
