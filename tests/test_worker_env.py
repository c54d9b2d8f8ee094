"""Python workers find the package from any working directory.

The driver imports ``__spark_entry__.py`` by file path and hands it its
own plain session, so nothing but ``session.ensure_workers`` tells the
workers where ``bigquery_etl_spark`` lives.
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DRIVER = """
import importlib.util, sys
from pyspark.sql import SparkSession

spark = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
spec = importlib.util.spec_from_file_location("__spark_entry__", sys.argv[1])
entry = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entry)
for name in ("q_net_funcs", "q_iceberg_interop"):
    print(name, len(entry.queries()[name](spark, sys.argv[2]).collect()))
"""


def test_entry_runs_worker_queries_from_foreign_cwd(sf_dir):
    # q_net_funcs runs a Python UDF, q_iceberg_interop a Python DataSource
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != ROOT
    )
    out = subprocess.run(
        [sys.executable, "-c", _DRIVER, os.path.join(ROOT, "__spark_entry__.py"), sf_dir],
        cwd="/tmp",
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    rows = dict(line.split() for line in out.stdout.splitlines() if line.startswith("q_"))
    assert set(rows) == {"q_net_funcs", "q_iceberg_interop"}
    assert all(int(n) > 0 for n in rows.values()), rows


def test_ensure_workers_is_idempotent(spark):
    from bigquery_etl_spark.session import ensure_workers

    env = spark.sparkContext.environment
    ensure_workers(spark)
    first = env["PYTHONPATH"]
    ensure_workers(spark)
    assert env["PYTHONPATH"] == first
    assert first.split(os.pathsep).count(ROOT) == 1
    assert first.split(os.pathsep)[0] == ROOT
