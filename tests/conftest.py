from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from bigquery_etl_spark.session import get_spark

    import tempfile

    spark = get_spark(
        app_name="bigquery-etl-spark-tests",
        cpus=os.environ.get("SPARK_GRAFT_TEST_CPUS", "4"),
        shuffle_partitions=4,
        extra_conf={
            # saveAsTable targets (bucketing tests) go to tmp, not the repo
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark-wh-")
        },
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def _env_capabilities() -> dict[str, bool]:
    """Probe the optional-dependency surface that gates tests. Each
    capability un-gates automatically (importorskip / try-import in the
    tests) the round a fixed container provides it — this probe just
    makes the current state visible in every test run so a flip is
    noticed with zero latency."""
    caps: dict[str, bool] = {}

    def has(mod: str) -> bool:
        try:
            __import__(mod)
            return True
        except Exception:  # noqa: BLE001 — broken installs count as absent
            return False

    from bigquery_etl_spark._vendor import enable_vendored_protobuf

    enable_vendored_protobuf()  # count the vendored copy as present
    caps["protobuf (TWS state server)"] = has("google.protobuf.descriptor")
    caps["pyspark.pandas"] = has("pyspark.pandas")
    caps["PIL (real media decode)"] = has("PIL")
    # JVM-side packages: look for the jars Spark would load
    import glob

    spark_home = os.environ.get("SPARK_HOME") or os.path.join(
        os.path.dirname(os.path.dirname(__import__("pyspark").__file__)), "pyspark"
    )
    jars = glob.glob(os.path.join(spark_home, "jars", "*.jar"))
    names = {os.path.basename(j) for j in jars}
    caps["spark-avro jar"] = any(n.startswith("spark-avro") for n in names)
    caps["delta jar"] = any("delta" in n for n in names)
    caps["iceberg jar"] = any("iceberg" in n for n in names)
    return caps


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    caps = _env_capabilities()
    terminalreporter.write_sep("-", "optional-dependency probe")
    for name, ok in sorted(caps.items()):
        terminalreporter.write_line(
            f"  {'AVAILABLE' if ok else 'absent   '}  {name}"
        )
    skipped = terminalreporter.stats.get("skipped", [])
    if skipped:
        reasons: dict[str, int] = {}
        for rep in skipped:
            r = rep.longrepr[2] if isinstance(rep.longrepr, tuple) else str(rep.longrepr)
            reasons[r] = reasons.get(r, 0) + 1
        terminalreporter.write_line(f"  skipped-with-reason ({len(skipped)}):")
        for r, n in sorted(reasons.items()):
            terminalreporter.write_line(f"    {n}x {r[:100]}")
