"""SparkSession builder with scale-appropriate defaults.

Defaults follow the engine charter: AQE on (runtime re-plan, skew-join
handling, partition coalescing), shuffle partitions sized to cores for
local mode (a 1000-executor cluster would size this to 2-3x total cores),
UTC session timezone so results are comparable with the DuckDB oracle,
Arrow enabled for the pandas-UDF fast path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from bigquery_etl_spark import _vendor

# the directory holding the ``bigquery_etl_spark`` package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "bigquery-etl-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or ``*``. In local mode the
    driver JVM is the whole cluster, so ``driver_memory`` is the only
    memory knob that matters.

    ``spark.sql.codegen.cache.maxEntries`` (Spark's default 100) is set
    to 1024. At 100, one pass over a few plans evicts the classes of the
    first before it comes round again: a pass over the benchmark's six
    ``queries`` statements compiles ~182 classes (q_ml_tfidf alone 87),
    so every repeat re-ran Janino and started the fresh classes cold in
    HotSpot. 1024 holds five such passes. Each cached class keeps ~30 KB
    of heap and ~8 KB of metaspace (the whole registry at sf0.001 in a
    1 GB-heap session: 389 / 420 / 509 MB live heap after GC at caps
    100 / 1024 / 4096); 4096, enough for all ~3700 classes of the
    registry, took down the test suite's 1 GB session partway through.
    ``extra_conf`` still overrides it. It is a static conf, read once
    when the JVM starts, so a session built elsewhere
    (``tests/drive_entry.py``, a host passing its own session to
    ``__spark_entry__.entry()``) keeps Spark's 100: ``ensure_workers``
    cannot set it afterwards.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        ensure_workers(active)
        return active

    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        n = os.cpu_count() or 8 if cpus in ("*", None) else int(cpus)
        shuffle_partitions = max(4, int(n))

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Tie the skew-split trigger to the partition-size target instead
        # of Spark's 256 MB absolute floor. Stock behavior: a partition is
        # split only when BOTH >5x median AND >256 MB — so a zipf-hot join
        # key sits un-split until it is 4x the 64 MB advisory target.
        # Measured on the zipf probe (tools/scale_bench.py --zipf 1.2,
        # ~sf1): the rank-1 key's partition ran one 9 s straggler task
        # (80x the stage median) with stock thresholds; with the trigger
        # at the advisory size the plan shows SortMergeJoin(skew=true)
        # and the join drops 7.5 s -> 2.5 s. At production scale the 5x
        # factor still gates, so normal 64-128 MB partitions never split.
        .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "5.0")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource pushFilters (sources/lake_ds.py file skipping)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # compiled-class cache sized to the working set (docstring)
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    # r13 (guide §1.2 step 3 — config only after algorithm work): the
    # throughput collector for the local-mode driver JVM. The bench
    # workload is hundreds of sub-second queries; G1's concurrent
    # cycles + region management add latency jitter between short jobs
    # (measured, clean host, full bench A/B: matched_ratio 1.72-1.93
    # under G1 vs 1.57-1.62 under ParallelGC across 5 runs — the
    # spark-side matched wall moves ~2 s on a ~27 s total, and
    # run-to-run variance shrinks). Scale note: this tunes the LOCAL
    # driver-as-cluster JVM only; a real cluster sizes executor GC
    # separately (large heaps often prefer G1) — override with
    # SPARK_GRAFT_GC=g1 (keep Spark's default) or any explicit
    # spark.driver.extraJavaOptions in extra_conf (takes precedence).
    # r14 (ADVICE r13): validate the knob (a typo must not silently
    # mean "g1") and also stand down when driver JVM options arrive via
    # the environment channels spark-submit honours (SPARK_SUBMIT_OPTS
    # / JAVA_TOOL_OPTIONS / spark-defaults.conf via SPARK_CONF_DIR) —
    # the builder must never override an explicit operator choice.
    gc_mode = os.environ.get("SPARK_GRAFT_GC", "parallel")
    if gc_mode not in ("parallel", "g1"):
        raise ValueError(
            f"SPARK_GRAFT_GC={gc_mode!r}: expected 'parallel' (local-"
            "mode default, -XX:+UseParallelGC) or 'g1' (keep Spark's "
            "JVM default collector)"
        )
    gc_elsewhere = any(
        "-XX:+Use" in os.environ.get(var, "")
        for var in ("SPARK_SUBMIT_OPTS", "JAVA_TOOL_OPTIONS")
    ) or os.environ.get("SPARK_CONF_DIR")
    if (
        gc_mode == "parallel"
        and not gc_elsewhere
        and not (extra_conf or {}).get("spark.driver.extraJavaOptions")
    ):
        builder = builder.config(
            "spark.driver.extraJavaOptions", "-XX:+UseParallelGC"
        )
    if driver_memory or os.environ.get("SPARK_DRIVER_MEMORY"):
        builder = builder.config(
            "spark.driver.memory", driver_memory or os.environ["SPARK_DRIVER_MEMORY"]
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_workers(spark)
    return spark


def ensure_workers(spark: SparkSession) -> None:
    """Let this session's Python workers import ``bigquery_etl_spark``
    (and the vendored ``google.protobuf``) from any working directory.
    ``get_spark`` calls it; a library user who builds their own session
    calls it once.

    Writes one ``PYTHONPATH`` into ``sparkContext.environment``: the
    package root, ``_vendor.worker_path()``, then any entries already
    there. PySpark ships that dict with every Python function (UDF,
    ``mapInPandas``, Python DataSource, transformWithState runner), so
    it works on a session that already runs. Spark keys its Python
    worker daemon by this environment, so a repeat call leaves the
    string byte-identical.
    """
    env = spark.sparkContext.environment
    parts = [_PACKAGE_ROOT, *_vendor.worker_path()]
    for p in env.get("PYTHONPATH", "").split(os.pathsep):
        if p and p not in parts:
            parts.append(p)
    env["PYTHONPATH"] = os.pathsep.join(parts)
