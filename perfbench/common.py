"""Shared pieces of the workloads: pinned Spark session, timing
statistics, process-tree memory sampling."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time

# bench.py's environment knobs; the benchmark pins its own settings and
# drops these so neither it nor the package reads a stray value.
FOREIGN_KNOBS = (
    "SPARK_GRAFT_CONF",
    "SPARK_GRAFT_AQE",
    "SPARK_GRAFT_SHUFFLE",
    "SPARK_GRAFT_BENCH_RAW",
    "SPARK_GRAFT_BENCH_RUNS",
    "SPARK_GRAFT_BENCH_BASELINE",
    "SPARK_GRAFT_LOAD_CACHE",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_GC",
    "SPARK_DRIVER_MEMORY",
    "SPARK_CONF_DIR",
    "SPARK_SUBMIT_OPTS",
    "JAVA_TOOL_OPTIONS",
    "PYSPARK_SUBMIT_ARGS",
)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb(share: float, lo_mb: int, hi_mb: int) -> int:
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return int(min(hi_mb, max(lo_mb, total_kb / 1024 * share)))


def pin_environment(root: str, run_dir: str) -> None:
    """Keep every file the run writes inside ``run_dir`` and make the
    package importable in Spark's Python workers."""
    for k in FOREIGN_KNOBS:
        os.environ.pop(k, None)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # spark-submit's launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def start_session(settings: dict, run_dir: str, conf: dict[str, str]):
    """Spark session with the benchmark's pinned settings."""
    from bigquery_etl_spark.session import get_spark

    n = cores()
    mem = driver_memory_mb(**settings["driver_memory"])
    tmp = os.path.join(run_dir, "tmp")
    extra = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        **settings["spark_conf"],
        **conf,
    }
    spark = get_spark(
        app_name="perfbench",
        cpus=n,
        shuffle_partitions=n,
        driver_memory=f"{mem}m",
        extra_conf=extra,
    )
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it forked)
    to exit."""
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=10)


# -- statistics ---------------------------------------------------------


def median(xs: list[float]) -> float | None:
    return statistics.median(xs) if xs else None


def percentile(xs: list[float], p: float) -> float | None:
    """The p-th percentile (nearest rank), reported only when at least ten
    samples lie beyond it; otherwise None."""
    if not xs:
        return None
    rank = math.ceil(p / 100 * len(xs))
    if len(xs) - rank < 10:
        return None
    return sorted(xs)[rank - 1]


def timing(xs: list[float]) -> dict:
    """Median, p90 (if reportable) and sample count of a list of walls."""
    return {"p50": median(xs), "p90": percentile(xs, 90), "n": len(xs)}


# -- memory ----------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except OSError:
        return 0


class RssSampler:
    """Peak resident memory of this process and its descendants, minus the
    subtrees of ``exclude`` pids, sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        kids = _children_map()
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            total += _rss_kb(pid)
            todo.extend(kids.get(pid, []))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def stop(self) -> float:
        """Stop sampling (a no-op if it never started or already stopped)
        and return the peak in MB."""
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
        return self.peak_kb / 1024


class Stopwatch:
    def __init__(self) -> None:
        self.t0 = time.perf_counter()

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0
