"""One measured run of a declared query, shared by ``bench.py``, the
``profile`` CLI subcommand and the scale probes in ``tools/``.

The bench session (AQE off, static broadcast threshold, load cache), the
warm-up pass and the managed fixture layout live here, so every caller
times the same way. ``Profiler.timed_run`` times build (``spec.fn``)
plus the noop-sink ``save()``, best of N, and then reads the layers of
the best run's own execution:

- analysis from the built DataFrame's and the write's QueryExecution,
  optimization and planning from the write's (a QueryExecutionListener
  hands it over when the write finishes);
- build as ``spec.fn`` less the analysis it ran;
- execution as the wall minus build and those phases;
- jobs, stages, tasks, shuffle-write and spill bytes, and per-operator
  SQL metrics from the session's status stores (readable with the UI
  disabled);
- ``codegen_compiles``, the generated classes Janino compiled during
  the run (a miss in Spark's JVM-wide compiled-class cache): 0 when
  every class of the plan was still cached.

Nothing but ``spec.fn`` and ``save()`` runs between timer start and stop;
the query name is the job description, so the execution and its jobs
carry it.
"""

from __future__ import annotations

import json
import os
import time

WARM_DIR = "/root/testdata/sf0.001"
PHASES = ("analysis", "optimization", "planning")
LAYER_KEYS = (
    "wall_s", "build_s", "analysis_s", "optimization_s", "planning_s",
    "execution_s", "jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes",
    "peak_mem_bytes", "rows", "top_operators", "execution_id",
    "codegen_compiles",
)
TOP_OPERATORS = 5
# Plan nodes that pass their child's rows through unchanged: the output
# row count is read from the first node below the write that is not one.
_ROW_PRESERVING = {"AdaptiveSparkPlan", "AQEShuffleRead", "Project", "Sort", "Window"}
# Units of formatted SQL metrics (Utils.bytesToString / msDurationToString)
_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "PiB": 2**50, "EiB": 2**60, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def bench_session(app_name: str, cpus: str | None = None):
    """The session every bench-protocol timing runs on."""
    from bigquery_etl_spark.session import get_spark

    os.environ["SPARK_GRAFT_LOAD_CACHE"] = "1"  # reuse analyzed scans (sources/tables.py)
    # Size shuffle partitions to the DATA, not the core count: sf0.1 is
    # ~600k rows, so single-digit partition counts keep per-task setup
    # amortized. r5 sweep on this host: 32 -> 8 was ~20% faster, 8 -> 4
    # another ~4% (14.6 s vs 15.2 s headline total), 4 -> 2 collapses
    # reduce parallelism (23.4 s). At real scale you size for
    # ~128MB-per-partition / 2-3x total cores; AQE re-coalesces either way.
    shuffle = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "4"))
    # ad-hoc conf overrides for A/B runs: SPARK_GRAFT_CONF="k=v;k=v"
    extra = dict(
        kv.split("=", 1)
        for kv in os.environ.get("SPARK_GRAFT_CONF", "").split(";")
        if "=" in kv
    )
    # Size the local-mode JVM to the host: the default 1g heap is a
    # whole-cluster budget here (32 task threads share it), and spill
    # read-ahead buffers alone can OOM it (PERF.md sf~1 probe finding).
    spark = get_spark(
        app_name=app_name,
        cpus=cpus,
        shuffle_partitions=shuffle,
        driver_memory=os.environ.get("SPARK_DRIVER_MEMORY", "16g"),
        extra_conf=extra,
    )
    # AQE is a per-shuffle-stage driver round-trip (materialize stage,
    # re-plan, submit next). At production scale that costs microseconds
    # relative to stage work and buys skew handling + runtime join
    # re-selection — keep it on (the session default). At bench scale
    # (sub-GB shuffles, sub-second stages) the re-planning barrier is
    # 100-400ms per query — measured 25% of total headline time — so the
    # bench sizes it off, exactly like shuffle partitions above. Set
    # SPARK_GRAFT_AQE=1 to time with AQE.
    if os.environ.get("SPARK_GRAFT_AQE", "0") != "1":
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        # With AQE off, the static broadcast threshold stands in for the
        # decision AQE makes at runtime from actual post-filter sizes
        # (production keeps AQE on and would convert these SMJs to
        # broadcast joins itself). 64MB is memory-proportional for this
        # host, far below any risk at bench SF; measured: q_tpch_q3
        # 0.68->0.37s, q_tpch_q5 0.44->0.27s.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    return spark


def _save_noop(df) -> None:
    """Run ``df`` to completion through the noop sink: the full plan
    executes and nothing is collected to the driver."""
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, specs, sf_dir: str = WARM_DIR) -> dict[str, str]:
    """Warm the JVM and compile every plan once before timing; returns
    ``{name: error}`` for the specs that failed.

    Whole-stage codegen compilation (Janino) costs 0.5-2s per complex
    plan. It is paid once per query shape only while the plan's classes
    stay in Spark's compiled-class cache: ``get_spark`` sizes that cache
    at 1024 classes, where Spark's default of 100 is evicted within one
    pass over a few plans (``Profiler`` reports the
    compiles of each timed run). At production scale it is noise, but
    at bench scale it would dominate (measured:
    q_dedup_minhash 3.2s cold vs 1.1s warm for the identical plan).
    Timing warm plans measures the engine's execution, which is what
    scales with data. Errors are isolated per query: one broken query
    must never zero a whole bench (round 1: q_sessionize threw in this
    warm-up and BENCH_r01.json recorded nothing)."""
    spark.range(1_000_000).selectExpr("sum(id) s").collect()
    errors: dict[str, str] = {}
    for spec in specs:
        try:
            _save_noop(spec.fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — isolate, report, continue
            errors[spec.name] = f"warmup: {type(exc).__name__}: {exc}"[:500]
    return errors


def ingest(spark, sf_dir: str) -> tuple[str, float]:
    """Load the raw fixtures into the engine's MANAGED layout once —
    the exact analogue of the reference's NDJSON -> BigQuery load step
    (main.py:160-185): a warehouse queries its own storage, not the
    interchange files it ingested. Concretely: every fixture file is a
    single parquet row group (PERF.md 0b), and Spark's splits align to
    row groups, so raw-fixture scans run in ONE task regardless of
    configuration — a source-layout artifact, not an engine property.
    Managed tables are multi-file so scan stages parallelize the way
    any real table does. Ingest cost is reported separately in the
    JSON line ("ingest_sec"); set SPARK_GRAFT_BENCH_RAW=1 to time
    against the raw fixtures instead."""
    from bigquery_etl_spark.sources import TABLES, load

    managed = os.path.join(
        "/tmp/spark_graft_managed", os.path.basename(sf_dir.rstrip("/"))
    )
    marker = os.path.join(managed, "_ingested")
    # r5 re-sweep: file counts sized so each scan TASK carries
    # enough work to amortize its launch + parquet-reader init
    # (~10 ms here). Light-work mid-size tables at 8 files beat 16
    # by ~10% across the events/orders headline set (measured
    # min-of-3, e.g. q_quarantine 0.46->0.30, q_retention
    # 0.47->0.32); the CPU-heavy tables (explode-amplified
    # documents, 600k-row lineitem) keep one file per core. Same
    # production rule either way: ~128 MB files, never fewer files
    # than the cores you want busy on the heavy stages.
    n_files = {
        "region": 1, "nation": 1, "supplier": 2, "part": 4,
        "customer": 8, "orders": 8, "events": 8, "embeddings": 8,
        "lineitem": 32, "documents": 32,
    }
    # Fingerprint the RAW fixtures AND the layout policy into the
    # marker: the driver regenerates /root/testdata between rounds
    # (a stale managed copy would silently serve last round's data),
    # and a changed file map must rebuild the layout too.
    fp = json.dumps(
        {
            "files": n_files,
            "tables": {
                t: (os.path.getsize(p), os.path.getmtime(p))
                for t in sorted(os.listdir(sf_dir))
                for p in [os.path.join(sf_dir, t)]
                if t.endswith(".parquet")
            },
        },
        sort_keys=True,
    )
    stale = True
    if os.path.exists(marker):
        with open(marker) as f:
            stale = f.read() != fp
    t0 = time.perf_counter()
    if stale:
        for t in TABLES:
            df = load(spark, sf_dir, t)
            n = n_files.get(t, 8)
            df.repartition(n).write.mode("overwrite").parquet(f"{managed}/{t}.parquet")
        with open(marker, "w") as f:
            f.write(fp)
    return managed, round(time.perf_counter() - t0, 3)


class Profiler:
    """Times declared queries on one session and reads the layers of
    each timed run. Create one per session: it stays registered as the
    session's QueryExecutionListener (py4j cannot match a Python
    listener back for ``unregister``)."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self._last_qe = None
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    # QueryExecutionListener (called from the JVM's listener bus)
    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        self._last_qe = qe

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self._last_qe = None

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def timed_run(self, spec, sf_dir: str, runs: int = 3) -> dict:
        """Best of ``runs`` timings of ``spec.fn`` + noop ``save()`` on
        ``sf_dir``, with the layers of that best run (keys: LAYER_KEYS;
        seconds, counts and bytes). The layers add up to the wall:
        ``build_s`` is ``spec.fn`` less the analysis of the DataFrame it
        returns, which ``analysis_s`` carries. Raises what the query
        raises."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        compiles = _codegen_compiles(self.spark)
        best = None
        sc.setJobDescription(spec.name)
        try:
            for _ in range(runs):
                start_ms = int(time.time() * 1000)
                n_compiled = compiles.getCount()
                t0 = time.perf_counter()
                df = spec.fn(self.spark, sf_dir)
                t1 = time.perf_counter()
                _save_noop(df)
                t2 = time.perf_counter()
                # the write is the run's last execution; its listener
                # event and status-store entry land once the bus drains
                jsc.listenerBus().waitUntilEmpty()
                if best is None or t2 - t0 < best["wall"]:
                    n = sql_store.executionsCount()
                    best = {
                        "wall": t2 - t0, "fn": t1 - t0, "start_ms": start_ms,
                        "df_qe": df._jdf.queryExecution(), "write_qe": self._last_qe,
                        "eid": sql_store.executionsList(n - 1, 1).head().executionId(),
                        "compiles": compiles.getCount() - n_compiled,
                    }
        finally:
            sc.setLocalProperty("spark.job.description", None)
        built = _phases(best["df_qe"], best["start_ms"])
        phases = _phases(best["write_qe"], best["start_ms"])
        phases["analysis"] += built["analysis"]
        wall, build = best["wall"], best["fn"] - built["analysis"]
        layers = {
            "wall_s": wall,
            "build_s": build,
            **{f"{p}_s": phases[p] for p in PHASES},
            # tracker phases are whole milliseconds, so a sub-ms
            # remainder can read slightly negative
            "execution_s": max(0.0, wall - build - sum(phases.values())),
        }
        eid = best["eid"]
        execution = sql_store.execution(eid).get()
        layers["jobs"] = execution.jobs().size()
        layers.update(_stage_stats(jsc.statusStore(), execution.stages()))
        layers.update(_operator_stats(sql_store, eid))
        layers["execution_id"] = eid
        layers["codegen_compiles"] = best["compiles"]
        return layers


def _codegen_compiles(spark):
    """Spark's JVM-wide histogram of Janino compile times: its count is
    the number of generated classes compiled so far (cache hits do not
    record). Its mean comes from a decaying sample, so only the count is
    exact."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _phases(qe, since_ms: int) -> dict[str, float]:
    """Seconds per planning phase of a JVM QueryExecution, counting only
    phases that began at or after ``since_ms`` (a builder may return a
    DataFrame it analyzed in an earlier call)."""
    out = {p: 0.0 for p in PHASES}
    for kv in _iter(qe.tracker().phases()):
        ph = kv._2()
        if kv._1() in out and ph.startTimeMs() >= since_ms:
            out[kv._1()] += (ph.endTimeMs() - ph.startTimeMs()) / 1000.0
    return out


def _stage_stats(app_store, stage_ids) -> dict[str, int]:
    out = {"stages": 0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0}
    from py4j.protocol import Py4JJavaError

    for sid in _iter(stage_ids):
        try:
            st = app_store.lastStageAttempt(sid)
        except Py4JJavaError:  # planned but never submitted: not counted
            continue
        if str(st.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        out["shuffle_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


def metric_total(text: str) -> float:
    """The total of one formatted SQL metric, in bytes, seconds or
    units: ``'3,225'``, ``'16.3 MiB'``, ``'319 ms'``, or the multi-task
    form ``'total (min, med, max (stageId: taskId))\\n319 ms (…)'``."""
    value = text.rsplit("\n", 1)[-1].split(" (", 1)[0].replace(",", "")
    num, _, unit = value.partition(" ")
    return float(num) * _UNITS.get(unit, 1)


def _operator_stats(sql_store, eid) -> dict:
    """Peak operator memory, output rows and the operators with the most
    metered time, from the execution's plan graph and SQL metrics."""
    values = sql_store.executionMetrics(eid)
    graph = sql_store.planGraph(eid)
    nodes = {}
    for node in _iter(graph.allNodes()):
        metrics = {}
        for m in _iter(node.metrics()):
            v = values.get(m.accumulatorId())
            if v.isDefined():
                metrics[m.name()] = (m.metricType(), v.get())
        nodes[node.id()] = (node.name().strip(), metrics)
    children: dict[int, list[int]] = {}
    for edge in _iter(graph.edges()):
        children.setdefault(edge.toId(), []).append(edge.fromId())

    def total(nid, name):
        return int(metric_total(nodes[nid][1][name][1]))

    rows = None
    nid = min(nodes)  # the write command
    while len(children.get(nid, ())) == 1:
        nid = children[nid][0]
        name, metrics = nodes[nid]
        if "number of output rows" in metrics:
            rows = total(nid, "number of output rows")
        elif name == "Exchange":  # rows the shuffle delivered
            rows = total(nid, "records read")
        elif name in _ROW_PRESERVING:
            continue
        break

    timed = []
    for nid, (name, metrics) in nodes.items():
        if not metrics:
            continue
        secs = sum(
            metric_total(v) for kind, v in metrics.values() if kind in ("timing", "nsTiming")
        )
        out_rows = metrics.get("number of output rows")
        timed.append({
            "id": nid, "name": name, "time_s": round(secs, 3),
            "rows": int(metric_total(out_rows[1])) if out_rows else None,
        })
    timed.sort(key=lambda op: -op["time_s"])
    peak = [metric_total(v) for n in nodes.values() for k, (_, v) in n[1].items() if k == "peak memory"]
    return {
        "peak_mem_bytes": int(max(peak, default=0)),
        "rows": rows,
        "top_operators": timed[:TOP_OPERATORS],
    }
