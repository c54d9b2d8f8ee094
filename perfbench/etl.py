"""ETL tick workload ``etl_backfill``: one client calling
``EtlBatchRunner.run_once()`` in a closed loop against the provider
process. The head moves one provider-cap batch ahead of the cursor
before each tick and the warehouse starts empty.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time
import urllib.request

import pyarrow as pa
import pyarrow.parquet as pq

from chain import Chain, ChainSpec
from common import Stopwatch, median, start_session
from sparkstats import group_stats, job_group
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
START_BLOCK = 10_014_455  # the reference's START_BLOCK_EPOCH


class Provider:
    """The provider process and a client for its control methods."""

    def __init__(self, spec: dict, max_conns: int):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "provider.py"), "--spec", json.dumps(spec),
             "--max-conns", str(max_conns)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.url = self.proc.stdout.readline().strip()
        if not self.url.startswith("http://"):
            self.close()
            raise RuntimeError("provider failed to start")

    def call(self, method: str, *params):
        body = json.dumps({"jsonrpc": "2.0", "id": 1, "method": method, "params": list(params)})
        req = urllib.request.Request(
            self.url, data=body.encode(), headers={"Content-Type": "application/json"}
        )
        with urllib.request.urlopen(req, timeout=30) as resp:
            return json.loads(resp.read())["result"]

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=10)


def _dir_stats(path: str, suffix: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _parquet_rows(path: str) -> int:
    rows = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                rows += pq.ParquetFile(os.path.join(dirpath, n)).metadata.num_rows
    return rows


def _write_docs(chain: Chain, path: str) -> None:
    docs = chain.docs(chain.spec.start_block, chain.end_block)
    pq.write_table(
        pa.table({"ipfs_hash": [h for h, _ in docs], "doc": [d for _, d in docs]}), path
    )


class EtlRun:
    def __init__(self, name: str, cfg: dict, settings: dict, seed: int, run_dir: str,
                 tracer: Tracer, exclude_pids: set[int], ncores: int):
        self.name, self.cfg, self.seed, self.run_dir = name, cfg, seed, run_dir
        self.settings, self.tracer, self.ncores = settings, tracer, ncores
        self.exclude_pids = exclude_pids  # kept out of the memory figure
        r = cfg["runner"]
        self.lag, self.batch = r["block_lag"], r["batch_size"]
        self.max_per_call, self.parallelism = r["max_blocks_per_call"], r["fetch_parallelism"]
        self.step = cfg["blocks_per_tick"]
        n_blocks = cfg["warmup_blocks"] + cfg["max_ticks"] * self.step + self.lag + 1
        self.spec = dict(cfg["chain"], seed=seed, start_block=START_BLOCK, n_blocks=n_blocks)
        self.chain = Chain(ChainSpec.from_json(self.spec))
        self.provider: Provider | None = None
        self.spark = None

    # -- set-up -----------------------------------------------------------

    def _runner(self, tag: str, start_block: int):
        from bigquery_etl_spark.pipeline.cursor import CursorStore
        from bigquery_etl_spark.pipeline.runner import EtlBatchRunner
        from bigquery_etl_spark.pipeline.schemas import RAW_LOGS_SCHEMA
        from bigquery_etl_spark.sources.incremental import block_range_source
        from bigquery_etl_spark.sources.rpc import http_head_fn, http_range_fetcher

        spark, url, tracer = self.spark, self.provider.url, self.tracer
        head = http_head_fn(url)

        def head_fn() -> int:
            with tracer.span("rpc.head"):
                return head()

        def source(lo: int, hi: int):
            with tracer.span("incremental.build"):
                return block_range_source(
                    spark, lo, hi, fetcher=http_range_fetcher(url), schema=RAW_LOGS_SCHEMA,
                    fetch_parallelism=self.parallelism, max_blocks_per_call=self.max_per_call,
                )

        base = os.path.join(self.run_dir, tag)
        return EtlBatchRunner(
            spark,
            raw_logs_source=source,
            ipfs_docs=spark.read.parquet(os.path.join(self.run_dir, "ipfs_docs.parquet")),
            head_fn=head_fn,
            warehouse_dir=f"{base}/warehouse",
            staging_dir=f"{base}/staging",
            cursor=CursorStore(spark, f"{base}/cursor", start_block=start_block - 1),
            block_lag=self.lag,
            batch_size=self.batch,
        )

    def setup(self, times: dict) -> None:
        sw = Stopwatch()
        self.spark = start_session(self.settings, self.run_dir, self.cfg.get("spark_conf", {}))
        times["session.start_s"] = sw.elapsed()

        sw = Stopwatch()
        self.provider = Provider(self.spec, self.ncores)
        self.exclude_pids.add(self.provider.proc.pid)
        _write_docs(self.chain, os.path.join(self.run_dir, "ipfs_docs.parquet"))
        self.runner = self._runner("main", START_BLOCK)
        self.head = START_BLOCK - 1 + self.lag
        times["setup.ingest_s"] = sw.elapsed()

        # Warm-up on a throwaway runner, so the timed warehouse starts empty.
        sw = Stopwatch()
        warm = self._runner("warm", START_BLOCK)
        self.provider.call("bench_setHead", self.head + self.cfg["warmup_blocks"])
        if not warm.run_once():
            raise RuntimeError(f"warm-up tick failed: {warm.stats.last_error}")
        self.provider.call("bench_setHead", self.head)
        self.provider.call("bench_counters")
        times["setup.warmup_s"] = sw.elapsed()

    # -- timed loop ---------------------------------------------------------

    def _install_spans(self) -> None:
        from bigquery_etl_spark.pipeline import cursor, runner

        t = self.tracer

        def staging_after(rec, args, out, ctx):
            rec["files"], rec["bytes"] = _dir_stats(args[1], ".json")

        def merge_before(args, kwargs):
            return _parquet_rows(args[2])  # rows already in the target table

        def merge_after(rec, args, out, ctx):
            rec["probed"], rec["appended"] = ctx, out

        for fn in ("decode_events", "enrich_with_docs", "flatten_listings", "explode_products"):
            t.patch(runner, fn, "extract.build")
        t.patch(runner, "write_ndjson_staging", "sinks.staging", after=staging_after)
        t.patch(runner, "merge_append", "sinks.merge", before=merge_before, after=merge_after)
        t.patch(cursor.CursorStore, "get", "cursor.get")
        t.patch(cursor.CursorStore, "set", "cursor.set")

    def measure(self, seconds: float, trace: bool) -> dict:
        """Ticks until ``seconds`` have passed and at least ``min_ops`` ticks
        are done. A traced run alternates untraced and traced ticks and does
        at least one of each."""
        ticks: list[dict] = []
        least = 2 if trace else self.cfg["min_ops"]
        sw = Stopwatch()
        while len(ticks) < self.cfg["max_ticks"] and (len(ticks) < least or sw.elapsed() < seconds):
            i = len(ticks)
            lo = self.head - self.lag + 1  # the cursor after the previous tick
            self.head += self.step
            self.provider.call("bench_setHead", self.head)
            op = f"tick-{i}"
            on = trace and i % 2 == 1  # traced ticks find a non-empty warehouse
            self.tracer.enabled, self.tracer.op = on, op
            if on:
                self._install_spans()
            t0 = time.perf_counter()
            with job_group(self.spark, op), self.tracer.span("tick"):
                ok = self.runner.run_once()
            wall = time.perf_counter() - t0
            self.tracer.close()
            self.tracer.enabled = False
            if not ok:
                print(f"[perfbench] {op} failed: {self.runner.stats.last_error}", file=sys.stderr)
            ticks.append({
                "op": op, "wall": wall, "ok": ok, "traced": on, "range": (lo, self.head - self.lag),
                "rpc": self.provider.call("bench_counters"),
                "jobs": group_stats(self.spark, op) if on else None,
            })
        walls = [t["wall"] for t in ticks if t["ok"] and not t["traced"]]
        return {"ticks": ticks, "walls": walls, "failed": sum(not t["ok"] for t in ticks),
                "op_p50": median(walls)}

    # -- checks -------------------------------------------------------------

    def check(self, m: dict) -> list[str]:
        from pyspark.sql import functions as F

        spark, runner = self.spark, self.runner
        errs: list[str] = []
        end = self.head - self.lag
        cur = runner.cursor.get()
        if cur != end:
            errs.append(f"cursor {cur} != head - lag {end}")
        want = self.chain.totals(START_BLOCK, end)
        tables = {
            "marketplace": ("marketplace_listings", ["block_number", "log_index"]),
            "dshop": ("dshop_products", ["block_number", "log_index", "product_id"]),
        }
        lo, hi = m["ticks"][-1]["range"]
        last_lo = lo + ((hi - lo) // self.batch) * self.batch  # last range of the last tick
        for kind, (table, keys) in tables.items():
            wh = spark.read.parquet(f"{runner.warehouse_dir}/{table}")
            n = wh.count()
            if n != want[kind]:
                errs.append(f"{table}: {n} rows, generator says {want[kind]}")
            if wh.select(*keys).distinct().count() != n:
                errs.append(f"{table}: duplicate keys")
            staged_keys = spark.read.schema(wh.schema).json(f"{runner.staging_dir}/{kind}").select(*keys)
            wh_keys = wh.filter(F.col("block_number").between(last_lo, hi)).select(*keys)
            if staged_keys.exceptAll(wh_keys).count() or wh_keys.exceptAll(staged_keys).count():
                errs.append(f"{table}: staging of range {last_lo}..{hi} differs from warehouse")
        return errs

    def layer_metrics(self, m: dict) -> dict:
        t = self.tracer
        traced = [k for k in m["ticks"] if k["traced"]]
        n = max(1, len(traced))
        self_t = t.self_times()
        stag = t.find("sinks.staging")
        merges = t.find("sinks.merge")
        committed = sum(hi - lo + 1 for lo, hi in (k["range"] for k in traced))
        ideal = sum(
            math.ceil((min(a + self.batch - 1, hi) - a + 1) / self.max_per_call)
            for lo, hi in (k["range"] for k in traced)
            for a in range(lo, hi + 1, self.batch)
        )
        rpc = {
            key: sum(k["rpc"][key] for k in traced)
            for key in ("getlogs_calls", "head_calls", "blocks_requested", "rows_served", "busy_s")
        }
        files, size = _dir_stats(self.runner.warehouse_dir, ".parquet")
        rows = _parquet_rows(self.runner.warehouse_dir)
        return {
            "rpc.getlogs_calls": rpc["getlogs_calls"] / n,
            "rpc.calls_per_range": rpc["getlogs_calls"] / ideal if ideal else 0.0,
            "rpc.blocks_fetched_per_committed": rpc["blocks_requested"] / committed if committed else 0.0,
            "rpc.rows_served": rpc["rows_served"] / n,
            "rpc.busy_s": rpc["busy_s"] / n,
            "rpc.head_calls": rpc["head_calls"] / n,
            "sinks.staging_s": self_t.get("sinks.staging", 0.0) / n,
            "sinks.staging_calls": len(stag) / n,
            "sinks.staging_bytes": sum(s.get("bytes", 0) for s in stag) / n,
            "sinks.staging_files": sum(s.get("files", 0) for s in stag) / n,
            "sinks.merge_s": self_t.get("sinks.merge", 0.0) / n,
            "sinks.merge_calls": len(merges) / n,
            "sinks.rows_appended": sum(s.get("appended", 0) for s in merges) / n,
            "sinks.rows_probed": sum(s.get("probed", 0) for s in merges) / n,
            "sinks.warehouse_files": files,
            "sinks.warehouse_bytes_per_row": size / rows if rows else 0.0,
            "cursor.get_s": self_t.get("cursor.get", 0.0) / n,
            "cursor.set_s": self_t.get("cursor.set", 0.0) / n,
            "runner.tick_self_s": self_t.get("tick", 0.0) / n,
            "runner.spark_jobs_per_tick": sum(k["jobs"]["jobs"] for k in traced) / n,
            "runner.spark_tasks_per_tick": sum(k["jobs"]["tasks"] for k in traced) / n,
            "extract.build_s": self_t.get("extract.build", 0.0) / n,
        }

    def report(self, m: dict) -> dict:
        """The workload's own end-to-end figures, by the names in design.json."""
        timed = [k for k in m["ticks"] if k["ok"] and not k["traced"]]
        committed = sum(hi - lo + 1 for lo, hi in (k["range"] for k in timed))
        return {
            "blocks_per_s": {"value": committed / sum(m["walls"]), "unit": "blocks/s", "n": len(m["walls"])},
            "tick_p50_s": {"value": median(m["walls"]), "unit": "s", "n": len(m["walls"])},
        }

    def close(self) -> None:
        if self.provider is not None:
            self.provider.close()
