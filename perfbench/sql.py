"""SQL-surface workload ``queries``: one client running declared queries
in a closed loop. Each query is built and written to the noop sink over a
managed sf0.1 layout, after an untimed pass that warms it and checks its
output (exact twins against the DuckDB oracle, the others by row count,
again after the timed region).
"""

from __future__ import annotations

import os
import sys
import time

import tables
from common import Stopwatch, median, start_session, timing
from sparkstats import PHASES, PlanningCapture, group_stats, job_group, phases_of
from spans import Tracer


class SqlRun:
    def __init__(self, name: str, cfg: dict, settings: dict, seed: int, run_dir: str,
                 tracer: Tracer, exclude_pids: set[int], ncores: int):
        self.name, self.cfg, self.seed, self.run_dir = name, cfg, seed, run_dir
        self.settings, self.tracer = settings, tracer
        self.spark = None
        self.errors: list[str] = []
        self.duck: dict[str, float] = {}
        self.rows: dict[str, int] = {}

    # -- set-up ---------------------------------------------------------------

    def setup(self, times: dict) -> None:
        if self.cfg["load_cache"]:
            os.environ["SPARK_GRAFT_LOAD_CACHE"] = "1"
        sw = Stopwatch()
        self.spark = start_session(self.settings, self.run_dir, self.cfg["spark_conf"])
        times["session.start_s"] = sw.elapsed()
        from bigquery_etl_spark.registry import all_queries

        self.registry = all_queries()

        sw = Stopwatch()
        self.data = self._ingest(self.cfg["sf"])
        times["setup.ingest_s"] = sw.elapsed()

        # The first build and run of each query pays its one-time costs
        # (code generation, UDF registration, Python workers); these
        # passes are also the output checks, outside the timed region.
        sw = Stopwatch()
        self._check_queries()
        times["setup.warmup_s"] = sw.elapsed()

    def _ingest(self, sf: float) -> str:
        """Generate the tables and write them into the managed multi-file
        layout the queries read."""
        self.raw = os.path.join(self.run_dir, "raw")
        tables.generate(self.raw, sf, self.seed)
        managed = os.path.join(self.run_dir, "managed")
        tables.write_managed(self.raw, managed, self.cfg["managed_files"])
        return managed

    def _oracle(self, name: str):
        from bigquery_etl_spark.oracle import run_duckdb

        t0 = time.perf_counter()
        out = run_duckdb(self.registry[name].sql, self.raw)
        self.duck[name] = time.perf_counter() - t0
        return out

    def _exact(self, name: str) -> bool:
        spec = self.registry[name]
        return bool(spec.sql) and spec.twin == "exact"

    def _check_queries(self) -> None:
        """Exact twins must match the DuckDB oracle; every query's row count
        is recorded for the check after the timed region."""
        from bigquery_etl_spark.oracle import compare

        self.names = list(self.cfg["queries"])
        for name in self.names:
            pdf = self.registry[name].fn(self.spark, self.data).toPandas()
            self.rows[name] = len(pdf)
            if self._exact(name):
                errs = compare(pdf, self._oracle(name))
                if errs:
                    self.errors.append(f"{name}: {errs[0][:300]}")

    # -- timed loop -------------------------------------------------------------

    def _install_spans(self) -> None:
        from bigquery_etl_spark.sources import bq_dialect, lake_sql

        def translate_after(rec, args, out, ctx):
            rec["chars_in"], rec["chars_out"] = len(args[0]), len(out)

        self.tracer.patch(lake_sql.LakeCatalog, "bq_sql", "lake_sql.bq_sql")
        self.tracer.patch(bq_dialect, "translate", "bq_dialect.translate", after=translate_after)

    def _one(self, name: str, op: str, traced: bool) -> dict:
        spark, spec, t = self.spark, self.registry[name], self.tracer
        t.enabled, t.op = traced, op
        capture = None
        if traced:
            self._install_spans()
            capture = PlanningCapture(spark)
        rec: dict = {"name": name, "op": op, "traced": traced}
        try:
            t0 = time.perf_counter()
            with job_group(spark, op), t.span("op"):
                with t.span("plans.build"):
                    df = spec.fn(spark, self.data)
                b = time.perf_counter()
                with t.span("spark.execute"):
                    df.write.format("noop").mode("overwrite").save()
            end = time.perf_counter()
            rec.update(wall=end - t0, build=b - t0, run=end - b, ok=True)
        except Exception as exc:  # noqa: BLE001 — one failing query is counted, not fatal
            rec.update(ok=False, error=f"{type(exc).__name__}: {str(exc)[:300]}")
        finally:
            t.close()
            t.enabled = False
        if traced and rec["ok"]:
            # The DataFrame's own analysis ran eagerly inside the build; the
            # noop write's QueryExecution plans the command around it within
            # the run. Execution is the run minus the write's own phases.
            done = capture.take()
            write = done[-1] if done else {p: 0.0 for p in PHASES}
            rec["execution"] = rec["run"] - sum(write[p] for p in PHASES)
            rec["phases"] = {p: write[p] for p in PHASES}
            rec["phases"]["analysis"] += phases_of(df._jdf.queryExecution())["analysis"]
            rec["jobs"] = group_stats(spark, op)
        if capture is not None:
            capture.close()
        return rec

    def measure(self, seconds: float, trace: bool) -> dict:
        """Whole passes over the query list until ``seconds`` have passed and
        at least ``min_ops`` passes are done. A traced run alternates traced
        and untraced passes and does at least one of each."""
        ops: list[dict] = []
        least = 2 if trace else self.cfg["min_ops"]
        sw = Stopwatch()
        p = 0
        while p < least or sw.elapsed() < seconds:
            traced = trace and p % 2 == 0
            for name in self.names:
                rec = self._one(name, f"p{p}-{name}", traced)
                if not rec["ok"]:
                    print(f"[perfbench] {name} failed: {rec['error']}", file=sys.stderr)
                ops.append(rec)
            p += 1
        by_pass: dict[str, list[dict]] = {}
        for o in ops:
            by_pass.setdefault(o["op"].split("-", 1)[0], []).append(o)
        suites = [sum(o["wall"] for o in ps) for ps in by_pass.values()
                  if all(o["ok"] and not o["traced"] for o in ps)]
        return {"ops": ops, "walls": [o["wall"] for o in ops if o["ok"] and not o["traced"]],
                "failed": sum(not o["ok"] for o in ops), "passes": p,
                "per_query": self._per_query(ops), "op_p50": median(suites)}

    def check(self, m: dict) -> list[str]:
        """Row counts of the queries without an exact twin against set-up."""
        for name in self.names:
            if self._exact(name):
                continue
            n = self.registry[name].fn(self.spark, self.data).count()
            if n != self.rows[name]:
                self.errors.append(f"{name}: {n} rows, {self.rows[name]} at set-up")
        return list(self.errors)

    # -- metrics --------------------------------------------------------------------

    @staticmethod
    def _per_query(ops: list[dict]) -> dict[str, float]:
        """Median untraced wall of each query."""
        by: dict[str, list[float]] = {}
        for o in ops:
            if o["ok"] and not o["traced"]:
                by.setdefault(o["name"], []).append(o["wall"])
        return {k: median(v) for k, v in by.items()}

    def report(self, m: dict) -> dict:
        walls = m["walls"]
        per = m["per_query"]
        matched = [k for k in per if k in self.duck]
        spark_s = sum(per[k] for k in matched)
        duck_s = sum(self.duck[k] for k in matched)
        t = timing(walls)
        return {
            "suite_s": {"value": sum(per.values()), "unit": "s", "n": len(per)},
            "query_p50_s": {"value": t["p50"], "unit": "s", "n": t["n"]},
            "query_p90_s": {"value": t["p90"], "unit": "s", "n": t["n"]},
            "matched_ratio": {"value": spark_s / duck_s if duck_s else None, "unit": "ratio", "n": len(matched)},
            "per_query_s": {"value": per, "unit": "s", "n": m["passes"]},
        }

    def layer_metrics(self, m: dict) -> dict:
        t = self.tracer
        traced = [o for o in m["ops"] if o["traced"] and o["ok"]]
        n = max(1, len(traced))
        self_t = t.self_times()
        tr = t.find("bq_dialect.translate")
        tr_d = [s["end"] - s["start"] for s in tr]
        chars_in = sum(s.get("chars_in", 0) for s in tr)
        out = {
            "plans.build_s": sum(o["build"] for o in traced) / n,
            "spark.analysis_s": sum(o["phases"]["analysis"] for o in traced) / n,
            "spark.optimization_s": sum(o["phases"]["optimization"] for o in traced) / n,
            "spark.planning_s": sum(o["phases"]["planning"] for o in traced) / n,
            "spark.execution_s": sum(o["execution"] for o in traced) / n,
            "lake_sql.bq_sql_s": self_t.get("lake_sql.bq_sql", 0.0) / n,
            "bq_dialect.translate_s": sum(tr_d) / n,
            "bq_dialect.translate_max_s": max(tr_d, default=0.0),
            "bq_dialect.expansion_ratio": sum(s.get("chars_out", 0) for s in tr) / chars_in if chars_in else 0.0,
            "oracle.duckdb_s": sum(self.duck.values()) / len(self.duck) if self.duck else 0.0,
        }
        for k in ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes"):
            out[f"spark.{k}"] = sum(o["jobs"][k] for o in traced) / n
        for q in self.names:
            mine = [o for o in traced if o["name"] == q]
            k = max(1, len(mine))
            out[f"query.{q}.build_s"] = sum(o["build"] for o in mine) / k
            out[f"query.{q}.analysis_s"] = sum(o["phases"]["analysis"] for o in mine) / k
            out[f"query.{q}.execution_s"] = sum(o["execution"] for o in mine) / k
        return out

    def close(self) -> None:
        pass
