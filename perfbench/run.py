"""Benchmark of the ETL tick and the SQL surface.

    python3 perfbench/run.py --workload etl_backfill --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 0

Run from the repository root. One run sets up its workload in a fresh
scratch directory, runs it as a closed loop for ``--seconds`` (whole
operations; see the workload modules), checks the outputs outside the
timed region and prints two lines: a report with the workload's own
figures (by the names in design.json, each with unit and sample count),
then the result object whose ``metrics`` are BENCHMARK.json's
``end_to_end`` metrics (``--trace 0``) or its ``per_layer`` metrics
(``--trace 1``). A traced run also writes its spans to
``.perfbench/trace-<workload>-<seed>.json``.

``--workload all`` runs every workload BENCHMARK.json lists, one
process each, and prints their reports.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def run_all(args, bench: dict) -> int:
    rc = 0
    for w in bench["workloads"]:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or len(lines) < 2:
            print(f"{w['name']}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            rc = 1
            continue
        print(lines[-2])
        print(lines[-1])
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "bigquery_etl_spark", "__init__.py")):
        print("perfbench: bigquery_etl_spark not found next to perfbench/; run from a checkout",
              file=sys.stderr)
        return 2
    bench = _load(os.path.join(ROOT, "BENCHMARK.json"))
    design = _load(os.path.join(HERE, "design.json"))
    if args.workload == "all":
        return run_all(args, bench)
    if args.workload not in design["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    sys.path.insert(0, ROOT)
    import common

    common.pin_environment(ROOT, run_dir)
    try:
        return _run(args, bench, design, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, bench: dict, design: dict, run_dir: str) -> int:
    from common import RssSampler, cores, median, stop_session
    from spans import Tracer

    cfg = design["workloads"][args.workload]
    sampler = RssSampler()  # samples the timed region only
    tracer = Tracer(enabled=False)
    if cfg["module"] == "etl":
        from etl import EtlRun as Workload
    else:
        from sql import SqlRun as Workload
    wl = Workload(args.workload, cfg, design["settings"], args.seed, run_dir, tracer, sampler.exclude, cores())
    times: dict[str, float] = {}
    try:
        wl.setup(times)
        sampler.start()
        m = wl.measure(args.seconds, bool(args.trace))
        peak_mb = sampler.stop()
        errs = wl.check(m)
        layer = wl.layer_metrics(m) if args.trace else {}
        report = wl.report(m)
    except Exception:  # noqa: BLE001 — no result line on a broken run
        traceback.print_exc()
        return 1
    finally:
        wl.close()
        if wl.spark is not None:
            stop_session(wl.spark)
        sampler.stop()

    walls = m["walls"]
    if not walls:
        print("perfbench: no untraced operation succeeded; no timings", file=sys.stderr)
        return 1
    attempted = len(m.get("ticks", m.get("ops", [])))
    failed = min(attempted, m["failed"] + len(errs))
    setup_s = times["session.start_s"] + times["setup.ingest_s"] + times["setup.warmup_s"]
    report["failed_ops_ratio"] = {"value": failed / attempted, "unit": "ratio",
                                  "failed": failed, "attempted": attempted}
    for e in errs:
        print(f"[perfbench] check failed: {e}", file=sys.stderr)

    if args.trace:
        traced = [o["wall"] - tracer.hook_s(o["op"])
                  for o in m.get("ticks", m.get("ops", [])) if o["traced"] and o.get("ok")]
        layer.update(times)
        layer["trace.overhead_s"] = (median(traced) or 0.0) - (median(walls) or 0.0)
        metrics = {p["name"]: {"value": float(layer.get(p["name"], 0.0)), "unit": p["unit"]}
                   for p in bench["per_layer"]}
        os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.json"))
    else:
        e2e = {
            "setup_s": setup_s,
            "op_p50_s": m["op_p50"],
            "peak_rss_mb": peak_mb,
        }
        metrics = {e["name"]: {"value": e2e[e["name"]], "unit": e["unit"]} for e in bench["end_to_end"]}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "report": report,
                      "setup": times, "errors": errs[:10], "walls": walls}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
