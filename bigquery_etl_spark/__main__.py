"""Command-line entry point: run, list, and inspect declared queries.

The engine's primary consumers are programmatic (the driver contract in
``__spark_entry__.py`` and the library API), but a user switching from
the reference service needs a shell surface too::

    python -m bigquery_etl_spark list [--tag tierc]
    python -m bigquery_etl_spark run q_agg_hash [--sf-dir DIR] [--show 20]
    python -m bigquery_etl_spark run q_tpch_q3 --explain
    python -m bigquery_etl_spark oracle q_agg_hash   # print the twin SQL
    python -m bigquery_etl_spark sql "SELECT ... FROM lineitem ..."
    python -m bigquery_etl_spark profile q_agg_hash [q_b ...] [--sf-dir DIR] [--runs 3] [--json]

``sql`` registers every fixture table as a temp view first, so ad-hoc
ANSI SQL works against the same data the declared queries see.
``profile`` times queries exactly as ``bench.py`` does (bench session,
warm-up, managed layout, best of ``--runs``) and prints where each best
run's wall went: build, analysis, optimization, planning, execution,
jobs, stages, tasks, shuffle and spill bytes, and the top operators.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def _spark(shuffle_partitions: int | None = None):
    from bigquery_etl_spark.session import get_spark

    return get_spark(app_name="bigquery-etl-spark-cli", shuffle_partitions=shuffle_partitions)


def cmd_list(args: argparse.Namespace) -> int:
    from bigquery_etl_spark.registry import all_queries

    for name, spec in sorted(all_queries().items()):
        if args.tag and args.tag not in spec.tags:
            continue
        twin = spec.twin if spec.sql else "none"
        first_doc = (spec.doc or "").strip().splitlines()[:1]
        print(f"{name:28s} twin={twin:9s} tags={','.join(spec.tags):30s} "
              f"{first_doc[0] if first_doc else ''}")
    return 0


def cmd_run(args: argparse.Namespace) -> int:
    from bigquery_etl_spark.registry import all_queries

    spec = all_queries().get(args.query)
    if spec is None:
        print(f"unknown query {args.query!r}; try `list`", file=sys.stderr)
        return 2
    spark = _spark()
    df = spec.fn(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
        return 0
    t0 = time.perf_counter()
    if args.json:
        rows = [r.asDict(recursive=True) for r in df.collect()]
        print(json.dumps(rows, default=str))
    else:
        df.show(args.show, truncate=not args.wide)
    print(f"[{args.query}] {time.perf_counter() - t0:.2f}s "
          f"(sf_dir={args.sf_dir})", file=sys.stderr)
    return 0


def cmd_oracle(args: argparse.Namespace) -> int:
    from bigquery_etl_spark.registry import all_queries

    spec = all_queries().get(args.query)
    if spec is None:
        print(f"unknown query {args.query!r}", file=sys.stderr)
        return 2
    if spec.sql is None:
        print(f"-- {args.query} has no SQL twin (rows-only check)", file=sys.stderr)
        return 1
    print(spec.sql.strip())
    return 0


def cmd_sql(args: argparse.Namespace) -> int:
    from bigquery_etl_spark.sources.tables import TABLES, register_views

    spark = _spark()
    for t in TABLES:
        try:
            register_views(spark, args.sf_dir, (t,))
        except Exception:  # noqa: BLE001 — a missing fixture table is fine
            pass
    df = spark.sql(args.statement)
    if args.explain:
        df.explain("formatted")
        return 0
    df.show(args.show, truncate=not args.wide)
    return 0


def cmd_profile(args: argparse.Namespace) -> int:
    from bigquery_etl_spark import profile
    from bigquery_etl_spark.registry import all_queries

    registry = all_queries()
    unknown = [q for q in args.queries if q not in registry]
    if unknown:
        print(f"unknown query {unknown[0]!r}; try `list`", file=sys.stderr)
        return 2
    specs = [registry[q] for q in args.queries]
    spark = profile.bench_session("bigquery-etl-spark-profile")
    errors = profile.warm_up(spark, specs)
    if errors:
        print(json.dumps(errors), file=sys.stderr)
        return 1
    query_dir, _ = profile.ingest(spark, args.sf_dir)
    profiler = profile.Profiler(spark)
    for spec in specs:
        layers = profiler.timed_run(spec, query_dir, args.runs)
        if args.json:
            print(json.dumps({"query": spec.name, **layers}))
            continue
        print(f"{spec.name}: wall {layers['wall_s']:.3f}s = build "
              f"{layers['build_s']:.3f} + analysis {layers['analysis_s']:.3f} "
              f"+ optimization {layers['optimization_s']:.3f} + planning "
              f"{layers['planning_s']:.3f} + execution {layers['execution_s']:.3f}")
        print(f"  jobs {layers['jobs']}  stages {layers['stages']}  tasks "
              f"{layers['tasks']}  shuffle {layers['shuffle_bytes']:,} B  "
              f"spill {layers['spill_bytes']:,} B  rows {layers['rows']}  "
              f"codegen compiles {layers['codegen_compiles']}")
        for op in layers["top_operators"]:
            print(f"  {op['time_s']:8.3f}s  {op['name']} #{op['id']}  rows {op['rows']}")
    return 0


def cmd_corpus(args: argparse.Namespace) -> int:
    from bigquery_etl_spark.pipeline.corpus import CorpusBuilder

    spark = _spark()
    cb = CorpusBuilder(spark, args.root)
    if args.action == "ingest":
        stats = cb.ingest(spark.read.parquet(args.src))
        print(json.dumps(stats))
    elif args.action == "stats":
        snap = cb.store.current_snapshot()
        n = cb.read().count() if snap else 0
        print(json.dumps({"snapshot": snap, "n_docs": n}))
    elif args.action == "manifest":
        cb.manifest(budget=args.budget).orderBy("shard_id").show(
            args.show, truncate=False
        )
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="python -m bigquery_etl_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("list", help="list declared queries")
    p.add_argument("--tag", help="filter by tag (e.g. tierc, window, dedup)")
    p.set_defaults(fn=cmd_list)

    p = sub.add_parser("run", help="run a declared query")
    p.add_argument("query")
    p.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    p.add_argument("--show", type=int, default=20)
    p.add_argument("--wide", action="store_true", help="don't truncate cells")
    p.add_argument("--json", action="store_true", help="print rows as JSON")
    p.add_argument("--explain", action="store_true", help="print the plan, don't run")
    p.set_defaults(fn=cmd_run)

    p = sub.add_parser("oracle", help="print a query's DuckDB twin SQL")
    p.add_argument("query")
    p.set_defaults(fn=cmd_oracle)

    p = sub.add_parser("sql", help="run ad-hoc SQL over the fixture tables")
    p.add_argument("statement")
    p.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    p.add_argument("--show", type=int, default=20)
    p.add_argument("--wide", action="store_true")
    p.add_argument("--explain", action="store_true")
    p.set_defaults(fn=cmd_sql)

    p = sub.add_parser("profile", help="time queries as bench.py does, layer by layer")
    p.add_argument("queries", nargs="+")
    p.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    p.add_argument("--runs", type=int, default=3, help="best of N timed runs")
    p.add_argument("--json", action="store_true", help="one JSON object per query")
    p.set_defaults(fn=cmd_profile)

    p = sub.add_parser("corpus", help="incremental training-corpus builder")
    p.add_argument("action", choices=["ingest", "stats", "manifest"])
    p.add_argument("--root", required=True, help="corpus PointerStore root dir")
    p.add_argument("--src", help="parquet path of incoming docs (ingest)")
    p.add_argument("--budget", type=int, default=1000)
    p.add_argument("--show", type=int, default=50)
    p.set_defaults(fn=cmd_corpus)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
