"""Data-bound core-scaling probe (r14, VERDICT r13 item 3).

The sf0.1 bench is floor-saturated (~85 ms/query of job/stage barriers),
so its 8-vs-32-core block cannot distinguish serial code from
floor-bound queries. This probe times a query list on the key-shifted
~sf1 build (tools/scale_bench.py build(), 10 copies, 64-file tables) at
whatever core count $SPARK_GRAFT_CPUS says, with bench-style protocol:
warm-up pass at the same scale first (codegen compiled), then
best-of-N (default 2) through bigquery_etl_spark/profile.py.

Usage:
    SPARK_GRAFT_CPUS=32 python tools/core_ratio_probe.py [--queries a,b]
    SPARK_GRAFT_CPUS=8  python tools/core_ratio_probe.py ...

Prints one JSON line: {"cpus": N, "copies": C, "queries": {name: sec}}.
Run once per core count and compare — tools/scale_runs_r14 keeps the
artifacts.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# VERDICT r13 item 3's top-10 data-bound operator set
DEFAULT = [
    "q_ml_tfidf",
    "q_ml_idf",
    "q_hybrid_search",
    "q_pretrain_corpus",
    "q_geo_join",
    "q_gap_fill",
    "q_ngram_top",
    "q_search_indexed",
    "q_perplexity",
    "q_dedup_chunks",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", type=str, default=",".join(DEFAULT))
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--src", type=str, default="/root/testdata/sf0.1")
    ap.add_argument("--out", type=str, default="/tmp/spark_graft_scale")
    args = ap.parse_args()

    from tools.scale_bench import build

    from bigquery_etl_spark import profile
    from bigquery_etl_spark.registry import all_queries
    from bigquery_etl_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name=f"core-ratio-{cpus}",
        cpus=cpus,
        # data-sized, not core-sized: ~sf1 shuffles are tens of MB —
        # the same value at both core counts keeps the ratio clean
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32")),
        driver_memory=os.environ.get("SPARK_DRIVER_MEMORY", "16g"),
        # Probe-scale split sizing (guide §6, r14 finding): the ~sf1
        # build's 64 files are ~1 MB each, and the DEFAULT packing
        # (128 MB budget, 4 MB open cost) folds all 64 into ~2 splits —
        # every scan-heavy stage then runs 2 tasks at ANY core count
        # and the 8-vs-32 ratio reads ~1.0 as a measurement artifact.
        # Size splits so scan stages carry >= cores tasks, exactly how
        # production sizes maxPartitionBytes to its real file sizes.
        # AQE stays ON (the production configuration under test), but
        # the advisory target is sized to the PROBE's shuffle sizes,
        # exactly like tools/scale_bench.py --zipf does: with the 64 MB
        # default, AQE coalesces every post-shuffle stage of this ~sf1
        # build to 1-8 tasks (event-log evidence: 0.6-1.2 s single-task
        # reduce stages), and the 8-vs-32-core ratio measures those
        # serial stages instead of the operators. At real scale the
        # same 64 MB advisory yields full parallelism because the data
        # is big; at probe scale 4 MB is the faithful analogue.
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "2m",
            "spark.sql.files.openCostInBytes": "131072",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
        },
    )

    marker = os.path.join(args.out, f"_built_{args.copies}")
    if not os.path.exists(marker):
        t0 = time.perf_counter()
        build(spark, args.src, args.out, args.copies)
        open(marker, "w").close()
        print(json.dumps({"phase": "build", "sec": round(time.perf_counter() - t0, 1)}))

    registry = all_queries()
    specs = [registry[n] for n in args.queries.split(",") if n in registry]
    # warm-up at the probe scale: codegen + broadcast paths compiled
    for name, err in profile.warm_up(spark, specs, args.out).items():
        print(f"WARMFAIL {name}: {err}", file=sys.stderr)

    profiler = profile.Profiler(spark)
    timings: dict[str, float] = {}
    for spec in specs:
        try:
            timings[spec.name] = round(profiler.timed_run(spec, args.out, args.runs)["wall_s"], 2)
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {spec.name}: {exc}", file=sys.stderr)
    print(
        json.dumps(
            {
                "cpus": int(cpus),
                "copies": args.copies,
                "runs": args.runs,
                "total_sec": round(sum(timings.values()), 2),
                "queries": timings,
            }
        )
    )


if __name__ == "__main__":
    main()
