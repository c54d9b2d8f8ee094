"""Scale-out probe: run headline queries at ~10x sf0.1 (≈ sf1).

/root/testdata stops at sf0.1; this tool synthesizes a larger scale
factor under /tmp by unioning KEY-SHIFTED copies of sf0.1 — every key
column (and its foreign-key references) shifts by copy_index * stride,
so join fan-outs, key cardinalities, and group counts grow linearly
like a real scale factor instead of multiplying duplicate keys.
Text/doc tables shift ids but keep text, so dedup workloads see a
corpus where ~90% of docs are true duplicates — the realistic shape for
a crawl corpus.

Usage:
    python tools/scale_bench.py [--copies 10] [--queries q_agg_hash,...]

Prints one JSON line per query — {"query", "sec", "spill_mb",
"peak_mem_mb", "shuffle_write_mb", "rows"}, all from the one timed run
(bigquery_etl_spark/profile.py) — and a summary.
This is a dev/profiling tool, not part of the driver contract
(bench.py stays the per-round artifact).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# key columns per table; every column listed shifts by i * stride so
# cross-table references stay consistent (same stride for a key family).
KEY_FAMILIES: dict[str, dict[str, str]] = {
    # table -> {column: family}
    "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "customer": {"c_custkey": "cust"},
    "part": {"p_partkey": "part"},
    "supplier": {"s_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "cust"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "doc"},
    # region/nation are dimension constants — copied once, never shifted
    "region": {},
    "nation": {},
}

DEFAULT_QUERIES = [
    "q_agg_hash",
    "q_join_inner",
    "q_join_broadcast",
    "q_topk_per_group",
    "q_dedup_key",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_text_tokens",
    "q_quality_gopher",
    "q_tpch_q3",
    "q_tpch_q6",
    "q_gap_fill",
    # r3 training-data pipeline family
    "q_perplexity",
    "q_dedup_chunks",
    "q_pack_sequences",
    "q_pretrain_corpus",
    # r3 session-2 family
    "q_funnel",
    "q_funnel_windowed",
    "q_retention",
    "q_attribution",
    "q_chunk_docs",
    "q_drift_psi",
    "q_resample_ohlc",
    "q_anomaly_mad",
    "q_change_feed",
    "q_incremental_view",
]


def build(spark, src_dir: str, out_dir: str, copies: int) -> None:
    from pyspark.sql import functions as F

    from bigquery_etl_spark.sources import load

    strides: dict[str, int] = {}

    def stride_for(family: str, df, col: str) -> int:
        if family not in strides:
            hi = df.agg(F.max(col)).collect()[0][0] or 0
            strides[family] = int(hi) + 1
        return strides[family]

    for table, keys in KEY_FAMILIES.items():
        src = load(spark, src_dir, table)
        if not keys:
            src.write.mode("overwrite").parquet(f"{out_dir}/{table}.parquet")
            continue
        parts = []
        for i in range(copies):
            df = src
            for col, family in keys.items():
                s = stride_for(family, src, col)
                df = df.withColumn(col, (F.col(col) + F.lit(i * s)).cast("long"))
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        # many output files so downstream scans parallelize like a real
        # lake (the driver fixtures are single-file/single-row-group on
        # purpose). 64, not 8: each written file is ONE row group, and
        # parquet splits only at row-group boundaries — with 8 files a
        # 32-split scan stage runs 8 real + 24 empty tasks, which the
        # skew probe mis-reads as an 11x straggler ratio (r3 finding).
        out.repartition(64).write.mode("overwrite").parquet(
            f"{out_dir}/{table}.parquet"
        )


ZIPF_QUERIES = [
    # the shapes where a hot key concentrates one reducer: keyed joins,
    # keyed aggs, per-key windows, sessionization, dedup hot buckets
    "q_join_inner",
    "q_agg_hash",
    "q_topk_per_group",
    "q_win_running",
    "q_win_running_seg",  # the skew-parallel rewrite, probed alongside
    "q_sessionize",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_tpch_q3",
    "q_funnel",     # per-user sequential windows: the hot user serializes
    "q_retention",  # user-keyed agg + cohort join on the same hot key
    # r4 additions: quantile-bucketed packing under zipf ids; the
    # rewritten rep-banded dedup paths under a 30%-hot-text corpus
    "q_pack_sequences",
    "q_dedup_simhash",
    "q_embed_topk_batch",
]


def build_zipf(spark, src_dir: str, out_dir: str, copies: int, s: float, seed: int = 7) -> None:
    """Adversarially-skewed variant of the key-shifted build: join/agg
    key columns are REDRAWN from a bounded-Pareto (zipf-like, shape s)
    over the same key domain, so a handful of keys carry a large share
    of the fact rows — the 100 TB failure mode where one reducer gets
    the hot key. Documents additionally get a planted hot text (30% of
    docs share one body) so dedup sees a hot LSH bucket."""
    from pyspark.sql import functions as F

    from bigquery_etl_spark.sources import load

    if abs(s - 1.0) < 1e-9:
        # a = 1-s = 0 -> 1/a divides by zero, and Spark's non-ANSI double
        # division returns NULL — every redrawn key would silently become
        # NULL and the probe would report fast, meaningless results
        raise ValueError("--zipf 1.0 is a singular shape; use e.g. 1.2 or 0.8")

    def zipf_col(n_keys, seed_off: int):
        # inverse-CDF of bounded Pareto on [1, n_keys], shape s: heavy
        # head (rank-1 key gets ~ (1 - 2^(1-s)) of the mass at s>1)
        u = F.rand(seed + seed_off)
        a = F.lit(1.0 - s)
        return F.floor(
            F.pow(F.lit(1.0) - u * (F.lit(1.0) - F.pow(F.lit(float(n_keys)), a)), F.lit(1.0) / a)
        ).cast("long")

    build(spark, src_dir, out_dir, copies)
    # remap fact-side join/window keys to the skewed draw (dimension
    # sides keep their uniform ids — the hot key must EXIST there, and
    # it does: draws live in the same [1, max] domain)
    o_max = load(spark, out_dir, "orders").agg(F.max("o_orderkey")).collect()[0][0]
    c_max = load(spark, out_dir, "customer").agg(F.max("c_custkey")).collect()[0][0]
    li = load(spark, out_dir, "lineitem").withColumn("l_orderkey", zipf_col(o_max, 1))
    li.repartition(64).write.mode("overwrite").parquet(f"{out_dir}/__li_tmp.parquet")
    _swap(out_dir, "__li_tmp.parquet", "lineitem.parquet")
    ev = load(spark, out_dir, "events").withColumn("user_id", zipf_col(c_max, 2))
    ev.repartition(64).write.mode("overwrite").parquet(f"{out_dir}/__ev_tmp.parquet")
    _swap(out_dir, "__ev_tmp.parquet", "events.parquet")
    # orders: skew the CUSTOMER key (o_orderkey stays unique — it is the
    # lineitem join key); stresses q_win_running_seg's per-key prefix
    # sum and the q3 orders x customer join with a hot customer
    o = load(spark, out_dir, "orders").withColumn("o_custkey", zipf_col(c_max, 4))
    o.repartition(64).write.mode("overwrite").parquet(f"{out_dir}/__o_tmp.parquet")
    _swap(out_dir, "__o_tmp.parquet", "orders.parquet")
    d = load(spark, out_dir, "documents")
    hot = F.rand(seed + 3) < 0.3
    d = d.withColumn(
        "text",
        F.when(hot, F.lit("the hot duplicate body " * 40)).otherwise(F.col("text")),
    )
    d.repartition(64).write.mode("overwrite").parquet(f"{out_dir}/__doc_tmp.parquet")
    _swap(out_dir, "__doc_tmp.parquet", "documents.parquet")


def _swap(out_dir: str, tmp: str, final: str) -> None:
    import shutil

    shutil.rmtree(os.path.join(out_dir, final))
    os.rename(os.path.join(out_dir, tmp), os.path.join(out_dir, final))


def stage_skew(event_log_dir: str, since_ms: int = 0) -> list[dict]:
    """Parse Spark event logs: per stage, max/median task duration.
    The '>4x median' gate only fires when the max is also >1s absolute —
    sub-second stages are scheduling noise, not data skew. ``since_ms``
    drops tasks launched before that wall-clock ms — used to exclude the
    probe's own data-build stages (the zipf redraw is deliberately
    skew-writing; only ENGINE query stages belong in the gate)."""
    import glob
    import json as _json

    stages: dict[tuple, list[float]] = {}
    for path in glob.glob(os.path.join(event_log_dir, "*")):
        if os.path.isdir(path):
            continue
        with open(path, errors="replace") as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                try:
                    ev = _json.loads(line)
                except ValueError:
                    continue
                info = ev.get("Task Info") or {}
                if info.get("Launch Time", 0) < since_ms:
                    continue
                dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
                key = (os.path.basename(path), ev.get("Stage ID"))
                stages.setdefault(key, []).append(dur)
    out = []
    for (app, sid), durs in sorted(stages.items()):
        if len(durs) < 4:
            continue  # ratio is meaningless on tiny stages
        durs.sort()
        med = durs[len(durs) // 2]
        out.append(
            {
                "stage": sid,
                "n_tasks": len(durs),
                "median_sec": round(med, 2),
                "max_sec": round(durs[-1], 2),
                "ratio": round(durs[-1] / med, 1) if med > 0 else None,
                "skewed": bool(med > 0 and durs[-1] / med > 4 and durs[-1] > 1.0),
            }
        )
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--queries", type=str, default=",".join(DEFAULT_QUERIES))
    ap.add_argument("--src", type=str, default="/root/testdata/sf0.1")
    ap.add_argument("--out", type=str, default="/tmp/spark_graft_scale")
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument(
        "--zipf",
        type=float,
        default=None,
        metavar="S",
        help="adversarial skew probe: redraw fact join/window keys from a "
        "zipf-like bounded Pareto with shape S (try 1.2), plant a hot "
        "doc text, run the skew-sensitive headline subset, and report "
        "per-stage max/median task-time ratios from the event log",
    )
    ap.add_argument(
        "--all",
        action="store_true",
        help="run EVERY registered query (the full-registry sf1 soak, "
        "VERDICT r3 item 1)",
    )
    ap.add_argument(
        "--jsonl",
        type=str,
        default=None,
        help="append one JSON record per query to this file (the input "
        "to tools/make_scale_md.py)",
    )
    args = ap.parse_args()

    from bigquery_etl_spark import profile
    from bigquery_etl_spark.registry import all_queries
    from bigquery_etl_spark.session import get_spark

    event_dir = None
    extra_conf = {}
    if args.zipf is not None:
        args.out = os.environ.get("SPARK_GRAFT_SKEW_DIR", "/tmp/spark_graft_skew")
        args.queries = ",".join(ZIPF_QUERIES)
        event_dir = os.path.join(args.out, "_eventlog")
        import shutil

        shutil.rmtree(event_dir, ignore_errors=True)
        os.makedirs(event_dir, exist_ok=True)
        extra_conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            # single plain-text file so stage_skew can parse it directly
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # Skew-split triggers scaled to PROBE partition sizes. The
            # engine default ties the absolute trigger to the 64 MB
            # advisory target (session.py) — correct at production sizes,
            # but this probe's median shuffle partition is ~5 MB, so the
            # rank-1 zipf partition (~35 MB, 6-7x median) would sit under
            # any production absolute floor and the probe would measure a
            # straggler the real deployment never sees. Scaling both
            # knobs by the same ~8x keeps the 5x relative factor intact
            # and verifies the SPLIT MECHANISM the production config
            # relies on (measured: SortMergeJoin(skew=true) appears and
            # the skewed join drops 7.5 s -> 2.5 s).
            # advisory == the probe's MEDIAN partition size (~4-5 MB),
            # mirroring production where the 64 MB advisory equals the
            # coalesce target: skew chunks then match median-sized
            # tasks, so the max/median ratio reads ~1 instead of "one
            # 2-chunk split that is still 5x the median".
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
        }

    # local-mode JVM defaults to 1g heap — size it like a real executor
    # (the container has 128 GiB; 16g covers the widest shuffle here)
    spark = get_spark(
        app_name="scale_bench",
        shuffle_partitions=32,
        driver_memory=os.environ.get("SPARK_GRAFT_SCALE_MEM", "16g"),
        extra_conf=extra_conf,
    )
    marker = os.path.join(
        args.out, f"_built_{args.copies}" + (f"_zipf{args.zipf}" if args.zipf else "")
    )
    if args.rebuild or not os.path.exists(marker):
        t0 = time.perf_counter()
        if args.zipf is not None:
            build_zipf(spark, args.src, args.out, args.copies, args.zipf)
        else:
            build(spark, args.src, args.out, args.copies)
        open(marker, "w").close()
        print(
            json.dumps(
                {"phase": "build", "copies": args.copies, "sec": round(time.perf_counter() - t0, 1)}
            )
        )

    registry = all_queries()
    if args.all:
        args.queries = ",".join(sorted(registry))
    if args.zipf is not None:
        # Warm-up pass BEFORE the skew watermark: whole-stage-codegen
        # compilation and JIT warmup land on arbitrary tasks of the first
        # execution, which reads as a fake 10x straggler in the task-time
        # ratios (measured: a scan stage with uniform 6 KB inputs showed
        # 0.15 s vs 1.7 s bimodal tasks, cold). The gate should see
        # steady-state skew only.
        profile.warm_up(
            spark, [registry[n] for n in args.queries.split(",") if n in registry], args.out
        )  # the measured loop reports the errors
    queries_start_ms = int(time.time() * 1000)
    profiler = profile.Profiler(spark)
    total = 0.0
    results = {}
    jsonl = open(args.jsonl, "a") if args.jsonl else None
    for name in args.queries.split(","):
        spec = registry.get(name)
        if spec is None:
            continue
        try:
            layers = profiler.timed_run(spec, args.out, runs=1)
        except Exception as e:  # record and continue — one failure must not hide the rest
            rec = {"query": name, "error": str(e)[:300]}
            print(json.dumps(rec))
            if jsonl:
                jsonl.write(json.dumps({**rec, "copies": args.copies}) + "\n")
                jsonl.flush()
            continue
        sec = round(layers["wall_s"], 2)
        total += sec
        results[name] = sec
        rec = {
            "query": name,
            "sec": sec,
            "spill_mb": round(layers["spill_bytes"] / 1e6, 1),
            "peak_mem_mb": round(layers["peak_mem_bytes"] / 1e6, 1),
            "shuffle_write_mb": round(layers["shuffle_bytes"] / 1e6, 1),
            "rows": layers["rows"],
        }
        print(json.dumps(rec))
        if jsonl:
            jsonl.write(json.dumps({**rec, "copies": args.copies}) + "\n")
            jsonl.flush()
    if jsonl:
        jsonl.close()
    print(
        json.dumps(
            {"phase": "total", "copies": args.copies, "sec": round(total, 2), "queries": results}
        )
    )
    if event_dir is not None:
        spark.stop()  # flush the event log
        table = stage_skew(event_dir, since_ms=queries_start_ms)
        worst = sorted(
            (r for r in table if r["ratio"] is not None),
            key=lambda r: -r["ratio"],
        )[:10]
        skewed = [r for r in table if r["skewed"]]
        print(json.dumps({"phase": "skew", "zipf_s": args.zipf,
                          "n_stages": len(table), "n_skewed": len(skewed),
                          "worst": worst}))
        if skewed:
            print(json.dumps({"phase": "skew_FAIL", "stages": skewed}))


if __name__ == "__main__":
    main()
