"""Deterministic optimized-plan digests for the bench headline queries.

Runs in its OWN process on purpose: Catalyst's expression-id counter is
process-global, and at least one rewrite (RewriteDistinctAggregates'
gid/Expand branch ordering) iterates hash collections keyed by those
ids — so the same query planned after different amounts of prior
plan-building can print a semantically-identical but textually-reordered
plan. A fresh interpreter building the headline plans in a FIXED order
makes the digests reproducible; tests/test_plan_snapshots.py shells out
to this tool for both generation and verification.

It also pins numpy's OpenBLAS kernel on AVX2 hosts: OpenBLAS picks a
kernel per CPU when it loads, and q_ml_logreg's plan embeds the
coefficients of an IRLS fit whose 3x3 Newton solves run in it. On an
AVX-512 host the default SkylakeX kernel moves their last bits (intercept
24.26132117064254 vs 24.261321170639786 with the Haswell or Prescott
kernel, which the snapshots match), and so the digest.

Usage: python tools/plan_digests.py [sf_dir]   # prints one JSON object
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canonical_plan(df) -> str:
    text = df._jdf.queryExecution().optimizedPlan().toString()
    text = re.sub(r"#\d+L?", "#", text)          # expression ids
    text = re.sub(r"plan_id=\d+", "plan_id=", text)
    text = re.sub(r"cachedcount=\d+", "cachedcount=", text)
    # scratch/fixture paths: mkdtemp suffixes, commit uuids, tmp roots
    text = re.sub(r"/tmp/[^\s,\]\)]+", "/tmp/_", text)
    # per-process text-index store names (lsi_<table>_<index>_<pid> —
    # operators/text_index keys saveAsTable targets by pid): the pid
    # leaked into the digest and made q_search_* snapshots flap
    # between subprocess runs
    text = re.sub(r"\blsi_(\w+?)_\d+\b", r"lsi_\1_", text)
    text = re.sub(r"[0-9a-f]{32}", "_uuid_", text)
    # parquet file lists vary in count at different SFs — keep location
    # kind, drop the enumeration
    text = re.sub(r"InMemoryFileIndex\([^)]*\)\[[^\]]*\]", "InMemoryFileIndex[_]", text)
    text = re.sub(r"\[file:[^\]]*\]", "[file:_]", text)
    return text


def digest(df) -> str:
    return hashlib.sha256(canonical_plan(df).encode()).hexdigest()[:16]


def _pin_blas_kernel() -> None:
    """Before numpy loads: the Haswell kernel wherever the CPU can run it."""
    try:
        with open("/proc/cpuinfo") as f:
            avx2 = " avx2 " in f.read()
    except OSError:
        avx2 = False
    if avx2:
        os.environ.setdefault("OPENBLAS_CORETYPE", "Haswell")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    _pin_blas_kernel()

    import importlib.util

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(repo, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    from bigquery_etl_spark.registry import all_queries
    from bigquery_etl_spark.session import get_spark

    spark = get_spark(app_name="plan-digests", cpus="4", shuffle_partitions=4)
    registry = all_queries()
    out = {}
    for name in bench.HEADLINE:  # FIXED order — part of the determinism
        q = registry.get(name)
        if q is not None:
            out[name] = digest(q.fn(spark, sf_dir))
    print(json.dumps(out, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
