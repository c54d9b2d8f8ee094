"""Emulate the driver: fresh process, plain SparkSession (driver-like
defaults, NOT our session builder), import __spark_entry__, run the
t1 smoke + full t2 oracle comparison.

Usage: python tests/drive_entry.py [q_name ...]   [env SPARK_GRAFT_DRIVE_SF=<sf dir>, default sf0.01]
With query names, runs only those (the quick loop for one registry
entry); an unknown name fails. Exits nonzero on any oracle mismatch.

Set SPARK_GRAFT_DRIVE_JSON=<path> to also write a CORRECTNESS-style
artifact (per query: rows/schema/hash match + row counts + err) in the
driver's record format — CORRECTNESS_local.json covers the full
registry where the per-round driver samples 50 (VERDICT r3 item 6).
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[8]")
    .appName("driver-emulation")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as E  # noqa: E402

# t1 smoke
df = E.entry(spark)
rows = df.collect()
print(f"t1 entry(): {len(rows)} rows, schema={[f.name for f in df.schema.fields]}")
assert len(rows) > 0

# t2: every query vs oracle
from bigquery_etl_spark.oracle import compare, run_duckdb  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_DRIVE_SF", "/root/testdata/sf0.01")
JSON_OUT = os.environ.get("SPARK_GRAFT_DRIVE_JSON")
records: dict[str, dict] = {}


def _record(spark_pdf, oracle_pdf, errs=None, err=None) -> dict:
    """Driver-format record derived from compare()'s findings (same
    float tolerance the pass/fail verdict uses: 1e-8 relative)."""
    if err is not None:
        return {"rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None, "err": str(err)[:300]}
    errs = errs or []
    schema_ok = not any(
        e.startswith("columns differ") or "dtype kind differs" in e
        for e in errs
    )
    strict = False
    if schema_ok:
        from bigquery_etl_spark.oracle import canon_rows

        strict = canon_rows(spark_pdf) == canon_rows(oracle_pdf)
    return {
        "rows_match": not any(e.startswith("row count differs") for e in errs),
        "schema_match": schema_ok,
        "hash_match": schema_ok
        and not any(e.startswith("values differ") for e in errs),
        # canon equality WITHOUT the 1e-8 relative float tolerance —
        # informational: a False here with hash_match True flags a query
        # whose floats could drift a stricter driver-side value hash
        # (r4: caught q_tpch_q5's decimal-scale rounding divergence)
        "strict_values_match": strict,
        "spark_rows": len(spark_pdf),
        "oracle_rows": len(oracle_pdf),
        "err": None,
    }


qs, oracles = E.queries(), E.oracle_sql()
assert set(oracles) <= set(qs), "oracle keys must be subset of query keys"
fails = []
if sys.argv[1:]:
    fails = [(n, ["not in registry"]) for n in sys.argv[1:] if n not in qs]
    qs = {n: qs[n] for n in sys.argv[1:] if n in qs}
for name, fn in sorted(qs.items()):
    t0 = time.perf_counter()
    try:
        pdf = fn(spark, SF).toPandas()
    except Exception as exc:  # noqa: BLE001
        fails.append((name, [f"raised {exc!r}"]))
        records[name] = _record(None, None, err=repr(exc))
        print(f"FAIL {name}: raised {exc!r}")
        continue
    dt = time.perf_counter() - t0
    # The driver canonicalizes EVERY query's output (sort_values +
    # factorize over all columns) — list/ndarray/dict cells raise
    # "unhashable type" there even for rows-only queries (round-1
    # q_approx_quantile/q_freq_items). Mirror that constraint here.
    # Scan ALL rows of object-dtype columns: a mostly-NULL nested column
    # whose first array cell appears after row N would pass a prefix
    # sample but still crash the driver's hasher.
    bad_cols = [
        c
        for c in pdf.columns
        if pdf[c].dtype == object
        and pdf[c].map(lambda v: isinstance(v, (list, dict, set))
                       or type(v).__name__ == "ndarray").any()
    ]
    if bad_cols:
        fails.append((name, [f"unhashable (array/map) output columns: {bad_cols}"]))
        records[name] = _record(None, None, err=f"unhashable columns {bad_cols}")
        print(f"FAIL {name}: unhashable output columns {bad_cols}")
        continue
    if name in oracles:
        oracle_pdf = run_duckdb(oracles[name], SF)
        errs = compare(pdf, oracle_pdf)
        records[name] = _record(pdf, oracle_pdf, errs=errs)
        if errs:
            fails.append((name, errs))
        print(f"{'FAIL' if errs else 'OK  '} {name}: {len(pdf)} rows vs oracle ({dt:.2f}s)")
    else:
        records[name] = {
            "rows_match": len(pdf) >= 0, "schema_match": None,
            "hash_match": None, "spark_rows": len(pdf),
            "oracle_rows": None, "err": None,
        }
        print(f"ROWS {name}: {len(pdf)} rows ({dt:.2f}s)")
for name, errs in fails:
    print("FAILURE", name, errs)
if JSON_OUT:
    import json

    with open(JSON_OUT, "w") as f:
        json.dump(records, f, indent=1)
    print(f"wrote {JSON_OUT} ({len(records)} records)")
print("RESULT:", "FAIL" if fails else "PASS", f"({len(qs)} queries, {sum(n in oracles for n in qs)} with oracle)")
sys.exit(1 if fails else 0)
