"""Sinks (SURVEY.md §2 A9-A11): NDJSON staging + idempotent warehouse merge.

The reference stages NDJSON then bulk-loads BigQuery append-only
(ref main.py:160-185); a crash between load and cursor commit replays
the range and duplicates rows (ref §3.1). ``merge_append`` makes the
warehouse write idempotent on a key set: re-merging the same batch is a
no-op, so at-least-once replay upgrades to exactly-once output.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def write_ndjson_staging(df: DataFrame, path: str) -> None:
    """A9: newline-delimited JSON staging files — an observable contract
    of the reference (ref main.py:40-41, 153-154, SourceFormat
    NEWLINE_DELIMITED_JSON main.py:171)."""
    df.write.mode("overwrite").json(path)


def merge_append(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    keys: list[str],
) -> int:
    """A10+A12 fix: append only key-sets not already in the table.

    Plan: left_anti join the batch against the existing table's keys,
    then append. The probe reads only the ``keys`` columns, with the
    batch's schema for them (no footer-inference job). The anti-join is
    executed once: its result is materialized (eager ``localCheckpoint``)
    and both the ``count()`` and the append read that. With a
    Delta/Iceberg catalog this becomes MERGE INTO; on plain parquet the
    anti-join append gives the same idempotence as long as one writer
    runs at a time — which the reference also required (app.yaml:14-15,
    single instance).

    Partition-scale note: at 100 TB the target scan prunes to the
    batch's partition range when the table is partitioned by a key
    prefix (e.g. block_number bucket), keeping the probe O(batch).
    Returns the number of rows appended.
    """
    if os.path.isdir(path) and any(
        f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs
    ):
        key_schema = StructType([df.schema[k] for k in keys])
        existing_keys = spark.read.schema(key_schema).parquet(path)
        fresh = df.join(existing_keys, keys, "left_anti").localCheckpoint()
    else:
        fresh = df
    # A11: empty-input short-circuit (ref main.py:162-165) — an empty
    # append would still write a schema-only part file
    appended = fresh.count()
    if appended:
        fresh.write.mode("append").parquet(path)
    return appended
