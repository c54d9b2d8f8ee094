"""Cursor store (SURVEY.md §2 A12/A17): the etl_cursor analogue.

The reference keeps a single-row Postgres table (id, block_number,
created_at, updated_at — ref main.py:239-243; migration
6278201ba186:21-27) and UPDATEs it after each successful load
(ref main.py:132-142). Here: one-row parquet versions ``{path}/v{n}``
in the ``ETL_CURSOR_SCHEMA`` columns, read and written on the driver
with pyarrow, so a cursor commit runs no Spark job. Each version is
written into a temp dir and published with one ``os.rename``: a reader
sees a whole version or none. The layout stays readable by
``spark.read.schema(ETL_CURSOR_SCHEMA).parquet(v{n})``, and versions
written by Spark's parquet writer (INT96 timestamps) are read too.

Correctness does NOT depend on the cursor being transactional with the
sink — the sinks are idempotent merges, so a crash between sink and
cursor commit only causes a harmless re-merge (the exactly-once fix for
ref main.py:209-216).
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from bigquery_etl_spark.pipeline.schemas import ETL_CURSOR_SCHEMA

_ARROW_SCHEMA = to_arrow_schema(ETL_CURSOR_SCHEMA)  # timestamps as timestamp[us, UTC]


class CursorStore:
    def __init__(self, spark: SparkSession, path: str, start_block: int = 10_014_455 - 1):
        """``spark`` is unused (the store never starts a Spark job); it stays
        in the signature for existing callers. ``path`` is a local directory.
        The default start mirrors START_BLOCK_EPOCH (ref main.py:29)."""
        self.path = path
        self.start_block = start_block

    def _versions(self) -> list[int]:
        """Every ``v{n}`` directory, complete or not, ascending."""
        if not os.path.isdir(self.path):
            return []
        return sorted(
            int(d[1:]) for d in os.listdir(self.path) if d.startswith("v") and d[1:].isdigit()
        )

    def _data_files(self, v: int) -> list[str]:
        """The version's parquet files; empty for a directory a crashed
        Spark writer left behind (only ``_temporary/``) or one removed
        by a concurrent ``set``."""
        d = f"{self.path}/v{v}"
        try:
            names = os.listdir(d)
        except FileNotFoundError:
            return []
        return [f"{d}/{n}" for n in names if n.endswith(".parquet")]

    def get(self) -> int:
        """Current high-watermark block (exclusive start of next range):
        the newest complete version."""
        for v in reversed(self._versions()):
            files = self._data_files(v)
            if files:
                return max(
                    n for f in files
                    for n in pq.read_table(f, columns=["block_number"]).column(0).to_pylist()
                )
        return self.start_block

    def set(self, block_number: int) -> None:
        """Advance the cursor (A12): write ``v{n+1}`` past every existing
        version directory, publish it by rename, then keep only it and
        the previous complete version (for crash recovery)."""
        versions = self._versions()
        next_v = (versions[-1] + 1) if versions else 0
        now = datetime.now(timezone.utc)
        row = pa.Table.from_pylist(
            [{"id": 1, "block_number": block_number, "created_at": now, "updated_at": now}],
            schema=_ARROW_SCHEMA,
        )
        tmp = f"{self.path}/.v{next_v}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)  # left by a writer that crashed
        os.makedirs(tmp)
        with open(f"{tmp}/part-00000.parquet", "wb") as f:
            pq.write_table(row, f)
            f.flush()
            os.fsync(f.fileno())  # a published version is never a torn file
        os.rename(tmp, f"{self.path}/v{next_v}")
        keep = max((v for v in versions if self._data_files(v)), default=None)
        for v in versions:
            if v != keep:
                shutil.rmtree(f"{self.path}/v{v}", ignore_errors=True)
