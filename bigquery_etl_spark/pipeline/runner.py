"""Batch micro-batch runner (SURVEY.md §2 A1-A3, A11-A15; ref
main.py:197-219 _run / 145-157 _extract re-expressed).

One ``run_once()`` = one tick of the reference's 15s loop:

    head = chain head            (pluggable head_fn; ref main.py:200-201)
    end  = head - lag            (A2 confirmation lag; ref main.py:32)
    range = (cursor, end]        (A1; ref main.py:203-207)
    for each ≤batch_size chunk:  (A3; ref main.py:34-35)
        decode → load_range: enrich (materialized once) → flatten/explode
        → NDJSON staging + idempotent warehouse merge (A9/A10/A12-fix)
    cursor.set(end)              (A12; ref main.py:216)

Errors are contained per tick: an exception leaves the cursor unmoved so
the next tick retries the same range (A13; ref main.py:217-220) — and
because the sinks are idempotent merges, the retry cannot duplicate
rows (the bug class of ref §3.1 is structurally gone).
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from bigquery_etl_spark.pipeline.cursor import CursorStore
from bigquery_etl_spark.pipeline.extract import (
    decode_events,
    enrich_with_docs,
    explode_products,
    flatten_listings,
)
from bigquery_etl_spark.pipeline.sinks import merge_append, write_ndjson_staging

BLOCK_LAG = 4  # ref main.py:32 JOB_BLOCK_LAG
BLOCK_BATCH_SIZE = 1000  # ref main.py:34-35 JOB_BLOCK_BATCH_SIZE


def load_range(
    spark: SparkSession,
    events: DataFrame,
    ipfs_docs: DataFrame,
    warehouse_dir: str,
    staging_dir: str,
    epoch_id: int | None = None,
) -> tuple[int, int]:
    """Enrich, stage and merge one range of decoded events; returns the
    (listings, products) rows appended. The enriched range is materialized
    once (eager ``localCheckpoint``), so the source is read once and both
    staging writes and both merges see the same rows. Batch ticks stage to
    ``{staging_dir}/{kind}``, stream epochs to ``{staging_dir}/{kind}/{epoch_id}``."""
    enriched = enrich_with_docs(events, ipfs_docs=ipfs_docs).localCheckpoint()
    listings = flatten_listings(enriched)
    products = explode_products(enriched)
    epoch = "" if epoch_id is None else f"/{epoch_id}"

    # A9: NDJSON staging (observable contract of the reference)
    write_ndjson_staging(listings, f"{staging_dir}/marketplace{epoch}")
    write_ndjson_staging(products, f"{staging_dir}/dshop{epoch}")

    # A10 + A12-fix: idempotent warehouse merges
    return (
        merge_append(
            spark, listings, f"{warehouse_dir}/marketplace_listings",
            keys=["block_number", "log_index"],
        ),
        merge_append(
            spark, products, f"{warehouse_dir}/dshop_products",
            keys=["block_number", "log_index", "product_id"],
        ),
    )


@dataclass
class EtlStats:
    """A15 analogue of the reference's in-memory counters (main.py:91-95)."""

    started_at: float = field(default_factory=time.time)
    num_marketplace_rows: int = 0
    num_dshop_rows: int = 0
    num_ticks: int = 0
    num_errors: int = 0
    last_error: str | None = None
    head_block: int | None = None  # last polled chain head

    def as_dict(self) -> dict:
        return {
            "uptime_sec": round(time.time() - self.started_at, 1),
            "num_marketplace_rows": self.num_marketplace_rows,
            "num_dshop_rows": self.num_dshop_rows,
            "num_ticks": self.num_ticks,
            "num_errors": self.num_errors,
            "last_error": self.last_error,
            "head_block": self.head_block,
        }


class EtlBatchRunner:
    def __init__(
        self,
        spark: SparkSession,
        raw_logs_source: Callable[[int, int], DataFrame],
        ipfs_docs: DataFrame,
        head_fn: Callable[[], int],
        warehouse_dir: str,
        staging_dir: str,
        cursor: CursorStore,
        block_lag: int = BLOCK_LAG,
        batch_size: int = BLOCK_BATCH_SIZE,
    ):
        self.spark = spark
        self.raw_logs_source = raw_logs_source
        self.ipfs_docs = ipfs_docs
        self.head_fn = head_fn
        self.warehouse_dir = warehouse_dir
        self.staging_dir = staging_dir
        self.cursor = cursor
        self.block_lag = block_lag
        self.batch_size = batch_size
        self.stats = EtlStats()

    def run_once(self) -> bool:
        """One tick. Returns False when there was nothing to do
        (empty-range short-circuit, ref main.py:203-207)."""
        self.stats.num_ticks += 1
        try:
            start_block = self.cursor.get() + 1
            self.stats.head_block = self.head_fn()
            end_block = self.stats.head_block - self.block_lag
            if end_block < start_block:
                return False
            for lo in range(start_block, end_block + 1, self.batch_size):
                hi = min(lo + self.batch_size - 1, end_block)
                events = decode_events(self.raw_logs_source(lo, hi))
                listings, products = load_range(
                    self.spark, events, self.ipfs_docs, self.warehouse_dir, self.staging_dir
                )
                self.stats.num_marketplace_rows += listings
                self.stats.num_dshop_rows += products
            self.cursor.set(end_block)
            return True
        except Exception as exc:  # noqa: BLE001 — A13 containment
            self.stats.num_errors += 1
            self.stats.last_error = repr(exc)
            return False
