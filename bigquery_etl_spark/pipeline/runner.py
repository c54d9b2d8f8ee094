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
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


@dataclass
class TickStages:
    """Seconds per stage of one tick, summed over its ranges, and the
    warehouse files its merges probed (0 for a range new to the warehouse)."""

    fetch_enrich_s: float = 0.0  # source build through the enriched checkpoint
    staging_s: float = 0.0
    merge_s: float = 0.0
    cursor_s: float = 0.0
    files_probed: int = 0


def load_range(
    spark: SparkSession,
    events: DataFrame,
    ipfs_docs: DataFrame,
    warehouse_dir: str,
    staging_dir: str,
    epoch_id: int | None = None,
    block_range: tuple[int, int] | None = None,
    stages: TickStages | None = None,
) -> tuple[int, int]:
    """Enrich, stage and merge one range of decoded events; returns the
    (listings, products) rows appended. The enriched range is materialized
    once (eager ``localCheckpoint``), so the source is read once and both
    staging writes and both merges see the same rows. Batch ticks stage to
    ``{staging_dir}/{kind}``, stream epochs to ``{staging_dir}/{kind}/{epoch_id}``.

    ``block_range`` is the inclusive (lo, hi) the events were fetched for;
    a stream epoch passes none and its non-empty range's bounds are read
    from the materialized rows with one aggregate. The merges probe only
    warehouse files that may hold a block in it. ``stages``, when given,
    accumulates this range's stage seconds and files probed."""
    stages = TickStages() if stages is None else stages
    t0 = time.perf_counter()
    enriched = enrich_with_docs(events, ipfs_docs=ipfs_docs).localCheckpoint()
    if block_range is None:
        block_range = tuple(enriched.agg(F.min("block_number"), F.max("block_number")).first())
    listings = flatten_listings(enriched)
    products = explode_products(enriched)
    epoch = "" if epoch_id is None else f"/{epoch_id}"
    t1 = time.perf_counter()

    # A9: NDJSON staging (observable contract of the reference)
    write_ndjson_staging(listings, f"{staging_dir}/marketplace{epoch}")
    write_ndjson_staging(products, f"{staging_dir}/dshop{epoch}")
    t2 = time.perf_counter()

    # A10 + A12-fix: idempotent warehouse merges
    probed: list[str] = []
    appended = (
        merge_append(
            spark, listings, f"{warehouse_dir}/marketplace_listings",
            keys=["block_number", "log_index"], block_range=block_range, probed=probed,
        ),
        merge_append(
            spark, products, f"{warehouse_dir}/dshop_products",
            keys=["block_number", "log_index", "product_id"], block_range=block_range,
            probed=probed,
        ),
    )
    stages.fetch_enrich_s += t1 - t0
    stages.staging_s += t2 - t1
    stages.merge_s += time.perf_counter() - t2
    stages.files_probed += len(probed)
    return appended


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
    last_tick: TickStages = field(default_factory=TickStages)

    def as_dict(self) -> dict:
        return {
            "uptime_sec": round(time.time() - self.started_at, 1),
            "num_marketplace_rows": self.num_marketplace_rows,
            "num_dshop_rows": self.num_dshop_rows,
            "num_ticks": self.num_ticks,
            "num_errors": self.num_errors,
            "last_error": self.last_error,
            "head_block": self.head_block,
            **asdict(self.last_tick),
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
        self.stats.last_tick = stages = TickStages()
        try:
            t = time.perf_counter()
            start_block = self.cursor.get() + 1
            stages.cursor_s += time.perf_counter() - t
            self.stats.head_block = self.head_fn()
            end_block = self.stats.head_block - self.block_lag
            if end_block < start_block:
                return False
            for lo in range(start_block, end_block + 1, self.batch_size):
                hi = min(lo + self.batch_size - 1, end_block)
                t = time.perf_counter()
                events = decode_events(self.raw_logs_source(lo, hi))
                stages.fetch_enrich_s += time.perf_counter() - t
                listings, products = load_range(
                    self.spark, events, self.ipfs_docs, self.warehouse_dir, self.staging_dir,
                    block_range=(lo, hi), stages=stages,
                )
                self.stats.num_marketplace_rows += listings
                self.stats.num_dshop_rows += products
            t = time.perf_counter()
            self.cursor.set(end_block)
            stages.cursor_s += time.perf_counter() - t
            return True
        except Exception as exc:  # noqa: BLE001 — A13 containment
            self.stats.num_errors += 1
            self.stats.last_error = repr(exc)
            return False
