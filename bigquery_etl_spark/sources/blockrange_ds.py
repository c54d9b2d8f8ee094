"""`blockrange` — a catalog-visible Python Data Source for chain event
logs (SURVEY.md §2 A1-A4 as a first-class Spark source).

``block_range_source`` (sources/incremental.py) is the library form the
batch runner calls; this module mounts the same chunk plan as a named,
catalog-visible format with typed options and a native stream reader,
through Spark 4's Python Data Source API:

    spark.dataSource.register(BlockRangeDataSource)
    spark.read.format("blockrange")
         .option("url", rpc).option("start_block", a).option("end_block", b)
         .load()                       # batch: partitioned ≤max_blocks calls
    spark.readStream.format("blockrange")
         .option("url", rpc).option("start_block", a).option("lag", 4)
         .load()                       # stream: poll head, lag-windowed batches

Batch partition planning mirrors the reference's job split (ref
main.py:34-38: ≤1000-block RPC calls, worker-pool fan-out): one
InputPartition per ≤max_blocks_per_call chunk (``block_chunks``, the
planner ``block_range_source`` uses), executed wherever the scheduler
places it — the 5-thread pool generalized to the cluster.

The stream reader implements the reference's poll loop (ref
main.py:197-216): each micro-batch covers (last_offset, head − lag];
offsets are plain block numbers, so a checkpoint restart replays from
the committed block exactly like the reference's etl_cursor — but
Spark's commit log makes the replay window explicit (readBetweenOffsets)
instead of at-least-once (the §3.1 bug).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from bigquery_etl_spark.pipeline.schemas import RAW_LOGS_SCHEMA
from bigquery_etl_spark.sources.incremental import block_chunks
from bigquery_etl_spark.sources.rpc import http_range_fetcher, _rpc_call

_COLS = [f.name for f in RAW_LOGS_SCHEMA.fields]


class _RangePartition(InputPartition):
    def __init__(self, lo: int, hi: int):
        self.lo = lo
        self.hi = hi


def _rows_for_range(url: str, lo: int, hi: int) -> Iterator[tuple]:
    for log in http_range_fetcher(url)(lo, hi):
        yield tuple(log.get(c) for c in _COLS)


class _BlockRangeBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.url = options["url"]
        self.start = int(options["start_block"])
        self.end = int(options["end_block"])
        self.max_blocks = int(options.get("max_blocks_per_call", 1000))

    def partitions(self) -> Sequence[InputPartition]:
        return [
            _RangePartition(lo, hi)
            for lo, hi in block_chunks(self.start, self.end, self.max_blocks)
        ]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        return _rows_for_range(self.url, partition.lo, partition.hi)


class _BlockRangeStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch reader: offset = last processed block number."""

    def __init__(self, options: dict):
        self.url = options["url"]
        self.start = int(options["start_block"])
        self.lag = int(options.get("lag", 4))  # ref main.py:32 JOB_BLOCK_LAG
        self.max_blocks = int(options.get("max_blocks_per_call", 1000))

    def initialOffset(self) -> dict:
        return {"block_number": self.start - 1}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        # NOTE: the engine prefetch-caches this result and replays it via
        # copy.copy(iterator) — so it must be a COPYABLE iterator over
        # materialized rows (iter(list)); a generator or a bare list both
        # fail inside the engine's cache.
        cursor = int(start["block_number"])
        head = int(_rpc_call(self.url, "eth_blockNumber", []))
        end = head - self.lag
        if end <= cursor:
            return iter([]), start
        end = min(end, cursor + self.max_blocks)  # bound batch size
        return self.readBetweenOffsets(start, {"block_number": end}), {
            "block_number": end
        }

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        lo = int(start["block_number"]) + 1
        hi = int(end["block_number"])
        return iter(list(_rows_for_range(self.url, lo, hi)))


class BlockRangeDataSource(DataSource):
    """format("blockrange"): batch + streaming chain-event source."""

    @classmethod
    def name(cls) -> str:
        return "blockrange"

    def schema(self) -> StructType:
        return RAW_LOGS_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return _BlockRangeBatchReader(self.options)

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:
        return _BlockRangeStreamReader(self.options)
