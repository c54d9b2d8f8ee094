"""Distributed block-range source (SURVEY.md §2 A1+A3).

The reference splits [start, end] into ≤1000-block chunks fanned over 5
worker threads doing JSON-RPC getLogs (ref main.py:34-38, 147-155).
Spark form: ``block_chunks`` plans the ≤max_blocks_per_call chunks on
the driver, ``spark.range`` gives one row per chunk spread over at most
``fetch_parallelism`` partitions (the 5-worker pool generalized to the
cluster), and ``mapInPandas`` calls a pluggable fetcher once per row —
one provider request per chunk.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# a fetcher takes (start_block, end_block) and returns rows as dicts
RangeFetcher = Callable[[int, int], list[dict]]


def block_chunks(start: int, end: int, max_blocks: int) -> list[tuple[int, int]]:
    """[start, end] as consecutive inclusive (lo, hi) ranges of ≤max_blocks."""
    return [(lo, min(lo + max_blocks - 1, end)) for lo in range(start, end + 1, max_blocks)]


def block_range_source(
    spark: SparkSession,
    start_block: int,
    end_block: int,
    fetcher: RangeFetcher,
    schema: T.StructType,
    fetch_parallelism: int = 5,  # ref main.py:38 JOB_MAX_WORKERS
    max_blocks_per_call: int = 1000,  # ref main.py:34-35 provider cap
) -> DataFrame:
    """Fetch an event-log range as a DataFrame, distributed by chunk.

    Each row of a ``spark.range`` over the chunk list is one fetcher call,
    so an evaluation makes exactly ceil(range/max_blocks) calls whatever
    the parallelism; ``fetch_parallelism`` caps the partitions."""
    import pandas as pd

    chunks = block_chunks(start_block, end_block, max_blocks_per_call)
    cols = [f.name for f in schema.fields]

    def fetch(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            for i in pdf["id"]:
                lo, hi = chunks[int(i)]
                yield pd.DataFrame(fetcher(lo, hi), columns=cols)

    ids = spark.range(len(chunks), numPartitions=min(len(chunks), fetch_parallelism))
    return ids.mapInPandas(fetch, schema=schema)
