"""End-to-end incremental ETL against a LIVE (in-process) JSON-RPC stub
(SURVEY.md §8 gap "streaming incremental source driven by a live RPC
stub").

An http.server thread plays the Ethereum provider: eth_blockNumber
returns a mutable head, eth_getLogs returns deterministic logs (same
shape as pipeline/fixtures.py). The EtlBatchRunner polls it over real
HTTP, fetches each ≤max_blocks_per_call chunk exactly once from INSIDE
executor tasks, stages and merges what it fetched, and advances its
cursor — the reference's whole loop (ref main.py:197-219) with the
network boundary actually crossed.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigquery_etl_spark.pipeline.cursor import CursorStore
from bigquery_etl_spark.pipeline.fixtures import START_BLOCK, make_raw_logs, make_ipfs_docs
from bigquery_etl_spark.pipeline.runner import EtlBatchRunner
from bigquery_etl_spark.pipeline.schemas import RAW_LOGS_SCHEMA
from bigquery_etl_spark.sources.incremental import block_range_source
from bigquery_etl_spark.sources.rpc import http_head_fn, http_range_fetcher

from tests.rpc_stub import RpcStub as _RpcStub, start_stub


@pytest.fixture()
def rpc_url():
    server, url = start_stub()
    yield url
    server.shutdown()


def _runner(spark, tmp_path, rpc_url) -> EtlBatchRunner:
    url = rpc_url

    def source(lo: int, hi: int):
        return block_range_source(
            spark, lo, hi,
            fetcher=http_range_fetcher(url),
            schema=RAW_LOGS_SCHEMA,
            fetch_parallelism=2,
            max_blocks_per_call=10,
        )

    # docs dimension covering every hash the stub can emit
    docs = make_ipfs_docs(spark, make_raw_logs(spark, START_BLOCK, START_BLOCK + 80))
    return EtlBatchRunner(
        spark,
        raw_logs_source=source,
        ipfs_docs=docs,
        head_fn=http_head_fn(url),
        warehouse_dir=str(tmp_path / "wh"),
        staging_dir=str(tmp_path / "stage"),
        cursor=CursorStore(spark, str(tmp_path / "cursor"), start_block=START_BLOCK - 1),
        block_lag=4,
        batch_size=16,
    )


def test_live_rpc_incremental_loop(spark, tmp_path, rpc_url):
    runner = _runner(spark, tmp_path, rpc_url)

    # Tick 1: head = START+23 → end = START+19 → 20 blocks, 2 chunks of ≤16.
    _RpcStub.head = START_BLOCK + 23
    assert runner.run_once() is True
    assert runner.cursor.get() == START_BLOCK + 19
    wh = spark.read.parquet(str(tmp_path / "wh" / "marketplace_listings"))
    assert wh.count() == 20 * 2  # foreign-contract events filtered out (A4)
    # ranges of 16 + 4 blocks, chunked ≤10: 10+6, then 4 — one call each
    assert _RpcStub.n_getlogs == 3
    # each range overwrites staging: it holds exactly the last range's warehouse keys
    for kind, table, keys in (
        ("marketplace", "marketplace_listings", ["block_number", "log_index"]),
        ("dshop", "dshop_products", ["block_number", "log_index", "product_id"]),
    ):
        rows = spark.read.parquet(str(tmp_path / "wh" / table))
        staged = spark.read.schema(rows.schema).json(str(tmp_path / "stage" / kind))
        last = rows.filter(F.col("block_number").between(START_BLOCK + 16, START_BLOCK + 19))
        assert sorted(staged.select(*keys).collect()) == sorted(last.select(*keys).collect())

    # Tick 2: head unchanged → lag window empty → short-circuit, no work.
    before = _RpcStub.n_getlogs
    assert runner.run_once() is False
    assert _RpcStub.n_getlogs == before

    # Tick 3: head advances 10 → exactly the 10 new blocks land, no dupes.
    _RpcStub.head = START_BLOCK + 33
    assert runner.run_once() is True
    assert _RpcStub.n_getlogs == before + 1  # 10 blocks: one chunk, one call
    assert runner.cursor.get() == START_BLOCK + 29
    wh = spark.read.parquet(str(tmp_path / "wh" / "marketplace_listings"))
    assert wh.count() == 30 * 2
    assert wh.select("block_number", "log_index").distinct().count() == 30 * 2


def test_live_rpc_error_containment(spark, tmp_path, rpc_url):
    """Provider 500s: the tick fails, the cursor does NOT advance, and the
    next healthy tick processes the same range exactly once (A13 + the
    §3.1 at-least-once fix)."""
    runner = _runner(spark, tmp_path, rpc_url)
    _RpcStub.head = START_BLOCK + 13

    _RpcStub.fail = True
    assert runner.run_once() is False
    assert runner.stats.num_errors == 1
    assert runner.cursor.get() == START_BLOCK - 1  # unmoved

    _RpcStub.fail = False
    assert runner.run_once() is True
    assert runner.cursor.get() == START_BLOCK + 9
    wh = spark.read.parquet(str(tmp_path / "wh" / "marketplace_listings"))
    assert wh.count() == 10 * 2
