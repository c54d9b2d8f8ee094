"""Tier-A pipeline tests (SURVEY.md §5.2): golden output shapes
(ref main.py:51-81), replay idempotence (the test the reference lacked,
whose absence permits its at-least-once duplicate bug, SURVEY §3.1),
and both enrichment strategies.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from bigquery_etl_spark.pipeline.cursor import CursorStore
from bigquery_etl_spark.pipeline.extract import (
    decode_events,
    enrich_with_docs,
    explode_products,
    flatten_listings,
)
from bigquery_etl_spark.pipeline.fixtures import (
    START_BLOCK,
    fetcher_for,
    make_ipfs_docs,
    make_raw_logs,
)
from bigquery_etl_spark.pipeline.runner import EtlBatchRunner
from bigquery_etl_spark.pipeline.schemas import (
    DSHOP_PRODUCTS_SCHEMA,
    ETL_CURSOR_SCHEMA,
    MARKETPLACE_LISTINGS_SCHEMA,
)
from bigquery_etl_spark.pipeline.sinks import merge_append
from bigquery_etl_spark.pipeline.stats_server import StatsServer


@pytest.fixture()
def pipeline_inputs(spark):
    raw = make_raw_logs(spark, START_BLOCK, START_BLOCK + 19)
    docs = make_ipfs_docs(spark, raw)
    return raw, docs


def _names_types(schema):
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def test_golden_output_schemas(spark, pipeline_inputs):
    raw, docs = pipeline_inputs
    enriched = enrich_with_docs(decode_events(raw), ipfs_docs=docs)
    listings = flatten_listings(enriched)
    products = explode_products(enriched)
    assert _names_types(listings.schema) == _names_types(MARKETPLACE_LISTINGS_SCHEMA)
    assert _names_types(products.schema) == _names_types(DSHOP_PRODUCTS_SCHEMA)


def test_address_filter_and_flatten_values(spark, pipeline_inputs):
    raw, docs = pipeline_inputs
    events = decode_events(raw)
    assert events.count() == 40  # 2 marketplace events x 20 blocks; foreign dropped
    listings = flatten_listings(enrich_with_docs(events, ipfs_docs=docs)).collect()
    assert len(listings) == 40
    by_hash = {r.ipfs_hash: r for r in listings}
    doc0 = json.loads(docs.collect()[0].doc)
    h0 = docs.collect()[0].ipfs_hash
    assert by_hash[h0].price == doc0["price"]["amount"]
    assert by_hash[h0].currency == doc0["price"]["currency"]
    assert by_hash[h0].category == doc0["category"]


def test_explode_matches_doc_product_counts(spark, pipeline_inputs):
    raw, docs = pipeline_inputs
    enriched = enrich_with_docs(decode_events(raw), ipfs_docs=docs)
    products = explode_products(enriched)
    doc_rows = docs.collect()
    expected = 0
    hash_counts = {}
    for r in doc_rows:
        prods = json.loads(r.doc).get("products") or []
        hash_counts[r.ipfs_hash] = len(prods)
    for e in decode_events(raw).collect():
        expected += hash_counts[e.ipfs_hash]
    assert products.count() == expected
    # ipfs_path = hash/product_id (ref main.py:70 ipfs_path REQUIRED)
    sample = products.limit(5).collect()
    for p in sample:
        assert p.ipfs_path.endswith(p.product_id)


def test_fetcher_path_equals_broadcast_path(spark, pipeline_inputs):
    raw, docs = pipeline_inputs
    events = decode_events(raw)
    via_join = enrich_with_docs(events, ipfs_docs=docs)
    via_fetch = enrich_with_docs(events, fetcher=fetcher_for(docs))
    cols = sorted(via_join.columns)
    a = sorted(map(tuple, via_join.select(*cols).collect()))
    b = sorted(map(tuple, via_fetch.select(*cols).collect()))
    assert a == b


def test_runner_idempotent_replay(spark, pipeline_inputs, tmp_path):
    raw_all, docs = pipeline_inputs

    def source(lo, hi):
        from pyspark.sql import functions as F

        return raw_all.filter(F.col("block_number").between(lo, hi))

    def make_runner(cursor_path):
        return EtlBatchRunner(
            spark,
            raw_logs_source=source,
            ipfs_docs=docs,
            head_fn=lambda: START_BLOCK + 19 + 4,  # head such that end = +19
            warehouse_dir=str(tmp_path / "warehouse"),
            staging_dir=str(tmp_path / "staging"),
            cursor=CursorStore(spark, cursor_path, start_block=START_BLOCK - 1),
            batch_size=8,  # force multiple chunks per tick (A3)
        )

    r1 = make_runner(str(tmp_path / "cursor1"))
    assert r1.run_once() is True
    first_mk, first_ds = r1.stats.num_marketplace_rows, r1.stats.num_dshop_rows
    assert first_mk == 40 and first_ds > 0
    assert r1.cursor.get() == START_BLOCK + 19
    assert r1.run_once() is False  # nothing new (A11 short-circuit)

    # the reference's failure mode: crash after load, before cursor commit
    # -> whole range replays. Fresh cursor, same warehouse: must add 0 rows.
    r2 = make_runner(str(tmp_path / "cursor2"))
    assert r2.run_once() is True
    assert r2.stats.num_marketplace_rows == 0
    assert r2.stats.num_dshop_rows == 0

    mk = spark.read.parquet(str(tmp_path / "warehouse/marketplace_listings"))
    assert mk.count() == first_mk
    assert mk.select("block_number", "log_index").distinct().count() == first_mk


def test_runner_error_containment(spark, pipeline_inputs, tmp_path):
    raw_all, docs = pipeline_inputs

    def boom():
        raise RuntimeError("rpc down")

    r = EtlBatchRunner(
        spark,
        raw_logs_source=lambda lo, hi: raw_all,
        ipfs_docs=docs,
        head_fn=boom,
        warehouse_dir=str(tmp_path / "w"),
        staging_dir=str(tmp_path / "s"),
        cursor=CursorStore(spark, str(tmp_path / "c"), start_block=START_BLOCK - 1),
    )
    assert r.run_once() is False  # A13: contained
    assert r.stats.num_errors == 1 and "rpc down" in r.stats.last_error
    assert r.cursor.get() == START_BLOCK - 1  # cursor unmoved -> retry next tick


def _cursor_dirs(path):
    return sorted(os.listdir(path))


def test_cursor_round_trip_and_spark_readable(spark, tmp_path):
    path = str(tmp_path / "cursor")
    store = CursorStore(spark, path, start_block=99)
    assert store.get() == 99  # no version yet
    store.set(500)
    assert store.get() == 500
    store.set(600)
    assert CursorStore(spark, path).get() == 600
    row = spark.read.schema(ETL_CURSOR_SCHEMA).parquet(f"{path}/v1").collect()
    assert [(r.id, r.block_number) for r in row] == [(1, 600)]
    assert row[0].created_at is not None and row[0].updated_at is not None


def test_cursor_keeps_last_two_versions(spark, tmp_path):
    path = str(tmp_path / "cursor")
    store = CursorStore(spark, path)
    for b in range(5):
        store.set(b)
    assert _cursor_dirs(path) == ["v3", "v4"]
    assert store.get() == 4


def test_cursor_runs_no_spark_job(spark, tmp_path):
    store = CursorStore(spark, str(tmp_path / "cursor"))
    sc = spark.sparkContext
    sc.setJobGroup("cursor-no-jobs", "cursor set/get")
    try:
        store.set(7)
        assert store.get() == 7
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup("cursor-no-jobs") == []


def test_cursor_reads_spark_written_version(spark, tmp_path):
    """A deployment whose cursor was written by Spark's parquet writer
    (INT96 timestamps, ``_SUCCESS`` marker) resumes from it."""
    path = str(tmp_path / "cursor")
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        spark.range(1).select(
            F.lit(1).cast("int").alias("id"),
            F.lit(700).cast("long").alias("block_number"),
            F.current_timestamp().alias("created_at"),
            F.current_timestamp().alias("updated_at"),
        ).coalesce(1).write.parquet(f"{path}/v0")
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    store = CursorStore(spark, path)
    assert store.get() == 700
    store.set(701)
    assert store.get() == 701
    assert _cursor_dirs(path) == ["v0", "v1"]


def test_cursor_skips_version_left_by_crashed_writer(spark, tmp_path):
    """A ``v{n}`` holding only ``_temporary/`` (a writer that died mid-job)
    is not a version: ``get`` falls back to the last complete one, and the
    next ``set`` numbers past it and prunes it — the runner keeps advancing."""
    path = str(tmp_path / "cursor")
    store = CursorStore(spark, path)
    store.set(500)
    os.makedirs(f"{path}/v1/_temporary/0")
    assert store.get() == 500
    store.set(501)
    assert store.get() == 501
    assert _cursor_dirs(path) == ["v0", "v2"]


def test_merge_append_partly_overlapping_batch(spark, tmp_path):
    path = str(tmp_path / "t")
    keys = ["block_number", "log_index"]

    def batch(n):
        return spark.range(n).select(
            F.col("id").alias("block_number"),
            (F.col("id") % 2).alias("log_index"),
            F.concat(F.lit("v"), F.col("id").cast("string")).alias("payload"),
        )

    def parquet_files():
        return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)

    assert merge_append(spark, batch(4), path, keys) == 4
    assert merge_append(spark, batch(10), path, keys) == 6
    table = spark.read.parquet(path)
    assert table.count() == 10
    assert table.select(*keys).distinct().count() == 10
    files = parquet_files()
    assert merge_append(spark, batch(10), path, keys) == 0  # full replay
    assert parquet_files() == files  # A11: nothing written
    assert spark.read.parquet(path).count() == 10


def _idle_runner(spark, tmp_path, head_fn):
    """A runner whose cursor sits at 100: a head below 105 leaves nothing to
    load (end = head - lag 4 is behind the cursor), so no Spark work runs."""
    return EtlBatchRunner(
        spark,
        raw_logs_source=None,
        ipfs_docs=None,
        head_fn=head_fn,
        warehouse_dir=str(tmp_path / "w"),
        staging_dir=str(tmp_path / "s"),
        cursor=CursorStore(spark, str(tmp_path / "c"), start_block=100),
    )


def test_stats_head_block(spark, tmp_path):
    """The last polled head is recorded even when the tick has nothing to do."""
    r = _idle_runner(spark, tmp_path, lambda: 102)
    assert StatsServer(r).payload()["head_block"] is None
    assert r.run_once() is False
    assert StatsServer(r).payload()["head_block"] == 102


def test_stats_lag_blocks(spark, tmp_path):
    heads = iter([103, 106])
    r = _idle_runner(spark, tmp_path, lambda: next(heads))
    server = StatsServer(r)
    assert server.payload()["lag_blocks"] is None  # no head polled yet
    r.run_once()
    assert server.payload()["lag_blocks"] == 3
    r.cursor.set(104)
    r.run_once()  # head 106
    assert server.payload()["lag_blocks"] == 2
