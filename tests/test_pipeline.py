"""Tier-A pipeline tests (SURVEY.md §5.2): golden output shapes
(ref main.py:51-81), replay idempotence (the test the reference lacked,
whose absence permits its at-least-once duplicate bug, SURVEY §3.1),
and both enrichment strategies.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
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
from bigquery_etl_spark.pipeline.sinks import _data_files, merge_append
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


KEYS = ["block_number", "log_index"]


def _batch(spark, lo, hi):
    """Blocks lo..hi, log_index = block % 2, in the merge tests' columns."""
    return spark.range(lo, hi + 1).select(
        F.col("id").alias("block_number"),
        (F.col("id") % 2).alias("log_index"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("payload"),
    )


def _write_rows(file, rows, **kwargs):
    """A parquet file written outside Spark, holding (block, log_index) rows."""
    os.makedirs(os.path.dirname(file), exist_ok=True)
    pq.write_table(
        pa.table({
            "block_number": pa.array([b for b, _ in rows], pa.int64()),
            "log_index": pa.array([i for _, i in rows], pa.int64()),
            "payload": [f"old{b}" for b, _ in rows],
        }),
        file, **kwargs,
    )


def _parquet_files(path):
    return sorted(os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


def test_merge_append_filters_probe_to_block_range(spark, tmp_path):
    """One warehouse file holds (10, 0) inside the range and (1, 0), the same
    log_index, outside it: the file is probed, only the in-range key collides."""
    path = str(tmp_path / "t")
    _write_rows(f"{path}/part-0.parquet", [(1, 0), (10, 0)])
    probed = []
    batch = spark.createDataFrame(
        [(10, 0, "a"), (10, 1, "b"), (11, 0, "c"), (12, 0, "d")],
        "block_number long, log_index long, payload string",
    )
    assert merge_append(spark, batch, path, KEYS, block_range=(10, 12), probed=probed) == 3
    assert probed == [f"{path}/part-0.parquet"]
    assert sorted(map(tuple, spark.read.parquet(path).select(*KEYS).collect())) == [
        (1, 0), (10, 0), (10, 1), (11, 0), (12, 0),
    ]


def test_merge_append_range_replay_appends_nothing(spark, tmp_path):
    path = str(tmp_path / "t")
    assert merge_append(spark, _batch(spark, 0, 9), path, KEYS, block_range=(0, 9)) == 10
    first = _parquet_files(path)
    assert merge_append(spark, _batch(spark, 10, 19), path, KEYS, block_range=(10, 19)) == 10
    files = _parquet_files(path)
    probed = []
    assert merge_append(spark, _batch(spark, 10, 19), path, KEYS, block_range=(10, 19), probed=probed) == 0
    assert _parquet_files(path) == files  # A11: nothing written
    assert sorted(probed) == sorted(set(files) - set(first))  # only the second merge's files
    assert spark.read.parquet(path).count() == 20


@pytest.mark.parametrize("leftover", [
    "_temporary/0/part-00000.parquet",
    "_temporary/0/task_202610180000_0001_m_000000/part-00000.parquet",  # committed task
    "_temporary/0/_temporary/attempt_202610180000_0001_m_000000_0/part-00000.parquet",
])
def test_merge_append_ignores_crashed_writer_files(spark, tmp_path, leftover):
    """A crashed writer's ``_temporary/`` part file holding the batch's keys is
    not table data (Spark does not read it): it must neither suppress the
    append nor be published by the append's job commit."""
    path = str(tmp_path / "t")
    _write_rows(f"{path}/{leftover}", [(b, b % 2) for b in range(10, 15)])
    probed = []
    assert merge_append(spark, _batch(spark, 10, 14), path, KEYS, block_range=(10, 14), probed=probed) == 5
    assert probed == []
    table = spark.read.parquet(path)
    assert table.count() == 5
    assert sorted(r.payload for r in table.collect()) == [f"v{b}" for b in range(10, 15)]


def test_merge_append_probes_file_without_statistics(spark, tmp_path):
    """A file whose footer has no block_number min/max may hold any block."""
    path = str(tmp_path / "t")
    _write_rows(f"{path}/part-0.parquet", [(10, 0), (11, 1)], write_statistics=False)
    assert merge_append(spark, _batch(spark, 10, 13), path, KEYS, block_range=(10, 13)) == 2
    assert spark.read.parquet(path).select(*KEYS).distinct().count() == 4


def test_merge_of_new_range_runs_only_count_and_write_jobs(spark, tmp_path):
    """A range the warehouse has never seen runs no key scan, broadcast or
    checkpoint: the merge starts exactly the Spark jobs of counting and
    writing the batch (a probe would add its broadcast and checkpoint jobs)."""
    path = str(tmp_path / "t")
    assert merge_append(spark, _batch(spark, 0, 9), path, KEYS, block_range=(0, 9)) == 10
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    batch = _batch(spark, 10, 19)
    plain = jobs("count-and-write", lambda: (batch.count(), batch.write.parquet(str(tmp_path / "u"))))
    probed = []
    merged = jobs(
        "merge-new-range",
        lambda: merge_append(spark, batch, path, KEYS, block_range=(10, 19), probed=probed),
    )
    assert probed == []
    assert merged == plain
    assert spark.read.parquet(path).count() == 20


@pytest.fixture(scope="module")
def tick_payloads(spark, tmp_path_factory):
    """Stats payloads of: a tick into an empty warehouse, an idle tick, a tick
    of a new range into the non-empty warehouse, and a full replay of both
    ranges (fresh cursor, same warehouse); plus the warehouse's data files."""
    tmp = tmp_path_factory.mktemp("stages")
    raw = make_raw_logs(spark, START_BLOCK, START_BLOCK + 19)
    docs = make_ipfs_docs(spark, raw)

    def runner(cursor, heads):
        return EtlBatchRunner(
            spark,
            raw_logs_source=lambda lo, hi: raw.filter(F.col("block_number").between(lo, hi)),
            ipfs_docs=docs,
            head_fn=lambda: next(heads),
            warehouse_dir=str(tmp / "w"),
            staging_dir=str(tmp / "s"),
            cursor=CursorStore(spark, str(tmp / cursor), start_block=START_BLOCK - 1),
            batch_size=10,
        )

    lag = 4
    r1 = runner("c1", iter([START_BLOCK + 9 + lag] * 2 + [START_BLOCK + 19 + lag]))
    out = {}
    for name, loaded in (("empty", True), ("idle", False), ("new_range", True)):
        assert r1.run_once() is loaded, r1.stats.last_error
        out[name] = StatsServer(r1).payload()
    r2 = runner("c2", iter([START_BLOCK + 19 + lag]))
    assert r2.run_once() is True
    out["replay"] = StatsServer(r2).payload()
    assert out["replay"]["num_marketplace_rows"] == 0
    out["files"] = _data_files(str(tmp / "w"))
    return out


@pytest.mark.parametrize("stage", ["fetch_enrich_s", "staging_s", "merge_s"])
def test_stats_range_stage_seconds(tick_payloads, stage):
    """Each range stage is timed on a loading tick and reset by an idle one."""
    assert tick_payloads["empty"][stage] > 0
    assert tick_payloads["new_range"][stage] > 0
    assert tick_payloads["idle"][stage] == 0


def test_stats_cursor_s(tick_payloads):
    """The cursor read runs on every tick, the commit only on a loading one."""
    assert tick_payloads["idle"]["cursor_s"] > 0
    assert tick_payloads["new_range"]["cursor_s"] > 0


def test_stats_files_probed(tick_payloads):
    """A range new to the warehouse probes no file, even with the warehouse
    non-empty; replaying both ranges probes each warehouse file that holds
    rows once (an empty part file has no row group and no key)."""
    assert tick_payloads["empty"]["files_probed"] == 0
    assert tick_payloads["new_range"]["files_probed"] == 0
    holding_rows = [f for f in tick_payloads["files"] if pq.read_metadata(f).num_row_groups]
    assert tick_payloads["replay"]["files_probed"] == len(holding_rows) > 0


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
