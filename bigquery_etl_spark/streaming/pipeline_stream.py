"""Streaming form of the Tier-A ETL (SURVEY.md §2 A1+A12-fix, B52, B53).

readStream over the raw-log directory → decode → stream-static enrich →
flatten/explode → ``foreachBatch`` dual sink (NDJSON staging + idempotent
warehouse merge — the A9+A10 two-sink pattern of ref main.py:153-154,
188-195, made exactly-once).

The checkpoint directory is the cursor (ref etl_cursor): source offsets
commit only after the batch function returns, and because the merges are
idempotent on (block_number, log_index[, product_id]), a crash between
sink and checkpoint replays without duplicating — exactly the failure
the reference's design admits (SURVEY §3.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from bigquery_etl_spark.pipeline.extract import decode_events
from bigquery_etl_spark.pipeline.runner import load_range
from bigquery_etl_spark.pipeline.schemas import RAW_LOGS_SCHEMA


def start_stream_pipeline(
    spark: SparkSession,
    raw_logs_dir: str,
    ipfs_docs: DataFrame,
    warehouse_dir: str,
    staging_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Start the streaming ETL over a raw-log DIRECTORY source; drive
    with processAllAvailable() in tests."""
    raw_stream = (
        spark.readStream.schema(RAW_LOGS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(raw_logs_dir)
    )
    return start_stream_pipeline_from(
        spark, raw_stream, ipfs_docs, warehouse_dir, staging_dir, checkpoint_dir
    )


def start_stream_pipeline_rpc(
    spark: SparkSession,
    url: str,
    start_block: int,
    ipfs_docs: DataFrame,
    warehouse_dir: str,
    staging_dir: str,
    checkpoint_dir: str,
    lag: int = 4,
) -> StreamingQuery:
    """Start the streaming ETL over the live `blockrange` RPC source —
    the reference's whole service (poll → extract → enrich → dual sink →
    cursor) as ONE streaming query: offsets ride Spark's commit log, the
    confirmation lag is the source's late-data bound, and the idempotent
    merges make replay-after-crash exactly-once."""
    from bigquery_etl_spark.sources.blockrange_ds import BlockRangeDataSource

    spark.dataSource.register(BlockRangeDataSource)
    raw_stream = (
        spark.readStream.format("blockrange")
        .option("url", url)
        .option("start_block", start_block)
        .option("lag", lag)
        .load()
    )
    return start_stream_pipeline_from(
        spark, raw_stream, ipfs_docs, warehouse_dir, staging_dir, checkpoint_dir,
        available_now=False,
    )


def start_stream_pipeline_from(
    spark: SparkSession,
    raw_stream: DataFrame,
    ipfs_docs: DataFrame,
    warehouse_dir: str,
    staging_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Attach decode → foreachBatch ``load_range`` (the batch runner's
    enrich → flatten/explode → dual sink) to any streaming raw-log
    DataFrame."""
    events = decode_events(raw_stream)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():  # A11 short-circuit
            return
        load_range(spark, batch_df, ipfs_docs, warehouse_dir, staging_dir, epoch_id)

    writer = events.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
