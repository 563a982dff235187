"""Streaming GroupBy: tiled (hopping-tail) partial aggregates + sessions.

Reference semantics re-expressed in Structured Streaming:

- **Tiled window agg**: the reference's Flink job emits, per (key, tile),
  a running partial-aggregate IR where tile size = the smallest tail hop of
  the GroupBy's windows (flink/.../FlinkGroupByStreamingJob.scala:125-204;
  tile sizing aggregator/.../windowing/Resolution.scala:65-86). Spark:
  ``groupBy(window(ts, hop), keys).agg(hop_ir.update_aggs)`` in update
  mode (:func:`stream_hop_irs`; :func:`stream_tile_aggregate` adds the
  tile bounds). The tiles are ``operators.hop_ir``'s MERGEABLE ``i_*``
  IRs — the shapes the batch upload, compaction and serving read merge,
  which is what makes the batch ⊕ streaming lambda merge sound
  (SawtoothOnlineAggregator.scala:84-165).
- **Watermark / late data**: bounded out-of-orderness, late rows dropped by
  the engine and observable via ``observe`` metrics
  (flink/.../FlinkJob.scala:95-121 uses 5 min / side-output counter).
- **Sessionization**: ``F.session_window(ts, gap)`` — the streaming
  equivalent of the batch gap+cumsum operator
  (chronon_spark.operators.analytic.sessionize).

All IR columns are plain Catalyst aggregates — stateful, incremental,
and restartable from the streaming checkpoint.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chronon_spark.api.types import GroupBy, tail_hop_millis
from chronon_spark.operators import hop_ir

DEFAULT_WATERMARK = "5 minutes"  # reference FlinkJob.scala:95-113


def smallest_tail_hop_ms(group_by: GroupBy) -> int:
    """Tile size = smallest tail hop across the GroupBy's windows
    (Resolution.scala:65-86); unbounded windows tile at 1 day."""
    hops = [tail_hop_millis(p.window) for p in group_by.unpack() if p.window is not None]
    return min(hops) if hops else 86_400_000


def stream_tile_aggregate(
    events: DataFrame,
    group_by: GroupBy,
    hop_ms: Optional[int] = None,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """(key, tile_start, tile_end, i_* partial IRs) from a streaming
    events DF: :func:`stream_hop_irs` at the tile size (default: the
    smallest tail hop) with the tile bounds in epoch millis.

    ``events`` needs the GroupBy's key columns, a ``ts`` epoch-millis LONG
    column, and the aggregation inputs. Works identically on a batch DF
    (used by tests to pin stream==batch tile equality).
    """
    hop = hop_ms or smallest_tail_hop_ms(group_by)
    keys = list(group_by.key_columns)
    tiles = stream_hop_irs(events, group_by, hop, watermark)
    return tiles.select(
        *keys,
        (F.col("__hop") * hop).alias("tile_start"),
        ((F.col("__hop") + 1) * hop).alias("tile_end"),
        *[c for c in tiles.columns if c.startswith("i_")],
    )


def stream_sessionize(
    events: DataFrame,
    keys: list,
    gap_ms: int,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """One row per (keys, session): start/end ts, duration, event count —
    the streaming twin of analytic.session_stats (same output columns)."""
    with_event_time = events.withColumn("__event_time", F.timestamp_millis(F.col("ts")))
    if events.isStreaming:
        with_event_time = with_event_time.withWatermark("__event_time", watermark)
    agg = with_event_time.groupBy(
        F.session_window("__event_time", f"{gap_ms} milliseconds").alias("__s"), *keys
    ).agg(
        F.min("ts").alias("session_start_ts"),
        F.max("ts").alias("session_end_ts"),
        (F.max("ts") - F.min("ts")).alias("session_duration_ms"),
        F.count(F.lit(1)).alias("session_events"),
    )
    return agg.select(
        *keys, "session_start_ts", "session_end_ts", "session_duration_ms", "session_events"
    )


def run_available_now(stream_df: DataFrame, checkpoint: str, table_name: str):
    """Drain all available input into an in-memory sink (complete mode) and
    return the result DF — the test/bench harness for streaming operators."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(table_name)


def run_with_trigger(
    stream_df: DataFrame,
    checkpoint: str,
    table_name: str,
    processing_time: str = "10 seconds",
    output_mode: str = "complete",
):
    """Start a continuously-running query on a PROCESSING-TIME trigger (the
    reference Spark streaming GroupBy's --trigger knob; Flink side:
    flink/.../window/Trigger.scala buffered-writes trigger). Returns the
    running StreamingQuery — caller owns stop()."""
    return (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=processing_time)
        .start()
    )


def run_untiled_upsert(
    stream_df: DataFrame,
    key_cols: list,
    kv_dir: str,
    checkpoint: str,
    available_now: bool = True,
    processing_time: Optional[str] = None,
):
    """Untiled path: foreachBatch upserts each micro-batch's rows into a
    file-backed KV table (reference spark/.../streaming/GroupBy.scala:44-202
    writes row IRs to the KV store; here the store is a parquet directory).

    Exactly-once despite retries: each batch writes to a directory named
    by its batchId (an idempotent overwrite on replay — the same batch
    re-executed lands in the same path), and ``read_kv_table`` resolves
    each key to its row from the HIGHEST batchId (last-writer-wins upsert
    semantics, like a KV multiPut).
    """

    def upsert(batch_df: DataFrame, batch_id: int):
        # "batch-N", not "batch_id=N": a k=v name would trigger partition
        # discovery and inject a phantom column on read
        (
            batch_df.withColumn("__batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .parquet(f"{kv_dir}/batch-{batch_id}")
        )

    writer = (
        stream_df.writeStream.foreachBatch(upsert)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
    )
    if processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    elif available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_kv_table(spark, kv_dir: str, key_cols: list) -> DataFrame:
    """Resolve the upsert log to current state: latest __batch_id wins per
    key (one window pass over the small KV table)."""
    from pyspark.sql import Window as W

    log = spark.read.option("recursiveFileLookup", "true").parquet(kv_dir)
    w = W.partitionBy(*key_cols).orderBy(F.col("__batch_id").desc())
    return (
        log.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__batch_id")
    )


def stream_hop_irs(
    events: DataFrame,
    group_by: GroupBy,
    hop_ms: int,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Streaming twin of ``asof_hopped.hop_irs_for``: (keys, __hop, i_*)
    partial IRs in EXACTLY the batch upload shape, so closed tiles from
    the stream drop straight into the lambda merge (``extra_hop_irs``)
    next to the batch FinalBatchIr rows — no conversion layer.

    Grouping is a tumbling ``window(event_time, hop)`` (watermark-bounded
    state; epoch-aligned, so ``unix_millis(start) / hop_ms`` equals the
    batch ``ts DIV hop`` index bit-for-bit). In update mode each emitted
    row is the tile's COMPLETE re-aggregated state, which is what makes
    the last-writer-wins KV upsert (``run_untiled_upsert`` keyed on
    keys + __hop) correct under late events and replays.
    """
    keys = list(group_by.key_columns)
    wet = events.withColumn("__event_time", F.timestamp_millis(F.col("ts")))
    if events.isStreaming:
        wet = wet.withWatermark("__event_time", watermark)
    agg = wet.groupBy(
        F.window("__event_time", f"{hop_ms} milliseconds").alias("__w"), *keys
    ).agg(*hop_ir.update_aggs(group_by.unpack(), frame=wet))
    return agg.select(
        *keys,
        (F.unix_millis(F.col("__w.start")) / hop_ms).cast("long").alias("__hop"),
        *[c for c in agg.columns if c.startswith("i_")],
    )
