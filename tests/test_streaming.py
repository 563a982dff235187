"""Streaming tiles == batch tiles; session windows == batch sessionization;
incremental checkpoint resume only processes new files."""

import pytest
from pyspark.sql import functions as F

from chronon_spark.api.types import Aggregation, GroupBy, EventSource, Operation, Query, Window
from chronon_spark.operators.analytic import session_stats
from chronon_spark.streaming.stream_groupby import (
    run_available_now,
    smallest_tail_hop_ms,
    stream_sessionize,
    stream_tile_aggregate,
)

GB = GroupBy(
    sources=(EventSource(table="unused", query=Query()),),
    key_columns=("user_id",),
    aggregations=(
        Aggregation("value", Operation.COUNT, windows=(Window.days(14),)),
        Aggregation("value", Operation.SUM, windows=(Window.days(14),)),
        Aggregation("value", Operation.MIN, windows=(Window.days(14),)),
        Aggregation("value", Operation.LAST),
    ),
    name="stream_gb",
)


def _events_batch(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id", "unix_micros(CAST(ts AS TIMESTAMP)) div 1000 AS ts", "floor(value*100 + 0.5) AS value"
    )


def test_tail_hop_sizing():
    assert smallest_tail_hop_ms(GB) == 86_400_000  # 14d window -> 1d tiles
    gb_h = GroupBy(GB.sources, ("user_id",), (Aggregation("value", Operation.SUM, windows=(Window.hours(13),)),))
    assert smallest_tail_hop_ms(gb_h) == 3_600_000
    gb_m = GroupBy(GB.sources, ("user_id",), (Aggregation("value", Operation.SUM, windows=(Window.hours(2),)),))
    assert smallest_tail_hop_ms(gb_m) == 300_000


def test_stream_tiles_equal_batch_tiles(spark, sf_dir, tmp_path):
    batch = _events_batch(spark, sf_dir)
    # file-source streaming needs a directory; re-write the table there
    src = str(tmp_path / "events_dir")
    spark.read.parquet(f"{sf_dir}/events.parquet").write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(src)
        .selectExpr("user_id", "unix_micros(CAST(ts AS TIMESTAMP)) div 1000 AS ts", "floor(value*100 + 0.5) AS value")
    )
    got = run_available_now(
        stream_tile_aggregate(stream, GB),
        str(tmp_path / "ckpt"),
        "tiles_stream",
    ).toPandas()
    exp = stream_tile_aggregate(batch, GB).toPandas()
    key = ["user_id", "tile_start"]
    got = got.sort_values(key).reset_index(drop=True)[sorted(got.columns)]
    exp = exp.sort_values(key).reset_index(drop=True)[sorted(exp.columns)]
    assert len(got) == len(exp) > 0
    assert got.equals(exp)


def test_stream_sessionize_matches_batch(spark, sf_dir, tmp_path):
    gap = 30 * 60 * 1000
    batch = _events_batch(spark, sf_dir)
    exp = (
        session_stats(batch, ["user_id"], gap)
        .drop("session_id")
        .toPandas()
        .sort_values(["user_id", "session_start_ts"])
        .reset_index(drop=True)
    )
    src = str(tmp_path / "events_dir")
    spark.read.parquet(f"{sf_dir}/events.parquet").write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(src)
        .selectExpr("user_id", "unix_micros(CAST(ts AS TIMESTAMP)) div 1000 AS ts", "floor(value*100 + 0.5) AS value")
    )
    got = (
        run_available_now(
            stream_sessionize(stream, ["user_id"], gap), str(tmp_path / "ck2"), "sess_stream"
        )
        .toPandas()
        .sort_values(["user_id", "session_start_ts"])
        .reset_index(drop=True)
    )
    assert got[exp.columns.tolist()].equals(exp)


def test_incremental_checkpoint_resume(spark, sf_dir, tmp_path):
    """New files after a restart are incorporated; old state survives the
    restart via the checkpoint."""
    ev = _events_batch(spark, sf_dir).limit(2000).cache()
    half1 = ev.where(F.col("ts") % 2 == 0)
    half2 = ev.where(F.col("ts") % 2 == 1)
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ck3")
    half1.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def drain(name):
        stream = spark.readStream.schema(schema).parquet(src)
        return run_available_now(stream_tile_aggregate(stream, GB), ckpt, name).toPandas()

    r1 = drain("inc_a")
    half2.write.mode("append").parquet(src)
    r2 = drain("inc_b")
    exp = stream_tile_aggregate(ev, GB).toPandas()
    assert r1["i_cnt_value"].sum() == half1.count()
    assert r2["i_cnt_value"].sum() == ev.count()
    m = r2.sort_values(["user_id", "tile_start"]).reset_index(drop=True)[sorted(r2.columns)]
    e = exp.sort_values(["user_id", "tile_start"]).reset_index(drop=True)[sorted(exp.columns)]
    assert m.equals(e)


def test_stateful_last_k_across_restarts(spark, sf_dir, tmp_path):
    """applyInPandasWithState LAST_K: state survives a checkpointed restart
    and the final answer equals the batch kernel's last_k."""
    import numpy as np

    from chronon_spark.api.types import AggregationPart, Operation
    from chronon_spark.kernel.sawtooth import compute_asof_features
    from chronon_spark.streaming.stateful import stream_last_k

    ev = _events_batch(spark, sf_dir).limit(1000).cache()
    half1 = ev.where(F.col("ts") % 2 == 0)
    half2 = ev.where(F.col("ts") % 2 == 1)
    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    half1.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    out_dir = str(tmp_path / "updates")

    def drain(batch_tag):
        stream = spark.readStream.schema(schema).parquet(src)

        def sink(batch_df, batch_id):
            (batch_df.withColumn("tag", F.lit(batch_tag))
             .write.mode("append").parquet(out_dir))

        q = (
            stream_last_k(stream, ["user_id"], k=3)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return (
            spark.read.parquet(out_dir)
            .where(F.col("tag") == batch_tag)
            .toPandas()
        )

    drain("a")
    half2.write.mode("append").parquet(src)
    r2 = drain("b")
    assert r2["n_events_seen"].sum() == ev.count()  # state restored, not reset

    # batch truth per key via the kernel at ts = +inf
    full = ev.toPandas()
    for uid, grp in full.groupby("user_id"):
        got = r2[r2.user_id == uid]["last_k"].iloc[0]
        feats = compute_asof_features(
            grp.rename(columns={"value": "value"}),
            np.array([2**62], dtype=np.int64),
            [AggregationPart("value", Operation.LAST_K, {"k": 3})],
        )
        exp = feats["value_last3"][0]
        assert [round(x, 6) for x in got] == [round(float(v), 6) for v in exp], uid


def test_kafka_topic_parsing():
    from chronon_spark.streaming.kafka import bootstrap_of, parse_topic

    info = parse_topic("kafka://events_topic/schema=ev/host=broker1/port=9092")
    assert info.name == "events_topic"
    assert info.message_bus == "kafka"
    assert info.params == {"schema": "ev", "host": "broker1", "port": "9092"}
    assert bootstrap_of(info) == "broker1:9092"
    # bare topic defaults to kafka bus
    assert parse_topic("plain_topic").message_bus == "kafka"
    # explicit bootstrap wins
    assert bootstrap_of(parse_topic("t/bootstrap=b:1")) == "b:1"


def test_kafka_shaped_stream_tiles_equal_batch(spark, sf_dir, tmp_path):
    """events -> JSON-encoded Kafka records (real record schema) -> stream
    decode (pure Catalyst from_json) -> tiles == batch tiles. Everything
    downstream of the broker is the production path."""
    from pyspark.sql import types as T

    from chronon_spark.streaming.kafka import (
        KAFKA_RECORD_SCHEMA,
        decode_json_stream,
        encode_kafka_records,
        file_kafka_source,
    )

    batch = _events_batch(spark, sf_dir)
    records_dir = str(tmp_path / "topic_events")
    encode_kafka_records(batch, ["user_id"], "events_topic").write.parquet(records_dir)
    # record files carry the exact Kafka source schema
    assert spark.read.parquet(records_dir).schema == KAFKA_RECORD_SCHEMA

    event_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = decode_json_stream(file_kafka_source(spark, records_dir), event_schema)
    got = run_available_now(
        stream_tile_aggregate(stream, GB),
        str(tmp_path / "kafka_ckpt"),
        "kafka_tiles",
    ).toPandas()
    exp = stream_tile_aggregate(batch, GB).toPandas()
    key = ["user_id", "tile_start"]
    got = got.sort_values(key).reset_index(drop=True)
    exp = exp.sort_values(key).reset_index(drop=True)
    assert len(got) == len(exp) > 0
    for c in exp.columns:
        assert (got[c].fillna(-1) == exp[c].fillna(-1)).all(), c


def test_kafka_stream_fails_cleanly_without_connector(spark):
    from chronon_spark.streaming.kafka import kafka_stream

    with pytest.raises(RuntimeError, match="kafka connector unavailable"):
        kafka_stream(spark, "kafka://t/host=localhost/port=9092")


def test_untiled_upsert_restart_exactly_once(spark, sf_dir, tmp_path):
    """Untiled foreachBatch KV path: process half the input, restart from
    the checkpoint with the rest, and the resolved KV state equals a full
    batch recompute — no double counting across the restart, and an idle
    re-run adds nothing (exactly-once upserts)."""
    from chronon_spark.streaming.stream_groupby import (
        read_kv_table,
        run_untiled_upsert,
    )

    ev = _events_batch(spark, sf_dir)
    # split by EVENT TIME: the second tranche must not be behind the
    # checkpointed watermark, or the engine (correctly) drops it as late
    cutoff = ev.selectExpr("percentile(ts, 0.5)").first()[0]
    ev = ev.withColumn("half", (F.col("ts") > F.lit(cutoff)).cast("int"))
    src = str(tmp_path / "untiled_src")
    kv = str(tmp_path / "kv_table")
    ck = str(tmp_path / "untiled_ck")
    keys = ["user_id", "tile_start"]

    ev.where("half = 0").drop("half").coalesce(2).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = run_untiled_upsert(stream_tile_aggregate(stream, GB), keys, kv, ck)
        q.awaitTermination()

    run_once()
    ev.where("half = 1").drop("half").coalesce(2).write.mode("append").parquet(src)
    run_once()  # restart from checkpoint: only the new files are processed
    run_once()  # idle restart: nothing new -> state unchanged

    got = read_kv_table(spark, kv, keys).toPandas()
    exp = stream_tile_aggregate(spark.read.parquet(src), GB).toPandas()
    got = got.sort_values(keys).reset_index(drop=True)
    exp = exp.sort_values(keys).reset_index(drop=True)[got.columns]
    assert len(got) == len(exp) > 0
    for c in exp.columns:
        assert (got[c].fillna(-1) == exp[c].fillna(-1)).all(), c


def test_processing_time_trigger_runs_and_stops(spark, sf_dir, tmp_path):
    """run_with_trigger starts a processing-time-triggered continuous query
    (the reference --trigger knob) that processes data and keeps running
    until stopped."""
    import time

    from chronon_spark.streaming.stream_groupby import run_with_trigger

    src = str(tmp_path / "trig_src")
    _events_batch(spark, sf_dir).limit(1000).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = run_with_trigger(
        stream_tile_aggregate(stream, GB),
        str(tmp_path / "trig_ck"),
        "trig_tiles",
        processing_time="1 seconds",
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table("trig_tiles").count() > 0:
                break
            time.sleep(1)
        assert q.isActive
        assert spark.table("trig_tiles").count() > 0
    finally:
        q.stop()


def test_stream_enrichment_equals_batch_join(spark, sf_dir, tmp_path):
    """Stream-static enrichment (JoinSourceRunner equivalent): every event
    picks up its key's feature row; result equals the batch join."""
    from chronon_spark.streaming.enrichment import enrich_stream

    ev = _events_batch(spark, sf_dir)
    src = str(tmp_path / "enrich_src")
    ev.write.parquet(src)
    feats = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.max("value").alias("max_value")
    )
    fdir = str(tmp_path / "feats")
    feats.write.parquet(fdir)

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    enriched = enrich_stream(stream, spark.read.parquet(fdir), ["user_id"])
    got = run_available_now_append(enriched, str(tmp_path / "enr_ck"), "enr_out")
    exp = ev.join(spark.read.parquet(fdir), on="user_id", how="left")
    key = ["user_id", "ts"]
    g = got.toPandas().sort_values(key).reset_index(drop=True)
    e = exp.toPandas().sort_values(key).reset_index(drop=True)[list(g.columns)]
    assert len(g) == len(e) > 0
    for c in e.columns:
        assert (g[c].fillna(-1) == e[c].fillna(-1)).all(), c


def test_enrich_with_latest_resolves_upsert_log(spark, sf_dir, tmp_path):
    from chronon_spark.streaming.enrichment import enrich_with_latest

    log = spark.createDataFrame(
        [(1, 0, 10.0), (1, 1, 11.0), (2, 0, 20.0)],
        "user_id long, version long, score double",
    )
    ev = _events_batch(spark, sf_dir).where("user_id IN (1, 2)").limit(50)
    src = str(tmp_path / "latest_src")
    ev.write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = enrich_with_latest(stream, log, ["user_id"], "version")
    got = run_available_now_append(out, str(tmp_path / "lat_ck"), "lat_out").toPandas()
    assert (got.loc[got.user_id == 1, "score"] == 11.0).all()
    assert (got.loc[got.user_id == 2, "score"] == 20.0).all()


def run_available_now_append(stream_df, checkpoint, table_name):
    """append-mode drain (stream-static joins don't aggregate)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(table_name)
