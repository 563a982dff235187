"""StreamingStats / TopicChecker / SummaryUploader analogues
(reference streaming/StreamingStats.scala, streaming/TopicCheckerApp.scala,
stats/drift/SummaryUploader.scala)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_streaming_stats_rollup_and_publish(spark):
    from chronon_spark.streaming.stats import StreamingStats

    import time

    st = StreamingStats(publish_delay_seconds=0)  # publish every observe
    now = int(time.time() * 1000)
    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "user_id": [1, 2, 3, 4],
                "v": ["aa", "bbbb", "cc", "d"],
                "ts": [now - 100, now - 200, now - 50, now - 1000],
            }
        )
    )
    out = st.observe(batch, ["user_id"], ["v"], now_ms=now)
    assert out is not None and out["writes"] == 4
    assert out["total_value_bytes"] == len("aabbbbccd")
    assert out["avg_latency_ms"] == pytest.approx((100 + 200 + 50 + 1000) / 4)
    # DDSketch alpha=0.01: percentiles within 2% of exact
    assert out["p50_latency_ms"] == pytest.approx(100, rel=0.02)
    assert out["p99_latency_ms"] == pytest.approx(1000, rel=0.02)
    # window reset: publishing again with no writes returns None
    assert st.publish() is None


def test_streaming_stats_accumulates_across_batches(spark):
    from chronon_spark.streaming.stats import StreamingStats

    import time

    st = StreamingStats(publish_delay_seconds=3600)  # never auto-publish
    now = int(time.time() * 1000)
    b = spark.createDataFrame(
        pd.DataFrame({"user_id": [1], "v": ["xy"], "ts": [now - 10]})
    )
    assert st.observe(b, ["user_id"], ["v"], now_ms=now) is None
    assert st.observe(b, ["user_id"], ["v"], now_ms=now) is None
    out = st.publish(now_ms=now + 1)
    assert out["writes"] == 2 and out["total_value_bytes"] == 4


def test_streaming_stats_clamps_future_dated_latency(spark):
    """A future-dated event counts as 1 ms of latency in the mean, as it
    does in the latency sketch, so the mean stays within the percentiles."""
    from chronon_spark.streaming.stats import StreamingStats

    import time

    st = StreamingStats(publish_delay_seconds=0)
    now = int(time.time() * 1000)
    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "user_id": [1, 2, 3, 4],
                "v": ["a", "b", "c", "d"],
                "ts": [now - 1000, now - 1000, now - 1000, now + 1_000_000],
            }
        )
    )
    out = st.observe(batch, ["user_id"], ["v"], now_ms=now)
    assert out["avg_latency_ms"] >= 1
    assert out["avg_latency_ms"] <= out["p99_latency_ms"]
    assert out["avg_latency_ms"] == pytest.approx((3 * 1000 + 1) / 4, abs=1)


def test_topic_partitions_file_twin(spark, tmp_path):
    from chronon_spark.streaming.kafka import encode_kafka_records
    from chronon_spark.streaming.stats import topic_partitions

    ev = spark.range(100).repartition(5).selectExpr(
        "id AS user_id", "id * 1000 AS ts"
    )
    recs = encode_kafka_records(ev, ["user_id"], "events_topic")
    d = str(tmp_path / "twin")
    recs.write.parquet(d)
    n = topic_partitions("kafka://events_topic", spark, twin_dir=d)
    assert n == 5
    with pytest.raises(NotImplementedError, match="twin_dir"):
        topic_partitions("kafka://events_topic/host=h/port=9092", spark)


def test_summary_upload_and_fetch(spark, sf_dir, tmp_path):
    from chronon_spark.plans.summary import (
        fetch_summary,
        pack_summary_kv,
        summarize,
        upload_summaries,
    )

    df = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ds", F.date_format("ts", "yyyy-MM-dd")
    )
    summ = summarize(df, "ds", columns=["value", "user_id"])
    puts = pack_summary_kv(summ)
    assert dict((f.name, f.dataType.simpleString()) for f in puts.schema.fields) == {
        "keyBytes": "binary", "valueBytes": "binary", "timestamp": "bigint"
    }
    table = upload_summaries(spark, puts, "t_summary_upload")
    one = summ.limit(1).collect()[0]
    import json as _json

    key = _json.dumps(
        {"ds": one["ds"], "column": one["column"]}, separators=(",", ":")
    ).encode()
    got = fetch_summary(spark, table, key)
    assert got is not None
    val = _json.loads(bytes(got["valueBytes"]).decode())
    assert val["n_rows"] == one["n_rows"]


def test_summary_upload_schema_gate(spark):
    from chronon_spark.plans.summary import upload_summaries

    bad = spark.range(3).selectExpr("CAST(id AS STRING) AS keyBytes",
                                    "id AS valueBytes", "id AS timestamp")
    with pytest.raises(ValueError, match="keyBytes must be binary"):
        upload_summaries(spark, bad, "t_bad_upload")
    missing = spark.range(3).selectExpr("id AS x")
    with pytest.raises(ValueError, match="Missing required columns"):
        upload_summaries(spark, missing, "t_bad_upload2")
