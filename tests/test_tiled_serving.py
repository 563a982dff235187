"""Fully-tiled lambda serving == direct sawtooth over full history.

The reference's steady-state online topology: batch upload rows for hops
before the batch end, streamed CLOSED-tile IRs for hops since, raw
events for the LIVE hop only. Here the tiles really flow through a
streaming query (file source → stream_hop_irs → idempotent KV upsert
log → latest-wins resolution) and the merged serve must equal the
plain batch sawtooth for live-hop requests — bit-for-bit, since inputs
are integer cents.
"""

import pytest
from pyspark.sql import functions as F

from chronon_spark.api.types import (
    Aggregation,
    EventSource,
    GroupBy,
    Operation,
    Query,
    Window,
)
from chronon_spark.operators.asof_hopped import group_by_asof_hopped, hop_irs_for
from chronon_spark.plans.fetcher import fetch_group_by_tiled
from chronon_spark.plans.upload import upload_group_by
from chronon_spark.streaming.stream_groupby import (
    read_kv_table,
    run_untiled_upsert,
    stream_hop_irs,
)

DAY_MS = 86_400_000
BOUNDARY = 1_705_276_800_000  # 2024-01-15 midnight — mid-data batch end

def _gb(sf_dir):
    from chronon_spark.sources.scan import millis_expr

    src = EventSource(
        table=f"{sf_dir}/events.parquet",
        query=Query(
            selects={"user_id": "user_id", "value": "floor(value*100 + 0.5)"},
            time_column=millis_expr("ts"),
        ),
    )
    return GroupBy(
        sources=(src,),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.SUM, windows=(Window.days(7),)),
            Aggregation("value", Operation.COUNT),  # unbounded -> collapsed row
            Aggregation("value", Operation.LAST),
            Aggregation("value", Operation.UNIQUE_COUNT, windows=(Window.days(7),)),
        ),
        name="tiled_gb",
    )


def _events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id",
        "unix_micros(CAST(ts AS TIMESTAMP)) div 1000 AS ts",
        "floor(value*100 + 0.5) AS value",
    )


def _live_hop(ev) -> int:
    return int(ev.agg(F.max("ts")).first()[0]) // DAY_MS


def test_stream_hop_irs_equals_batch_hop_irs(spark, sf_dir):
    ev = _events(spark, sf_dir)
    got = (
        stream_hop_irs(ev, _gb(sf_dir), DAY_MS)
        .orderBy("user_id", "__hop")
        .toPandas()
    )
    exp = hop_irs_for(ev, _gb(sf_dir), DAY_MS).orderBy("user_id", "__hop").toPandas()
    exp = exp[got.columns]
    assert len(got) == len(exp) > 0
    for c in got.columns:
        if c.startswith("i_set"):
            assert (
                got[c].map(lambda s: tuple(sorted(s)))
                == exp[c].map(lambda s: tuple(sorted(s)))
            ).all(), c
        else:
            assert (got[c].fillna(-1) == exp[c].fillna(-1)).all(), c


def test_tiled_serve_equals_direct_sawtooth(spark, sf_dir, tmp_path):
    gb = _gb(sf_dir)
    ev = _events(spark, sf_dir)
    live_hop = _live_hop(ev)
    live_start = live_hop * DAY_MS

    # stream the closed fresh hops [BOUNDARY, live_start) through a real
    # streaming query into the idempotent KV upsert log
    closed = ev.where((F.col("ts") >= BOUNDARY) & (F.col("ts") < live_start))
    src = str(tmp_path / "src")
    kv = str(tmp_path / "kv")
    ck = str(tmp_path / "ck")
    closed.coalesce(2).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = run_untiled_upsert(
        stream_hop_irs(stream, gb, DAY_MS), ["user_id", "__hop"], kv, ck
    )
    q.awaitTermination()
    tiles = read_kv_table(spark, kv, ["user_id", "__hop"])

    upload = upload_group_by(spark, gb, BOUNDARY, DAY_MS)
    requests = ev.where(F.col("ts") >= live_start).select("user_id", "ts").distinct()
    live_events = ev.where(F.col("ts") >= live_start)

    got = fetch_group_by_tiled(
        spark, gb, requests, BOUNDARY, DAY_MS, upload, tiles, live_events
    )
    exp = group_by_asof_hopped(spark, gb, requests, DAY_MS, events_df=ev)

    cols = sorted(got.columns)
    g = got.select(cols).orderBy("user_id", "ts").toPandas()
    e = exp.select(cols).orderBy("user_id", "ts").toPandas()
    assert len(g) == len(e) > 0
    for c in cols:
        assert (g[c].fillna(-1) == e[c].fillna(-1)).all(), c


def test_tiled_serve_refuses_closed_hop_requests_and_overlap(spark, sf_dir):
    gb = _gb(sf_dir)
    ev = _events(spark, sf_dir)
    live_hop = _live_hop(ev)
    live_start = live_hop * DAY_MS
    upload = upload_group_by(spark, gb, BOUNDARY, DAY_MS)
    tiles = hop_irs_for(
        ev.where((F.col("ts") >= BOUNDARY) & (F.col("ts") < live_start)), gb, DAY_MS
    )
    live_events = ev.where(F.col("ts") >= live_start)

    stale = ev.where(F.col("ts") < live_start).select("user_id", "ts").limit(5)
    with pytest.raises(ValueError, match="closed hop"):
        fetch_group_by_tiled(
            spark, gb, stale, BOUNDARY, DAY_MS, upload, tiles, live_events
        )

    # tiles reaching into the batch range are refused (double-count guard)
    bad_tiles = hop_irs_for(ev, gb, DAY_MS)  # covers pre-boundary hops too
    reqs = ev.where(F.col("ts") >= live_start).select("user_id", "ts").limit(5)
    with pytest.raises(ValueError, match="overlaps the batch range"):
        fetch_group_by_tiled(
            spark, gb, reqs, BOUNDARY, DAY_MS, upload, bad_tiles, live_events
        )
