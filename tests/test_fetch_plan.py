"""fetch_join's plan build and request-bounded entity route.

- building a fetch reads each source table once (one parquet schema job
  per distinct table, nothing else that reads input before collect),
- the entity route without an upload reads only the request days'
  snapshot and mutation partitions, and still equals the full
  ``temporal_entities`` recompute,
- contextual external parts null-fill request columns they cannot find,
  while a service part missing its key keeps failing,
- the hopped tail merge evaluates one sliding IR set per (input, window).
"""

import numpy as np
import pandas as pd
import pytest

from chronon_spark.api.types import (
    Aggregation,
    EntitySource,
    EventSource,
    ExternalPart,
    ExternalSource,
    GroupBy,
    Join,
    JoinPart,
    Operation,
    Query,
    Window,
)
from chronon_spark.operators.mutations import temporal_entities
from chronon_spark.plans.fetcher import fetch_join, join_codec

DAY_MS = 86_400_000
T0 = 1_704_067_200_000  # 2024-01-01 UTC
N_DAYS = 14
FIRST_REQ_DAY, LAST_REQ_DAY = 6, 9  # requests span days 6..9
BATCH_END = T0 + FIRST_REQ_DAY * DAY_MS


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """Entity versions over N_DAYS days -> day-partitioned snapshot and
    mutation tables (both carrying the row's event time ``ts``), an event
    table on the same key, and requests over four days."""
    rng = np.random.RandomState(11)
    versions = []
    for item in range(120):
        starts = [T0] + sorted(
            rng.randint(T0 + DAY_MS, T0 + N_DAYS * DAY_MS, rng.randint(0, 5)).tolist()
        )
        ends = starts[1:] + [T0 + 10_000 * DAY_MS]
        for vf, vt in zip(starts, ends):
            versions.append((item % 12, item, int(rng.randint(1, 500)), vf, vt))
    snaps, muts = [], []
    for d in range(N_DAYS):
        eod = T0 + (d + 1) * DAY_MS
        ds = pd.Timestamp(T0 + d * DAY_MS, unit="ms").strftime("%Y-%m-%d")
        snaps += [(s, p, vf, ds) for s, _, p, vf, vt in versions if vf < eod <= vt]
    by_item: dict = {}
    for v in sorted(versions, key=lambda v: v[3]):
        by_item.setdefault(v[1], []).append(v)
    for vs in by_item.values():
        for i, (s, _, p, vf, _) in enumerate(vs):
            ds = pd.Timestamp(vf, unit="ms").strftime("%Y-%m-%d")
            muts.append((s, p, vf, vf, False, ds))
            if i > 0:
                ps, _, pp, pvf, _ = vs[i - 1]
                muts.append((ps, pp, pvf, vf, True, ds))

    base = tmp_path_factory.mktemp("fetch_plan")
    paths = {k: str(base / k) for k in ("snap", "mut", "events", "upload")}
    spark.createDataFrame(
        pd.DataFrame(snaps, columns=["store_id", "price", "ts", "ds"])
    ).write.partitionBy("ds").parquet(paths["snap"])
    spark.createDataFrame(
        pd.DataFrame(muts, columns=["store_id", "price", "ts", "mutation_ts",
                                    "is_before", "ds"])
    ).write.partitionBy("ds").parquet(paths["mut"])
    ev_ts = rng.randint(T0, T0 + N_DAYS * DAY_MS, 2_000)
    spark.createDataFrame(pd.DataFrame({
        "store_id": rng.randint(0, 12, len(ev_ts)),
        "amount": rng.randint(1, 100, len(ev_ts)),
        "ts": ev_ts,
    })).write.parquet(paths["events"])
    q_ts = rng.randint(T0 + FIRST_REQ_DAY * DAY_MS,
                       T0 + (LAST_REQ_DAY + 1) * DAY_MS, 300)
    requests = pd.DataFrame({
        "store_id": rng.randint(0, 12, len(q_ts)),
        "ts": q_ts,
        "channel": rng.choice(["web", "app"], len(q_ts)),
    })
    return paths, requests


def _entity_gb(paths) -> GroupBy:
    cols = ("store_id", "price", "ts", "ds", "mutation_ts", "is_before")
    return GroupBy(
        sources=(EntitySource(
            snapshot_table=paths["snap"], mutation_table=paths["mut"],
            query=Query(selects={c: c for c in cols}, partition_column="ds"),
        ),),
        key_columns=("store_id",),
        aggregations=(
            Aggregation("price", Operation.COUNT),
            Aggregation("price", Operation.SUM, windows=(Window.days(3),)),
            Aggregation("price", Operation.AVERAGE, windows=(Window.days(3),)),
            Aggregation("price", Operation.HISTOGRAM, windows=(Window.days(3),)),
        ),
        name="stock",
    )


def _event_gb(paths) -> GroupBy:
    return GroupBy(
        sources=(EventSource(
            table=paths["events"],
            query=Query(selects={"store_id": "store_id", "amount": "amount"},
                        time_column="ts"),
        ),),
        key_columns=("store_id",),
        aggregations=(
            Aggregation("amount", Operation.SUM, windows=(Window.days(7),)),
            Aggregation("amount", Operation.COUNT),
        ),
        name="sales",
    )


def _join(paths, parts, external=()) -> Join:
    # fetch_join serves the request frame; the left source is only the
    # backfill's input and is never read here
    left = EventSource(table=paths["events"],
                       query=Query(selects={"store_id": "store_id"},
                                   time_column="ts"))
    return Join(left=left, join_parts=tuple(JoinPart(g) for g in parts),
                online_external_parts=tuple(external), name="fp")


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(["store_id", "ts"]).reset_index(drop=True)


def test_entity_fetch_prunes_to_request_days_and_equals_recompute(spark, tables):
    paths, requests = tables
    assert requests["ts"].max() - requests["ts"].min() > 2 * DAY_MS
    gb = _entity_gb(paths)
    req = spark.createDataFrame(requests[["store_id", "ts"]])
    fetched = fetch_join(spark, _join(paths, [gb]), req, BATCH_END, DAY_MS)

    # the snapshot and mutation scans carry the request-day partition bounds
    # (plan strings cut scan metadata at maxMetadataStringLength chars)
    prev_len = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        plan = fetched._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev_len)
    scans = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    first, last = (pd.Timestamp(T0 + d * DAY_MS, unit="ms").strftime("%Y-%m-%d")
                   for d in (FIRST_REQ_DAY, LAST_REQ_DAY))
    prev_first, prev_last = (
        pd.Timestamp(T0 + d * DAY_MS, unit="ms").strftime("%Y-%m-%d")
        for d in (FIRST_REQ_DAY - 1, LAST_REQ_DAY - 1)
    )
    for path, lo, hi in ((paths["snap"], prev_first, prev_last),
                         (paths["mut"], first, last)):
        mine = [ln for ln in scans if path in ln]
        assert mine and all(lo in ln and hi in ln for ln in mine), (path, mine)

    got = _sorted(fetched.toPandas())
    want = _sorted(temporal_entities(spark, gb, req).toPandas())
    assert len(got) == len(want) == len(requests.drop_duplicates(["store_id", "ts"]))
    for p in gb.unpack():
        a, b = got[f"stock_{p.output_column}"], want[p.output_column]
        if p.operation is Operation.HISTOGRAM:
            assert [x or None for x in a] == [y or None for y in b]
        else:
            assert np.allclose(a.astype(float).fillna(-1), b.astype(float).fillna(-1)), p


def test_fetch_plan_reads_each_source_table_once(spark, tables):
    """Building (not collecting) a fetch of an event part, an entity part
    and an external part launches one parquet schema job per distinct
    source table: the event table, the snapshot and the mutation table."""
    from chronon_spark.plans.upload import upload_group_by

    paths, requests = tables
    ev, ent = _event_gb(paths), _entity_gb(paths)
    upload_group_by(spark, ev, BATCH_END, DAY_MS, output_path=paths["upload"])
    upload = spark.read.parquet(paths["upload"])
    req = spark.createDataFrame(requests)
    join = _join(paths, [ev, ent], [ExternalPart(
        ExternalSource(name="contextual", value_columns=("channel",)))])

    sc = spark.sparkContext
    group = "test_fetch_plan_reads_each_source_table_once"
    sc.setJobGroup(group, group)
    try:
        fetch_join(spark, join, req, BATCH_END, DAY_MS, uploads={"sales": upload})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    # the status store evicts skipped stages first (their completion time
    # is -1), so a skipped stage can have no info left; it read nothing
    stages = [
        info
        for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
        if (info := tracker.getStageInfo(s)) is not None
    ]
    reads = [s.name for s in stages if s.name.startswith("parquet at")]
    assert len(reads) == 3, [s.name for s in stages]


def test_contextual_part_null_fills_missing_request_columns(spark, tables):
    paths, requests = tables
    ctx = ExternalSource(name="contextual", value_columns=("channel", "device"),
                         value_types={"device": "int"})
    req = spark.createDataFrame(requests)
    join = _join(paths, [], [ExternalPart(ctx)])
    out = fetch_join(spark, join, req, BATCH_END, DAY_MS)
    assert dict(out.dtypes)["ext_contextual_device"] == "int"
    # the codec types each served column as the fetch does, although the
    # join's left source lacks both context columns
    codec = join_codec(spark, join)["base_value_schema"]
    for f in codec.fields:
        assert out.schema[f.name].dataType == f.dataType, f
    got = out.toPandas()
    assert (got["ext_contextual_channel"] == got["channel"]).all()
    assert got["ext_contextual_device"].isna().all()


def test_service_part_missing_key_still_fails(spark, tables):
    paths, requests = tables
    svc = ExternalSource(name="rank", key_columns=("rid",), value_columns=("rank",))
    frame = spark.createDataFrame(pd.DataFrame({"rid": [1], "rank": [3]}))
    join = _join(paths, [], [ExternalPart(svc, key_mapping={"region": "rid"})])
    req = spark.createDataFrame(requests)
    with pytest.raises(ValueError, match="missing from the request"):
        fetch_join(spark, join, req, BATCH_END, DAY_MS,
                   external_frames={"rank": frame})
    out = fetch_join(spark, join, req, BATCH_END, DAY_MS, on_part_failure="embed",
                     external_frames={"rank": frame})
    assert "ext_rank__exception" in out.columns


def test_hopped_tails_shared_per_input_and_window(spark):
    from chronon_spark.operators.asof_hopped import _tail_cols

    windows = (Window.hours(1), Window.days(1), Window.days(7))
    gb = GroupBy(
        sources=(EventSource(table="unused", query=Query()),),
        key_columns=("k",),
        aggregations=tuple(
            Aggregation("v", op, windows=windows)
            for op in (Operation.COUNT, Operation.SUM, Operation.AVERAGE)
        ),
    )
    cols = _tail_cols(gb.unpack(), ["k"], 5 * 60_000)
    # one sliding (count, sum) pair per window, not one per part
    assert len(cols) == 2 * len(windows)
