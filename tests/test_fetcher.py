"""Offline Fetcher (serving lambda read path) == sawtooth backfill.

The reference's core serving guarantee — Fetcher.fetchJoin over
(batch FinalBatchIr ⊕ streaming rows) returns exactly what the offline
backfill computes for the same (keys, ts) — is what ConsistencyJob
measures in production (stats/ConsistencyJob.scala). Here we assert it
bitwise on the synthetic tables.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from chronon_spark.api.types import (
    Aggregation,
    EventSource,
    GroupBy,
    Join,
    JoinPart,
    Operation,
    Query,
    Window,
)
from chronon_spark.operators.asof_join import join_asof
from chronon_spark.plans.fetcher import (
    fetch_group_by,
    fetch_join,
    group_by_serving_info,
    join_codec,
)
from chronon_spark.sources.scan import millis_expr

DAY_MS = 86_400_000
BOUNDARY = 1_705_276_800_000  # 2024-01-15 midnight — mid-data batch end


def _events_source(sf_dir, extra=()):
    selects = {"user_id": "user_id", "value": "floor(value*100 + 0.5)"}
    for c in extra:
        selects[c] = c
    return EventSource(
        table=f"{sf_dir}/events.parquet",
        query=Query(selects=selects, time_column=millis_expr("ts")),
    )


def _gb(sf_dir, name="served"):
    return GroupBy(
        sources=(_events_source(sf_dir),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.SUM, windows=(Window.days(7),)),
            Aggregation("value", Operation.COUNT),  # unbounded -> collapsed row
            Aggregation("value", Operation.LAST),
            Aggregation("value", Operation.UNIQUE_COUNT, windows=(Window.days(7),)),
        ),
        name=name,
    )


def _requests(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("user_id", f"{millis_expr('ts')} AS ts")
        .where(F.col("ts") >= BOUNDARY)
    )


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(["user_id", "ts"]).reset_index(drop=True)


def _assert_frames_equal(got: pd.DataFrame, exp: pd.DataFrame):
    assert len(got) == len(exp) > 0
    assert sorted(got.columns) == sorted(exp.columns)
    for col in sorted(got.columns):
        g, e = got[col], exp[col]
        if g.dtype.kind == "f" or e.dtype.kind == "f":
            ok = (g.isna() & e.isna()) | (abs(g - e) < 1e-9)
            assert ok.all(), (col, got[~ok].head())
        else:
            assert g.equals(e), col


def test_fetch_group_by_equals_full_recompute(spark, sf_dir):
    from chronon_spark.operators.asof_hopped import group_by_asof_hopped

    gb = _gb(sf_dir)
    req = _requests(spark, sf_dir)
    served = _norm(fetch_group_by(spark, gb, req, BOUNDARY, DAY_MS).toPandas())
    full = _norm(group_by_asof_hopped(spark, gb, req, DAY_MS).toPandas())
    _assert_frames_equal(served, full)


def test_fetch_join_consistent_with_backfill(spark, sf_dir):
    """fetchJoin (key mapping + prefixes + derivations through the lambda
    path) == join_asof sawtooth backfill on the same request rows."""
    gb_a = _gb(sf_dir, name="a")
    # key-mapped part: the left exposes the key under a different name
    gb_b = GroupBy(
        sources=(_events_source(sf_dir),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.AVERAGE, windows=(Window.days(14),)),
        ),
        name="b",
    )
    left = EventSource(
        table=f"{sf_dir}/events.parquet",
        query=Query(
            selects={
                "event_id": "event_id",
                "user_id": "user_id",
                "uid_alias": "user_id",
            },
            time_column=millis_expr("ts"),
            wheres=(f"{millis_expr('ts')} >= {BOUNDARY}",),
        ),
    )
    join_conf = Join(
        left=left,
        join_parts=(
            JoinPart(gb_a),
            JoinPart(gb_b, key_mapping={"uid_alias": "user_id"}, prefix="p"),
        ),
        derivations={
            "*": "*",
            "ratio": "a_value_sum_7d / (p_b_value_average_14d + 1.0)",
        },
        name="served_join",
    )
    from chronon_spark.sources.scan import scan_source

    req = scan_source(spark, left)
    served = _norm(
        fetch_join(spark, join_conf, req, BOUNDARY, DAY_MS).toPandas()
    )
    backfill = _norm(
        join_asof(spark, join_conf, mode="sawtooth", tail_hop_ms=DAY_MS).toPandas()
    )
    _assert_frames_equal(served, backfill)


def test_fetch_uses_materialized_upload(spark, sf_dir, tmp_path):
    """Passing the written FinalBatchIr table (production wiring) gives
    the same answer as inline computation."""
    from chronon_spark.plans.upload import upload_group_by

    gb = _gb(sf_dir)
    up = upload_group_by(
        spark, gb, BOUNDARY, DAY_MS, output_path=str(tmp_path / "up")
    )
    req = _requests(spark, sf_dir)
    a = _norm(
        fetch_group_by(spark, gb, req, BOUNDARY, DAY_MS, upload=up).toPandas()
    )
    b = _norm(fetch_group_by(spark, gb, req, BOUNDARY, DAY_MS).toPandas())
    _assert_frames_equal(a, b)


def test_fetch_rejects_requests_before_batch_end(spark, sf_dir):
    gb = _gb(sf_dir)
    early = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("user_id", f"{millis_expr('ts')} AS ts")
        .where(F.col("ts") < BOUNDARY)
    )
    with pytest.raises(ValueError, match="predates batch end"):
        fetch_group_by(spark, gb, early, BOUNDARY, DAY_MS)


def test_group_by_serving_info_schemas(spark, sf_dir):
    info = group_by_serving_info(spark, _gb(sf_dir), BOUNDARY, DAY_MS)
    assert [f.name for f in info.key_schema.fields] == ["user_id"]
    assert [f.name for f in info.value_schema.fields] == [
        "value_sum_7d",
        "value_count",
        "value_last",
        "value_unique_count_7d",
    ]
    with pytest.raises(ValueError, match="hop boundary"):
        group_by_serving_info(spark, _gb(sf_dir), BOUNDARY + 1, DAY_MS)


def test_join_codec_types_derivations_via_catalyst(spark, sf_dir):
    gb = _gb(sf_dir)
    join_conf = Join(
        left=_events_source(sf_dir, extra=("event_id",)),
        join_parts=(JoinPart(gb, prefix="x"),),
        derivations={"*": "*", "dbl": "x_served_value_sum_7d * 2.0"},
        name="codec_join",
    )
    codec = join_codec(spark, join_conf)
    assert [f.name for f in codec["key_schema"].fields] == ["user_id"]
    assert [f.name for f in codec["base_value_schema"].fields] == [
        "x_served_value_sum_7d",
        "x_served_value_count",
        "x_served_value_last",
        "x_served_value_unique_count_7d",
    ]
    out = {f.name: f.dataType.simpleString() for f in codec["output_schema"].fields}
    assert out["dbl"] == "double"
    assert "x_served_value_count" in out


def test_fetch_join_groupby_derivations(spark, sf_dir):
    """GroupBy-level derivations on the SERVING path (reference
    online GroupByDerivationsTest): fetchJoin must serve the DERIVED
    part columns — same names, same values as the batch backfill —
    and join_codec's value schema must carry the derived fields."""
    gb = GroupBy(
        sources=(_events_source(sf_dir),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.SUM, windows=(Window.days(7),)),
            Aggregation("value", Operation.COUNT),
        ),
        derivations={
            "*": "*",
            "sum_per_event": "value_sum_7d / CAST(value_count AS DOUBLE)",
        },
        name="derived_gb",
    )
    left = EventSource(
        table=f"{sf_dir}/events.parquet",
        query=Query(
            selects={"event_id": "event_id", "user_id": "user_id"},
            time_column=millis_expr("ts"),
            wheres=(f"{millis_expr('ts')} >= {BOUNDARY}",),
        ),
    )
    join_conf = Join(left=left, join_parts=(JoinPart(gb),), name="derived_serve")
    from chronon_spark.sources.scan import scan_source

    req = scan_source(spark, left)
    served = fetch_join(spark, join_conf, req, BOUNDARY, DAY_MS)
    assert "derived_gb_sum_per_event" in served.columns
    backfill = join_asof(spark, join_conf, mode="sawtooth", tail_hop_ms=DAY_MS)
    _assert_frames_equal(_norm(served.toPandas()), _norm(backfill.toPandas()))
    codec = join_codec(spark, join_conf)
    names = [f.name for f in codec["base_value_schema"].fields]
    assert "derived_gb_sum_per_event" in names
    typed = {f.name: f.dataType.simpleString() for f in codec["base_value_schema"].fields}
    assert typed["derived_gb_sum_per_event"] == "double"


# ------------------------------------------- external parts (r5)


def _ext_join(sf_dir, parts):
    left = EventSource(
        table=f"{sf_dir}/events.parquet",
        query=Query(
            selects={"event_id": "event_id", "user_id": "user_id",
                     "event_type": "event_type"},
            time_column=millis_expr("ts"),
            wheres=(f"{millis_expr('ts')} >= {BOUNDARY}",),
        ),
    )
    return Join(
        left=left,
        join_parts=(JoinPart(_gb(sf_dir, name="a")),),
        online_external_parts=parts,
        name="ext_join",
    )


def test_external_part_served_alongside_groupby(spark, sf_dir):
    """A user-supplied replay frame fills the onlineExternalParts slot:
    values land under ext[_prefix]_<name>_<col> next to GroupBy features,
    and the codec types them from the declared value_types."""
    from chronon_spark.api.types import ExternalPart, ExternalSource
    from chronon_spark.sources.scan import scan_source

    src = ExternalSource(
        name="risk_score",
        key_columns=("uid",),
        value_columns=("score", "tier"),
        value_types={"score": "double", "tier": "string"},
    )
    ep = ExternalPart(src, key_mapping={"user_id": "uid"}, prefix="rt")
    join_conf = _ext_join(sf_dir, (ep,))
    users = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id"
    ).distinct()
    frame = users.select(
        F.col("user_id").alias("uid"),
        (F.col("user_id") * 0.5).alias("score"),
        F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd").alias("tier"),
    )
    req = scan_source(spark, join_conf.left)
    out = fetch_join(
        spark, join_conf, req, BOUNDARY, DAY_MS,
        external_frames={"risk_score": frame},
    ).toPandas()
    assert "ext_rt_risk_score_score" in out.columns
    assert "ext_rt_risk_score_tier" in out.columns
    assert (out["ext_rt_risk_score_score"] == out["user_id"] * 0.5).all()
    # GroupBy part still serves
    assert "a_value_count" in out.columns

    codec = join_codec(spark, join_conf)
    by_name = {f.name: f.dataType.simpleString()
               for f in codec["base_value_schema"].fields}
    assert by_name["ext_rt_risk_score_score"] == "double"
    assert by_name["ext_rt_risk_score_tier"] == "string"


def test_contextual_external_part_echoes_request(spark, sf_dir):
    from chronon_spark.api.types import ExternalPart, ExternalSource
    from chronon_spark.sources.scan import scan_source

    src = ExternalSource(name="contextual", value_columns=("event_type",))
    join_conf = _ext_join(sf_dir, (ExternalPart(src),))
    req = scan_source(spark, join_conf.left)
    out = fetch_join(spark, join_conf, req, BOUNDARY, DAY_MS).toPandas()
    assert (out["ext_contextual_event_type"] == out["event_type"]).all()


def test_external_part_failure_isolates(spark, sf_dir):
    """A broken external part (no frame registered) embeds an exception
    column under on_part_failure='embed' while healthy parts serve; the
    default raises."""
    from chronon_spark.api.types import ExternalPart, ExternalSource
    from chronon_spark.sources.scan import scan_source

    src = ExternalSource(
        name="absent_svc", key_columns=("uid",), value_columns=("x",)
    )
    ep = ExternalPart(src, key_mapping={"user_id": "uid"})
    join_conf = _ext_join(sf_dir, (ep,))
    req = scan_source(spark, join_conf.left)
    with pytest.raises(ValueError, match="absent_svc"):
        fetch_join(spark, join_conf, req, BOUNDARY, DAY_MS)
    out = fetch_join(
        spark, join_conf, req, BOUNDARY, DAY_MS, on_part_failure="embed"
    ).toPandas()
    assert "ext_absent_svc__exception" in out.columns
    assert out["ext_absent_svc__exception"].str.contains("absent_svc").all()
    assert "a_value_count" in out.columns


def test_fetch_join_serves_entity_mutation_part(spark, sf_dir, tmp_path):
    """A Join mixing an event GroupBy part and an entity-mutation
    GroupBy part serves both in one fetchJoin — the entity part rides
    the deletable-IR replay route (r5: entity serving on the join fetch
    surface). Served values == direct temporal_entities recompute."""
    import numpy as np
    import pandas as pd

    from chronon_spark.api.types import Aggregation, EntitySource, Operation, Query
    from chronon_spark.operators.mutations import temporal_entities

    # tiny deterministic versions fixture on the events' user_id key
    DAY = 86_400_000
    T0 = 1_705_104_000_000  # 2024-01-13 midnight (2 days before BOUNDARY)
    rows, muts, snaps = [], [], []
    for uid in range(40):
        v1, v2 = 100 + uid, 500 + uid
        switch = T0 + DAY + (uid % 24) * 3_600_000  # during 2024-01-14
        rows.append((uid, v1, T0, switch))
        rows.append((uid, v2, switch, T0 + 1000 * DAY))
        for d in range(4):
            ds = pd.Timestamp(T0 + d * DAY, unit="ms").strftime("%Y-%m-%d")
            eod = T0 + (d + 1) * DAY
            live = v1 if switch >= eod else v2
            snaps.append((uid, live, ds))
        ds1 = pd.Timestamp(T0, unit="ms").strftime("%Y-%m-%d")
        muts.append((uid, v1, T0, False, ds1))
        ds2 = pd.Timestamp(switch, unit="ms").strftime("%Y-%m-%d")
        muts.append((uid, v2, switch, False, ds2))
        muts.append((uid, v1, switch, True, ds2))
    snap_path = str(tmp_path / "esnap.parquet")
    mut_path = str(tmp_path / "emut.parquet")
    spark.createDataFrame(
        pd.DataFrame(snaps, columns=["user_id", "bal", "ds"])
    ).write.parquet(snap_path)
    spark.createDataFrame(
        pd.DataFrame(muts, columns=["user_id", "bal", "mutation_ts",
                                    "is_before", "ds"])
    ).write.parquet(mut_path)

    ent_gb = GroupBy(
        sources=(
            EntitySource(
                snapshot_table=snap_path,
                mutation_table=mut_path,
                query=Query(
                    selects={"user_id": "user_id", "bal": "bal", "ds": "ds",
                             "mutation_ts": "mutation_ts",
                             "is_before": "is_before"},
                    partition_column="ds",
                ),
            ),
        ),
        key_columns=("user_id",),
        aggregations=(Aggregation("bal", Operation.SUM),),
        name="balances",
    )
    join_conf = Join(
        left=EventSource(
            table=f"{sf_dir}/events.parquet",
            query=Query(
                selects={"user_id": "user_id"},
                time_column=millis_expr("ts"),
                wheres=(
                    f"{millis_expr('ts')} >= {T0 + DAY}",
                    f"{millis_expr('ts')} < {T0 + 2 * DAY}",  # day of mutations
                    "user_id < 40",
                ),
            ),
        ),
        join_parts=(JoinPart(_gb(sf_dir, name="a")), JoinPart(ent_gb)),
        name="mixed",
    )
    from chronon_spark.sources.scan import scan_source

    req = scan_source(spark, join_conf.left)
    assert req.count() > 0
    out = fetch_join(spark, join_conf, req, T0 + DAY, DAY).toPandas()
    assert "a_value_count" in out.columns and "balances_bal_sum" in out.columns
    direct = temporal_entities(
        spark, ent_gb, req.select("user_id", "ts")
    ).toPandas().rename(columns={"bal_sum": "direct_sum"})
    m = out.merge(direct, on=["user_id", "ts"])
    assert len(m) == len(out) > 0
    assert np.allclose(
        m["balances_bal_sum"].fillna(-1), m["direct_sum"].fillna(-1)
    )


def test_join_codec_types_entity_mutation_part(spark, tmp_path):
    """join_codec derives an entity-mutation part's value schema from the
    snapshot-side scan (mutation meta columns excluded)."""
    import pandas as pd

    from chronon_spark.api.types import Aggregation, EntitySource, Operation, Query

    snap = pd.DataFrame([(1, 10, "2024-01-13")], columns=["user_id", "bal", "ds"])
    mut = pd.DataFrame(
        [(1, 10, 1_705_104_000_000, False, "2024-01-13")],
        columns=["user_id", "bal", "mutation_ts", "is_before", "ds"],
    )
    sp, mp = str(tmp_path / "s.parquet"), str(tmp_path / "m.parquet")
    spark.createDataFrame(snap).write.parquet(sp)
    spark.createDataFrame(mut).write.parquet(mp)
    ent = GroupBy(
        sources=(
            EntitySource(
                snapshot_table=sp, mutation_table=mp,
                query=Query(
                    selects={"user_id": "user_id", "bal": "bal", "ds": "ds",
                             "mutation_ts": "mutation_ts",
                             "is_before": "is_before"},
                    partition_column="ds",
                ),
            ),
        ),
        key_columns=("user_id",),
        aggregations=(Aggregation("bal", Operation.SUM),),
        name="balances",
    )
    left = EventSource(
        table="/root/testdata/sf0.001/events.parquet",
        query=Query(selects={"user_id": "user_id"},
                    time_column=millis_expr("ts")),
    )
    codec = join_codec(spark, Join(left=left, join_parts=(JoinPart(ent),), name="jc"))
    names = [f.name for f in codec["base_value_schema"].fields]
    assert names == ["balances_bal_sum"]
