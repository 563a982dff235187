"""Temporal-entities mutation replay vs a version-interval DuckDB oracle.

Fixture generated from ground-truth entity VERSIONS (valid_from, valid_to):
snapshots and before/after mutation rows are *derived* from the versions
(the reference's DataFrameGen mutation invariant: snapshots and mutations
must be mutually consistent), and the oracle aggregates versions active at
each query ts directly — a fully independent formulation.
"""

import numpy as np
import pandas as pd
import pytest
import duckdb

from chronon_spark.api.types import (
    Aggregation,
    EntitySource,
    GroupBy,
    Operation,
    Query,
)
from chronon_spark.operators.mutations import temporal_entities

DAY_MS = 86_400_000
T0 = 1_704_067_200_000  # 2024-01-01 UTC
N_DAYS = 10
FAR = T0 + 10_000 * DAY_MS


def _derive(versions: pd.DataFrame) -> tuple:
    """Snapshots and before/after mutation rows derived from entity
    versions, so the two are mutually consistent."""
    # snapshots: state at end of each day ds
    snaps = []
    for d in range(N_DAYS):
        eod = T0 + (d + 1) * DAY_MS
        ds = pd.Timestamp(T0 + d * DAY_MS, unit="ms").strftime("%Y-%m-%d")
        live = versions[(versions.valid_from < eod) & (versions.valid_to >= eod)]
        for r in live.itertuples():
            snaps.append((r.store_id, r.item_id, r.price, int(r.valid_from), ds))
    snap_df = pd.DataFrame(
        snaps, columns=["store_id", "item_id", "price", "ts", "ds"]
    )

    # mutations: after-row per version start (except day-0 initials are also
    # after-rows on day 0), before-row for the replaced version; a row's
    # event time ts is its version's valid_from
    muts = []
    for item, gv in versions.sort_values("valid_from").groupby("item_id"):
        gvl = list(gv.itertuples())
        for i, v in enumerate(gvl):
            ds = pd.Timestamp(v.valid_from, unit="ms").strftime("%Y-%m-%d")
            muts.append(
                (v.store_id, v.item_id, v.price, int(v.valid_from),
                 int(v.valid_from), False, ds)
            )
            if i > 0:
                prev = gvl[i - 1]
                muts.append(
                    (prev.store_id, prev.item_id, prev.price,
                     int(prev.valid_from), int(v.valid_from), True, ds)
                )
    mut_df = pd.DataFrame(
        muts,
        columns=["store_id", "item_id", "price", "ts", "mutation_ts",
                 "is_before", "ds"],
    )
    return snap_df, mut_df


@pytest.fixture(scope="module")
def fixture(spark, tmp_path_factory):
    rng = np.random.RandomState(7)
    rows = []
    for item in range(200):
        store = item % 20
        n_v = rng.randint(1, 5)
        # first version starts day 0; later versions at random times in days 1..9
        starts = [T0] + sorted(
            rng.randint(T0 + DAY_MS, T0 + N_DAYS * DAY_MS, n_v - 1).tolist()
        )
        for vi, vf in enumerate(starts):
            vt = starts[vi + 1] if vi + 1 < len(starts) else FAR
            rows.append((store, item, int(rng.randint(100, 10000)), vf, vt))
    versions = pd.DataFrame(
        rows, columns=["store_id", "item_id", "price", "valid_from", "valid_to"]
    )
    snap_df, mut_df = _derive(versions)

    base = tmp_path_factory.mktemp("mut")
    snap_path = str(base / "snap.parquet")
    mut_path = str(base / "mut.parquet")
    ver_path = str(base / "versions.parquet")
    # no event-time column: the unwindowed replay needs none
    spark.createDataFrame(snap_df.drop(columns="ts")).write.parquet(snap_path)
    spark.createDataFrame(mut_df.drop(columns="ts")).write.parquet(mut_path)
    versions.to_parquet(ver_path)

    # queries: random times on days 1..9 (so a previous-day snapshot exists)
    q_ts = rng.randint(T0 + DAY_MS, T0 + N_DAYS * DAY_MS, 500)
    q = pd.DataFrame({"store_id": rng.randint(0, 20, 500), "ts": q_ts})
    return snap_path, mut_path, ver_path, q


def test_temporal_entities_vs_interval_oracle(spark, fixture):
    snap_path, mut_path, ver_path, q = fixture
    gb = GroupBy(
        sources=(
            EntitySource(
                snapshot_table=snap_path,
                mutation_table=mut_path,
                query=Query(
                    selects={
                        "store_id": "store_id",
                        "price": "price",
                        "ds": "ds",
                        "mutation_ts": "mutation_ts",
                        "is_before": "is_before",
                    },
                    partition_column="ds",
                ),
            ),
        ),
        key_columns=("store_id",),
        aggregations=(
            Aggregation("price", Operation.COUNT),
            Aggregation("price", Operation.SUM),
            Aggregation("price", Operation.AVERAGE),
        ),
        name="store_prices",
    )
    queries = spark.createDataFrame(q)
    got = (
        temporal_entities(spark, gb, queries)
        .toPandas()
        .sort_values(["store_id", "ts"])
        .reset_index(drop=True)
    )

    con = duckdb.connect()
    q_df = q  # duckdb replacement scan picks this up by name
    con.register("q_df", q_df)
    exp = con.sql(
        f"""
        WITH v AS (SELECT * FROM '{ver_path}'),
        q AS (SELECT DISTINCT store_id, ts FROM q_df)
        SELECT q.store_id, q.ts,
           count(v.price) AS price_count,
           CAST(sum(v.price) AS DOUBLE) AS price_sum,
           CAST(sum(v.price) AS DOUBLE) / count(v.price) AS price_average
        FROM q LEFT JOIN v
          ON v.store_id = q.store_id AND v.valid_from < q.ts AND q.ts <= v.valid_to
        GROUP BY q.store_id, q.ts
        ORDER BY q.store_id, q.ts
        """
    ).df()
    assert len(got) == len(exp) > 0
    assert (got["price_count"].to_numpy() == exp["price_count"].to_numpy()).all()
    assert np.allclose(got["price_sum"].fillna(-1), exp["price_sum"].fillna(-1))
    assert np.allclose(got["price_average"].fillna(-1), exp["price_average"].fillna(-1))


def test_mutation_boundary_exclusive(spark, fixture):
    """A mutation at exactly the query ts is EXCLUDED (mutation_ts < ts),
    matching the reference SawtoothMutationAggregator.lambdaAggregateIrMany
    strict inequality (point-in-time state *before* the query instant)."""
    snap_path, mut_path, ver_path, _ = fixture
    muts = pd.read_parquet(mut_path) if False else None
    m = duckdb.sql(f"SELECT * FROM '{mut_path}/*.parquet' WHERE NOT is_before AND mutation_ts > {T0 + DAY_MS} LIMIT 1").df()
    row = m.iloc[0]
    gb = GroupBy(
        sources=(
            EntitySource(
                snapshot_table=snap_path,
                mutation_table=mut_path,
                query=Query(
                    selects={
                        "store_id": "store_id",
                        "price": "price",
                        "ds": "ds",
                        "mutation_ts": "mutation_ts",
                        "is_before": "is_before",
                    },
                    partition_column="ds",
                ),
            ),
        ),
        key_columns=("store_id",),
        aggregations=(Aggregation("price", Operation.SUM),),
        name="g",
    )
    at = spark.createDataFrame(
        pd.DataFrame({"store_id": [row.store_id] * 2, "ts": [int(row.mutation_ts), int(row.mutation_ts) - 1]})
    )
    out = temporal_entities(spark, gb, at).toPandas().set_index("ts")
    con = duckdb.connect()
    for ts in out.index:
        exp = con.sql(
            f"""SELECT CAST(sum(price) AS DOUBLE) FROM '{ver_path}'
                WHERE store_id = {row.store_id} AND valid_from < {ts} AND {ts} <= valid_to"""
        ).fetchone()[0]
        assert out.loc[ts, "price_sum"] == pytest.approx(exp)


def test_non_deletable_op_rejected(spark, fixture):
    snap_path, mut_path, _, q = fixture
    gb = GroupBy(
        sources=(
            EntitySource(snapshot_table=snap_path, mutation_table=mut_path,
                         query=Query(partition_column="ds")),
        ),
        key_columns=("store_id",),
        aggregations=(Aggregation("price", Operation.MIN),),
        name="g",
    )
    with pytest.raises(NotImplementedError, match="not deletable"):
        temporal_entities(spark, gb, spark.createDataFrame(q))


def test_temporal_entities_through_join(spark, fixture):
    """EVENTS x ENTITIES TEMPORAL dispatch inside join_asof."""
    import pandas as pd
    from chronon_spark.api.types import EventSource, Join, JoinPart
    from chronon_spark.operators.asof_join import join_asof

    snap_path, mut_path, ver_path, q = fixture
    gb = GroupBy(
        sources=(
            EntitySource(
                snapshot_table=snap_path,
                mutation_table=mut_path,
                query=Query(
                    selects={"store_id": "store_id", "price": "price", "ds": "ds",
                             "mutation_ts": "mutation_ts", "is_before": "is_before"},
                    partition_column="ds",
                ),
            ),
        ),
        key_columns=("store_id",),
        aggregations=(Aggregation("price", Operation.SUM),),
        name="sp",
    )
    # left: a tiny parquet of (query_id, store_id, ts) event rows
    import tempfile, os
    d = tempfile.mkdtemp()
    left_pd = q.head(50).copy()
    left_pd["query_id"] = range(len(left_pd))
    spark.createDataFrame(left_pd).write.parquet(d + "/left.parquet")
    left = EventSource(
        table=d + "/left.parquet",
        query=Query(selects={"query_id": "query_id", "store_id": "store_id"},
                    time_column="ts"),
    )
    j = Join(left=left, join_parts=(JoinPart(gb),), name="tej")
    out = join_asof(spark, j).toPandas()
    assert len(out) == 50 and "sp_price_sum" in out.columns

    from chronon_spark.operators.mutations import temporal_entities
    direct = temporal_entities(spark, gb, spark.createDataFrame(left_pd[["store_id", "ts"]]))
    m = out.merge(direct.toPandas(), on=["store_id", "ts"])
    assert (m["sp_price_sum"].fillna(-1) == m["price_sum"].fillna(-1)).all()


def test_variance_histogram_replay_vs_interval_oracle(spark, fixture):
    """VARIANCE (signed power sums) and HISTOGRAM (zero-pruned map-count
    decrements) extend the deletable set to the full abelian-group list
    (reference SimpleAggregators.scala:279-291,
    SawtoothMutationAggregator.scala:117-133)."""
    snap_path, mut_path, ver_path, q = fixture
    gb = GroupBy(
        sources=(
            EntitySource(
                snapshot_table=snap_path,
                mutation_table=mut_path,
                query=Query(
                    selects={
                        "store_id": "store_id",
                        "price": "price",
                        "ds": "ds",
                        "mutation_ts": "mutation_ts",
                        "is_before": "is_before",
                    },
                    partition_column="ds",
                ),
            ),
        ),
        key_columns=("store_id",),
        aggregations=(
            Aggregation("price", Operation.VARIANCE),
            Aggregation("price", Operation.HISTOGRAM),
        ),
        name="store_prices_vh",
    )
    queries = spark.createDataFrame(q)
    got = (
        temporal_entities(spark, gb, queries)
        .toPandas()
        .sort_values(["store_id", "ts"])
        .reset_index(drop=True)
    )

    con = duckdb.connect()
    con.register("q_df", q)
    exp = con.sql(
        f"""
        WITH v AS (SELECT * FROM '{ver_path}'),
        q AS (SELECT DISTINCT store_id, ts FROM q_df)
        SELECT q.store_id, q.ts,
           var_pop(v.price) AS price_variance,
           count(v.price) AS n
        FROM q LEFT JOIN v
          ON v.store_id = q.store_id AND v.valid_from < q.ts AND q.ts <= v.valid_to
        GROUP BY q.store_id, q.ts
        ORDER BY q.store_id, q.ts
        """
    ).df()
    assert len(got) == len(exp) > 0
    # var_pop of a single row is 0 in both engines; empty -> null/nan
    gv = got["price_variance"].to_numpy(dtype=float)
    ev = np.where(exp["n"].to_numpy() > 0, exp["price_variance"].fillna(0.0).to_numpy(), np.nan)
    assert np.allclose(np.nan_to_num(gv, nan=-1), np.nan_to_num(ev, nan=-1), rtol=1e-9, atol=1e-6)

    # histogram: compare against exact per-query value counts from versions
    hist_exp = con.sql(
        f"""
        WITH v AS (SELECT * FROM '{ver_path}'),
        q AS (SELECT DISTINCT store_id, ts FROM q_df)
        SELECT q.store_id, q.ts, v.price, count(*) AS cnt
        FROM q JOIN v
          ON v.store_id = q.store_id AND v.valid_from < q.ts AND q.ts <= v.valid_to
        GROUP BY q.store_id, q.ts, v.price
        """
    ).df()
    exp_maps: dict = {}
    for r in hist_exp.itertuples():
        exp_maps.setdefault((r.store_id, r.ts), {})[str(r.price)] = int(r.cnt)
    checked = 0
    for r in got.itertuples():
        expected = exp_maps.get((r.store_id, r.ts))
        actual = r.price_histogram if isinstance(r.price_histogram, dict) else None
        assert actual == expected, (r.store_id, r.ts, actual, expected)
        checked += 1
    assert checked == len(got)


# ------------------------------------------------- windowed replay (r5)


@pytest.fixture(scope="module")
def wfixture(spark, fixture, tmp_path_factory):
    """Windowed variant of the fixture: snapshot and mutation rows carry
    an EVENT-time column ts (the row version's valid_from — the time the
    row last changed), which the reference's windowed mutation path
    requires (GroupBy.scala:225-231 inputDf time column)."""
    _, _, ver_path, q = fixture
    snap_df, mut_df = _derive(pd.read_parquet(ver_path))
    base = tmp_path_factory.mktemp("wmut")
    snap_path = str(base / "snap.parquet")
    mut_path = str(base / "mut.parquet")
    spark.createDataFrame(snap_df).write.parquet(snap_path)
    spark.createDataFrame(mut_df).write.parquet(mut_path)
    return snap_path, mut_path, snap_df, mut_df, q


def _w_selects():
    return {
        "store_id": "store_id",
        "price": "price",
        "ds": "ds",
        "ts": "ts",
        "mutation_ts": "mutation_ts",
        "is_before": "is_before",
    }


def _w_gb(snap_path, mut_path, aggs):
    return GroupBy(
        sources=(
            EntitySource(
                snapshot_table=snap_path,
                mutation_table=mut_path,
                query=Query(selects=_w_selects(), partition_column="ds"),
            ),
        ),
        key_columns=("store_id",),
        aggregations=aggs,
        name="wsp",
    )


def _py_windowed(snap_df, mut_df, key, qt, w_ms, hop_ms, buf_ms=2 * DAY_MS):
    """Pure-Python replay of the reference SawtoothMutationAggregator
    edges (update :88-104, mergeTailHops :152-168, updateIr :117-133):
    returns the multiset of in-window prices at query time qt."""
    be = (qt // DAY_MS) * DAY_MS
    prev_ds = pd.Timestamp(be - DAY_MS, unit="ms").strftime("%Y-%m-%d")
    q_ds = pd.Timestamp(be, unit="ms").strftime("%Y-%m-%d")
    qtail = ((qt - w_ms) // hop_ms) * hop_ms
    vals = []
    s = snap_df[(snap_df.store_id == key) & (snap_df.ds == prev_ds)]
    for r in s.itertuples():
        t = r.ts
        if not (t < be and t > be - w_ms):
            continue
        if t >= be - w_ms + buf_ms:
            vals.append(r.price)  # collapsed
        else:
            hs = (t // hop_ms) * hop_ms
            if hs >= qtail and hs < be - w_ms + buf_ms:
                vals.append(r.price)  # accepted tail hop
    mm = mut_df[(mut_df.store_id == key) & (mut_df.ds == q_ds)]
    signed = []
    for r in mm.itertuples():
        if not (be <= r.mutation_ts < qt):
            continue
        if not (qtail <= r.ts < qt):
            continue
        signed.append((-1 if r.is_before else 1, r.price))
    return vals, signed


def test_windowed_vs_python_replay(spark, wfixture):
    """7-day window (1h hops, 2d tail buffer): COUNT/SUM/AVERAGE at 500
    query points match a pure-Python replay of the reference edges."""
    from chronon_spark.api.types import Window

    snap_path, mut_path, snap_df, mut_df, q = wfixture
    W = Window.days(7)
    gb = _w_gb(
        snap_path, mut_path,
        (
            Aggregation("price", Operation.COUNT, windows=(W,)),
            Aggregation("price", Operation.SUM, windows=(W,)),
            Aggregation("price", Operation.AVERAGE, windows=(W,)),
        ),
    )
    got = (
        temporal_entities(spark, gb, spark.createDataFrame(q))
        .toPandas()
        .set_index(["store_id", "ts"])
    )
    w_ms, hop_ms = 7 * DAY_MS, 3_600_000
    checked = 0
    for (key, qt) in set(zip(q.store_id, q.ts)):
        vals, signed = _py_windowed(snap_df, mut_df, key, qt, w_ms, hop_ms)
        cnt = len(vals) + sum(sg for sg, _ in signed)
        sm = float(sum(vals) + sum(sg * v for sg, v in signed))
        row = got.loc[(key, qt)]
        assert row["price_count_7d"] == cnt, (key, qt)
        if cnt > 0:
            assert row["price_sum_7d"] == pytest.approx(sm)
            assert row["price_average_7d"] == pytest.approx(sm / cnt)
        else:
            assert pd.isna(row["price_sum_7d"]) and pd.isna(row["price_average_7d"])
        checked += 1
    assert checked >= 400


def test_huge_window_equals_unwindowed(spark, wfixture):
    """A window larger than all history + tail buffer degenerates to the
    unwindowed replay exactly (every snapshot row lands in the collapsed
    IR; every mutation's event ts precedes its query)."""
    from chronon_spark.api.types import Window

    snap_path, mut_path, _, _, q = wfixture
    queries = spark.createDataFrame(q)
    win = temporal_entities(
        spark,
        _w_gb(snap_path, mut_path,
              (Aggregation("price", Operation.SUM, windows=(Window.days(365),)),
               Aggregation("price", Operation.VARIANCE, windows=(Window.days(365),)))),
        queries,
    ).toPandas().set_index(["store_id", "ts"])
    flat = temporal_entities(
        spark,
        _w_gb(snap_path, mut_path,
              (Aggregation("price", Operation.SUM),
               Aggregation("price", Operation.VARIANCE))),
        queries,
    ).toPandas().set_index(["store_id", "ts"])
    j = win.join(flat, how="inner")
    assert len(j) == len(win) == len(flat) > 0
    assert np.allclose(
        j["price_sum_365d"].fillna(-1), j["price_sum"].fillna(-1)
    )
    assert np.allclose(
        j["price_variance_365d"].fillna(-1), j["price_variance"].fillna(-1),
        rtol=1e-9, atol=1e-6,
    )


def test_windowed_histogram_and_finalize_truncation(spark, wfixture):
    """Windowed HISTOGRAM replay matches the Python replay's value
    multiset; HISTOGRAM(k) truncates at FINALIZE (top-k counts, ties by
    value ASC) so k composes with deletion — the r4 refusal is gone."""
    from chronon_spark.api.types import Window

    snap_path, mut_path, snap_df, mut_df, q = wfixture
    W = Window.days(7)
    gb = _w_gb(
        snap_path, mut_path,
        (
            Aggregation("price", Operation.HISTOGRAM, windows=(W,)),
            Aggregation("price", Operation.HISTOGRAM, arg_map={"k": 3}),
        ),
    )
    got = (
        temporal_entities(spark, gb, spark.createDataFrame(q.head(200)))
        .toPandas()
        .set_index(["store_id", "ts"])
    )
    w_ms, hop_ms = 7 * DAY_MS, 3_600_000
    from collections import Counter

    for (key, qt) in set(zip(q.head(200).store_id, q.head(200).ts)):
        vals, signed = _py_windowed(snap_df, mut_df, key, qt, w_ms, hop_ms)
        c = Counter(str(v) for v in vals)
        for sg, v in signed:
            c[str(v)] += sg
        expect = {k2: n for k2, n in c.items() if n > 0}
        row = got.loc[(key, qt)]
        actual = row["price_histogram_7d"]
        actual = dict(actual) if isinstance(actual, dict) else (actual or None)
        assert (actual or None) == (expect or None), (key, qt)
        # truncated unwindowed histogram: top-3 of the full replay
        full = row["price_histogram"]
        if isinstance(full, dict) and full:
            assert len(full) <= 3


def test_windowed_requires_event_time(spark, fixture):
    """Windowed parts over a source without an event-time column raise a
    typed error (the original fixture's scans have no ts)."""
    from chronon_spark.api.types import Window

    snap_path, mut_path, _, q = fixture
    gb = GroupBy(
        sources=(
            EntitySource(
                snapshot_table=snap_path,
                mutation_table=mut_path,
                query=Query(
                    selects={
                        "store_id": "store_id",
                        "price": "price",
                        "ds": "ds",
                        "mutation_ts": "mutation_ts",
                        "is_before": "is_before",
                    },
                    partition_column="ds",
                ),
            ),
        ),
        key_columns=("store_id",),
        aggregations=(
            Aggregation("price", Operation.SUM, windows=(Window.days(7),)),
        ),
        name="g",
    )
    with pytest.raises(ValueError, match="event-time"):
        temporal_entities(spark, gb, spark.createDataFrame(q))


# ------------------------------------------- entity serving path (r5)


def test_entity_upload_fetch_equals_recompute(spark, wfixture, tmp_path):
    """The entity serving route (materialized batch-IR upload + one-day
    mutation scan) serves exactly what the full temporal_entities
    recompute produces — the entity analogue of ConsistencyJob, incl.
    windowed parts and histograms (r4 VERDICT Next #7)."""
    from chronon_spark.api.types import Window
    from chronon_spark.plans.entity_serving import (
        fetch_temporal_entities,
        upload_temporal_entities,
    )

    snap_path, mut_path, _, _, q = wfixture
    gb = _w_gb(
        snap_path, mut_path,
        (
            Aggregation("price", Operation.COUNT),
            Aggregation("price", Operation.SUM, windows=(Window.days(7),)),
            Aggregation("price", Operation.AVERAGE, windows=(Window.days(7),)),
            Aggregation("price", Operation.HISTOGRAM, windows=(Window.days(7),)),
        ),
    )
    batch_end = T0 + 5 * DAY_MS  # serve day 5 from day-4's snapshot
    day_q = q[(q.ts >= batch_end) & (q.ts < batch_end + DAY_MS)]
    assert len(day_q) > 10
    requests = spark.createDataFrame(day_q)

    out_dir = str(tmp_path / "entity_upload")
    manifest = upload_temporal_entities(spark, gb, batch_end, out_dir)
    assert manifest["frames"], manifest

    served = (
        fetch_temporal_entities(spark, gb, requests, batch_end, out_dir)
        .toPandas()
        .sort_values(["store_id", "ts"])
        .reset_index(drop=True)
    )
    recomputed = (
        temporal_entities(spark, gb, requests)
        .toPandas()
        .sort_values(["store_id", "ts"])
        .reset_index(drop=True)
    )
    assert len(served) == len(recomputed) > 0
    assert sorted(served.columns) == sorted(recomputed.columns)
    for c in served.columns:
        a, b = served[c], recomputed[c]
        if a.dtype.kind == "f":
            assert np.allclose(a.fillna(-1), b.fillna(-1)), c
        elif a.dtype == object:  # histogram maps
            assert all(
                (x or None) == (y or None) for x, y in zip(a, b)
            ), c
        else:
            assert (a == b).all(), c


def test_entity_upload_scans_only_its_snapshot_partition(
    spark, wfixture, tmp_path, monkeypatch
):
    """upload_temporal_entities builds its batch IRs from the ONE snapshot
    partition serving the batch end's day (day - 1), not from every
    partition: the snapshot scan carries that partition predicate."""
    from chronon_spark.api.types import Window
    from chronon_spark.plans import entity_serving

    seen = []
    real = entity_serving.entity_batch_irs

    def spy(spark_, group_by, tail_buffer_ms=2 * DAY_MS, snapshot_df=None):
        seen.append(snapshot_df)
        return real(spark_, group_by, tail_buffer_ms, snapshot_df=snapshot_df)

    monkeypatch.setattr(entity_serving, "entity_batch_irs", spy)
    snap_path, mut_path, _, _, _ = wfixture
    gb = _w_gb(
        snap_path, mut_path,
        (Aggregation("price", Operation.SUM, windows=(Window.days(7),)),),
    )
    batch_end = T0 + 5 * DAY_MS
    entity_serving.upload_temporal_entities(
        spark, gb, batch_end, str(tmp_path / "up_pruned")
    )

    assert len(seen) == 1 and seen[0] is not None
    snap_ds = pd.Timestamp(batch_end - DAY_MS, unit="ms").strftime("%Y-%m-%d")
    # plan strings cut scan metadata at maxMetadataStringLength chars
    prev_len = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        plan = seen[0]._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev_len)
    scans = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scans and all(snap_ds in ln for ln in scans), scans


def test_entity_fetch_rejects_out_of_day_requests(spark, wfixture, tmp_path):
    from chronon_spark.plans.entity_serving import (
        fetch_temporal_entities,
        upload_temporal_entities,
    )

    snap_path, mut_path, _, _, q = wfixture
    gb = _w_gb(snap_path, mut_path, (Aggregation("price", Operation.SUM),))
    batch_end = T0 + 5 * DAY_MS
    out_dir = str(tmp_path / "up2")
    upload_temporal_entities(spark, gb, batch_end, out_dir)
    bad = spark.createDataFrame(
        pd.DataFrame({"store_id": [1], "ts": [batch_end - 1]})
    )
    with pytest.raises(ValueError, match="serving day"):
        fetch_temporal_entities(spark, gb, bad, batch_end, out_dir)


def test_windowed_temporal_entities_through_join(spark, wfixture):
    """EVENTS x ENTITIES TEMPORAL dispatch inside join_asof carries
    WINDOWED parts end-to-end (r5: the windowed replay is reachable from
    the Join surface, not just the direct operator)."""
    from chronon_spark.api.types import EventSource, Join, JoinPart, Query, Window
    from chronon_spark.operators.asof_join import join_asof

    snap_path, mut_path, _, _, q = wfixture
    gb = _w_gb(
        snap_path, mut_path,
        (Aggregation("price", Operation.SUM, windows=(Window.days(7),)),),
    )
    import tempfile

    d = tempfile.mkdtemp()
    left_pd = q.head(50).copy()
    left_pd["query_id"] = range(len(left_pd))
    spark.createDataFrame(left_pd).write.parquet(d + "/left.parquet")
    left = EventSource(
        table=d + "/left.parquet",
        query=Query(selects={"query_id": "query_id", "store_id": "store_id"},
                    time_column="ts"),
    )
    j = Join(left=left, join_parts=(JoinPart(gb),), name="wtej")
    out = join_asof(spark, j).toPandas()
    assert len(out) == 50 and "wsp_price_sum_7d" in out.columns

    direct = temporal_entities(
        spark, gb, spark.createDataFrame(left_pd[["store_id", "ts"]])
    ).toPandas()
    m = out.merge(direct, on=["store_id", "ts"])
    assert len(m) == 50
    assert np.allclose(
        m["wsp_price_sum_7d"].fillna(-1), m["price_sum_7d"].fillna(-1)
    )


# ------------------------------------------- large-offset VARIANCE


def _exact_variance(vals: list, signed: list):
    """Population variance of a signed multiset, in exact rationals."""
    from fractions import Fraction

    terms = [(1, Fraction(v)) for v in vals] + [(sg, Fraction(v)) for sg, v in signed]
    n = sum(sg for sg, _ in terms)
    if n == 0:
        return None
    mean = sum(sg * v for sg, v in terms) / n
    return float(sum(sg * v * v for sg, v in terms) / n - mean * mean)


def test_variance_replay_at_a_large_offset(spark, tmp_path):
    """values = 1e9 + N(0, 1): the replayed VARIANCE, unwindowed and over
    a 3-day window, matches an exact rational reference at rel 1e-6.
    Raw power sums cancel at this offset (Σx² ~ n·1e18 against a
    variance of ~1); sums about the key's offset K do not."""
    from chronon_spark.api.types import Window, tail_hop_millis

    rng = np.random.RandomState(5)
    rows = []
    for item in range(60):
        n_v = rng.randint(1, 5)
        starts = [T0] + sorted(
            rng.randint(T0 + DAY_MS, T0 + N_DAYS * DAY_MS, n_v - 1).tolist()
        )
        for vi, vf in enumerate(starts):
            vt = starts[vi + 1] if vi + 1 < len(starts) else FAR
            rows.append((item % 6, item, 1e9 + rng.normal(), vf, vt))
    versions = pd.DataFrame(
        rows, columns=["store_id", "item_id", "price", "valid_from", "valid_to"]
    )
    snap_df, mut_df = _derive(versions)
    snap_path, mut_path = str(tmp_path / "snap"), str(tmp_path / "mut")
    spark.createDataFrame(snap_df).write.parquet(snap_path)
    spark.createDataFrame(mut_df).write.parquet(mut_path)
    W = Window.days(3)
    gb = _w_gb(
        snap_path, mut_path,
        (
            Aggregation("price", Operation.VARIANCE),
            Aggregation("price", Operation.VARIANCE, windows=(W,)),
        ),
    )
    q = pd.DataFrame({
        "store_id": rng.randint(0, 6, 150),
        "ts": rng.randint(T0 + DAY_MS, T0 + N_DAYS * DAY_MS, 150),
    })
    got = (
        temporal_entities(spark, gb, spark.createDataFrame(q))
        .toPandas()
        .set_index(["store_id", "ts"])
    )
    checked = 0
    for key, qt in set(zip(q.store_id, q.ts)):
        live = versions[
            (versions.store_id == key) & (versions.valid_from < qt) & (qt <= versions.valid_to)
        ].price.tolist()
        windowed = _py_windowed(snap_df, mut_df, key, qt, W.millis, tail_hop_millis(W))
        row = got.loc[(key, qt)]
        for col, exp in (
            ("price_variance", _exact_variance(live, [])),
            ("price_variance_3d", _exact_variance(*windowed)),
        ):
            if exp is None:
                assert pd.isna(row[col]), (key, qt, col)
            else:
                assert row[col] == pytest.approx(exp, rel=1e-6, abs=1e-6), (key, qt, col)
                checked += 1
    assert checked >= 200


# ------------------------------------------- typed guards


def test_entity_guards_raise_value_errors(spark, fixture, tmp_path):
    """The entity-path guards raise ValueError (they hold under python -O)."""
    from dataclasses import replace

    from chronon_spark.plans.entity_serving import (
        fetch_temporal_entities,
        upload_temporal_entities,
    )

    snap_path, mut_path, _, q = fixture
    selects = {c: c for c in ("store_id", "price", "ds", "mutation_ts", "is_before")}
    gb = GroupBy(
        sources=(
            EntitySource(
                snapshot_table=snap_path,
                mutation_table=mut_path,
                query=Query(selects=selects, partition_column="ds"),
            ),
        ),
        key_columns=("store_id",),
        aggregations=(Aggregation("price", Operation.SUM),),
        name="guards",
    )
    queries = spark.createDataFrame(q)
    batch_end = T0 + 5 * DAY_MS

    no_mutations = replace(gb, sources=(replace(gb.sources[0], mutation_table=None),))
    with pytest.raises(ValueError, match="needs an EntitySource with a mutation_table"):
        temporal_entities(spark, no_mutations, queries)

    src = gb.sources[0]
    no_reversal = replace(
        gb,
        sources=(
            replace(
                src,
                query=replace(
                    src.query,
                    selects={a: e for a, e in selects.items() if a != "is_before"},
                ),
            ),
        ),
    )
    with pytest.raises(ValueError, match=r"mutation scan lacks \['is_before'\]"):
        temporal_entities(spark, no_reversal, queries)

    with pytest.raises(ValueError, match="batch end must be a UTC midnight"):
        upload_temporal_entities(spark, gb, batch_end + 1, str(tmp_path / "up"))
    with pytest.raises(ValueError, match="batch end must be a UTC midnight"):
        fetch_temporal_entities(spark, gb, queries, batch_end + 1, str(tmp_path / "up"))

    requests = spark.createDataFrame(pd.DataFrame({"store_id": [1], "ts": [batch_end + 1]}))
    with pytest.raises(ValueError, match="pass upload_dir or batch_irs"):
        fetch_temporal_entities(spark, gb, requests, batch_end)
