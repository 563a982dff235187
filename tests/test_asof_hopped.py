"""Pure-Catalyst hopped sawtooth path == Arrow kernel in sawtooth mode.

Mode-consistency (metamorphic) testing, the reference's own strategy
(UnionJoin vs classic temporalEvents, UnionJoinTest.scala:11-278): two
independent implementations of the same semantics must agree exactly.
"""

import pandas as pd
import pytest

from chronon_spark.api.types import (
    Aggregation,
    EventSource,
    GroupBy,
    Operation,
    Query,
    Window,
)
from chronon_spark.operators.asof_hopped import (
    HOPPED_OPS,
    group_by_asof_hopped,
    supports_hopped,
)
from chronon_spark.operators.asof_join import group_by_asof
from chronon_spark.sources.scan import millis_expr

HOUR_MS = 3_600_000
DAY_MS = 86_400_000


def _gb(sf_dir, aggs):
    return GroupBy(
        sources=(
            EventSource(
                table=f"{sf_dir}/events.parquet",
                query=Query(
                    # cents quantization -> sums exact, engines/implementations agree bitwise
                    selects={"user_id": "user_id", "value": "floor(value*100 + 0.5)"},
                    time_column=millis_expr("ts"),
                ),
            ),
        ),
        key_columns=("user_id",),
        aggregations=aggs,
        name="hopped",
    )


AGGS = (
    Aggregation("value", Operation.COUNT, windows=(Window.days(7),)),
    Aggregation("value", Operation.SUM, windows=(Window.days(7),)),
    Aggregation("value", Operation.AVERAGE, windows=(Window.days(14),)),
    Aggregation("value", Operation.VARIANCE, windows=(Window.days(14),)),
    Aggregation("value", Operation.SKEW, windows=(Window.days(14),)),
    Aggregation("value", Operation.KURTOSIS, windows=(Window.days(14),)),
    Aggregation("value", Operation.SKEW),
    Aggregation("value", Operation.MIN, windows=(Window.days(7),)),
    Aggregation("value", Operation.MAX),
    Aggregation("value", Operation.LAST),
    Aggregation("value", Operation.FIRST, windows=(Window.days(7),)),
    Aggregation("value", Operation.UNIQUE_COUNT, windows=(Window.days(7),)),
)


def _queries(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id", f"{millis_expr('ts')} AS ts"
    )


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(["user_id", "ts"]).reset_index(drop=True)


@pytest.mark.parametrize("hop_ms", [DAY_MS, HOUR_MS])
def test_hopped_equals_kernel_sawtooth(spark, sf_dir, hop_ms):
    gb = _gb(sf_dir, AGGS)
    assert supports_hopped(gb, hop_ms)
    q = _queries(spark, sf_dir)
    got = _norm(group_by_asof_hopped(spark, gb, q, hop_ms).toPandas())
    exp = _norm(group_by_asof(spark, gb, q, tail_hop_ms=hop_ms).toPandas())
    assert len(got) == len(exp) > 0
    assert list(got.columns) == list(exp.columns)
    for col in got.columns:
        g, e = got[col], exp[col]
        if g.dtype.kind == "f" or e.dtype.kind == "f":
            # relative tolerance: kernel (shifted power sums) and hopped
            # (m2/Chan merge) are distinct stable algorithms — allclose,
            # not bit-identical, is the contract (north-star "allclose").
            # 3rd/4th moments amplify the shift-merge rounding by
            # (delta/sigma)^3..4 (delta = window mean - per-key offset K),
            # so they get a wider band — still 10^5 tighter than the
            # reference's own MomentTest delta of 0.1
            tol = 1e-6 if ("skew" in col or "kurtosis" in col) else 1e-9
            assert ((g.isna() & e.isna()) | (abs(g - e) <= tol + tol * abs(e))).all(), col
        else:
            assert g.equals(e), col


def test_supports_hopped_gates():
    gb_bad_op = _gb("/x", (Aggregation("value", Operation.LAST_K, {"k": 3}),))
    assert not supports_hopped(gb_bad_op, DAY_MS)
    gb_bad_window = _gb("/x", (Aggregation("value", Operation.SUM, windows=(Window.hours(5),)),))
    assert not supports_hopped(gb_bad_window, DAY_MS)  # 5h not divisible by 1d
    assert supports_hopped(gb_bad_window, HOUR_MS)


def test_hopped_no_leakage(spark, sf_dir):
    """Poison future events -> features at past query times unchanged."""
    from pyspark.sql import functions as F

    gb = _gb(sf_dir, (Aggregation("value", Operation.SUM, windows=(Window.days(7),)),))
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cutoff = ev.selectExpr("percentile(unix_micros(CAST(ts AS TIMESTAMP)) div 1000, 0.5)").first()[0]
    q = _queries(spark, sf_dir).where(F.col("ts") <= cutoff)
    base = _norm(group_by_asof_hopped(spark, gb, q, DAY_MS).toPandas())

    poisoned_path = None
    import tempfile, os
    d = tempfile.mkdtemp()
    poisoned_path = os.path.join(d, "events.parquet")
    ev.withColumn(
        "value",
        F.when(F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) div 1000 > {cutoff}"), F.lit(9.9e7)).otherwise(F.col("value")),
    ).write.parquet(poisoned_path)
    gb2 = _gb(d, (Aggregation("value", Operation.SUM, windows=(Window.days(7),)),))
    poisoned = _norm(group_by_asof_hopped(spark, gb2, q, DAY_MS).toPandas())
    assert base.equals(poisoned)


def test_lambda_merge_batch_plus_stream(spark, sf_dir):
    """Batch hop IRs ⊕ fresh streaming rows == full recompute — the lambda
    architecture's offline/online consistency guarantee, in batch."""
    from pyspark.sql import functions as F

    from chronon_spark.operators.asof_hopped import group_by_asof_hopped, hop_irs_for
    from chronon_spark.operators.asof_join import events_df_for_group_by

    gb = _gb(sf_dir, (
        Aggregation("value", Operation.SUM, windows=(Window.days(7),)),
        Aggregation("value", Operation.COUNT, windows=(Window.days(7),)),
        Aggregation("value", Operation.LAST),
    ))
    events = events_df_for_group_by(spark, gb, None, None)
    boundary = 1_705_276_800_000  # 2024-01-15 midnight (hop-aligned)
    batch = events.where(F.col("ts") < boundary)
    fresh = events.where(F.col("ts") >= boundary)
    batch_irs = hop_irs_for(batch, gb, DAY_MS)

    # queries strictly after the boundary
    q = _queries(spark, sf_dir).where(F.col("ts") >= boundary)
    merged = _norm(
        group_by_asof_hopped(
            spark, gb, q, DAY_MS, events_df=fresh, extra_hop_irs=batch_irs
        ).toPandas()
    )
    full = _norm(group_by_asof_hopped(spark, gb, q, DAY_MS).toPandas())
    assert len(merged) == len(full) > 0
    for col in merged.columns:
        g, e = merged[col], full[col]
        if g.dtype.kind == "f":
            assert ((g.isna() & e.isna()) | (abs(g - e) < 1e-9)).all(), col
        else:
            assert g.equals(e), col


def test_hopped_null_values_match_kernel(spark, tmp_path):
    """Null inputs never update IRs (reference DirectColumnAggregator):
    LAST/FIRST skip null values; all-null keys finalize to null; counts 0."""
    import pandas as pd

    ev = pd.DataFrame(
        {"k": [1, 1, 1, 2, 2], "ts": [1000, 2000, 3000, 1500, 2500],
         "v": [None, 5.0, None, None, None]}
    )
    d = str(tmp_path / "ev")
    spark.createDataFrame(ev).write.parquet(d)
    src = EventSource(table=d, query=Query(selects={"k": "k", "v": "v"}, time_column="ts"))
    gb = GroupBy(
        (src,), ("k",),
        (Aggregation("v", Operation.LAST), Aggregation("v", Operation.FIRST),
         Aggregation("v", Operation.COUNT), Aggregation("v", Operation.MIN),
         Aggregation("v", Operation.UNIQUE_COUNT)),
        name="nulls",
    )
    q = spark.createDataFrame(pd.DataFrame({"k": [1, 1, 2], "ts": [2500, 3500, 3000]}))
    a = _norm2(group_by_asof_hopped(spark, gb, q, hop_ms=1000).toPandas())
    b = _norm2(group_by_asof(spark, gb, q, tail_hop_ms=1000).toPandas())
    assert a.equals(b)
    assert a[a.k == 2]["v_count"].iloc[0] == 0
    assert pd.isna(a[a.k == 2]["v_last"].iloc[0])


def test_hopped_approx_unique_count_head_or_tail_only_matches_kernel(spark, tmp_path):
    """APPROX_UNIQUE_COUNT merges its head and tail sketches in the shared
    finalize: a window with only head events, only tail events, or none
    must count like the kernel's exact distinct count (0 when empty), not
    go NULL because one side has no sketch."""
    import pandas as pd

    m = 60_000  # one-minute hops
    ev = pd.DataFrame(
        [
            (1, 5 * m + 100, 1), (1, 5 * m + 200, 2), (1, 5 * m + 300, 2),  # head only
            (2, 2 * m + 100, 1), (2, 3 * m + 100, 2), (2, 4 * m + 100, 3),  # tail only
            (2, 5 * m + 900, 9),  # after the query, in its hop
            (3, 100, 5), (3, 5 * m + 900, 6),  # windowed: empty; unbounded: tail
            (5, 4 * m + 100, 1), (5, 5 * m + 100, 2),  # head and tail
        ],
        columns=["k", "ts", "v"],
    )
    d = str(tmp_path / "ev")
    spark.createDataFrame(ev).write.parquet(d)
    src = EventSource(table=d, query=Query(selects={"k": "k", "v": "v"}, time_column="ts"))
    gb = GroupBy(
        (src,), ("k",),
        (Aggregation("v", Operation.APPROX_UNIQUE_COUNT, windows=(Window.minutes(3),)),
         Aggregation("v", Operation.APPROX_UNIQUE_COUNT)),
        name="approx",
    )
    q = spark.createDataFrame(pd.DataFrame({"k": [1, 2, 3, 4, 5], "ts": [5 * m + 500] * 5}))
    a = _norm2(group_by_asof_hopped(spark, gb, q, hop_ms=m).toPandas())
    b = _norm2(group_by_asof(spark, gb, q, tail_hop_ms=m).toPandas())
    assert a.equals(b)
    windowed, unbounded = (p.output_column for p in gb.unpack())
    assert a[windowed].tolist() == [2, 3, 0, 0, 2]
    assert a[unbounded].tolist() == [2, 3, 1, 0, 2]


def _norm2(df):
    return df.sort_values(["k", "ts"]).reset_index(drop=True)


def test_hopped_bucketed_matches_kernel(spark, sf_dir):
    """Bucketed sum/count maps on the Catalyst path == Arrow kernel."""
    src = EventSource(
        table=f"{sf_dir}/events.parquet",
        query=Query(
            selects={"user_id": "user_id", "value": "floor(value*100 + 0.5)",
                     "event_type": "event_type"},
            time_column=millis_expr("ts"),
        ),
    )
    gb = GroupBy(
        (src,), ("user_id",),
        (Aggregation("value", Operation.SUM, windows=(Window.days(7),), buckets=("event_type",)),
         Aggregation("value", Operation.COUNT, buckets=("event_type",)),
         Aggregation("value", Operation.SUM, windows=(Window.days(7),))),
        name="bk",
    )
    q = _queries(spark, sf_dir)
    a = _norm(group_by_asof_hopped(spark, gb, q, DAY_MS).toPandas())
    b = _norm(group_by_asof(spark, gb, q, tail_hop_ms=DAY_MS).toPandas())
    assert len(a) == len(b) > 0
    assert list(a.columns) == list(b.columns)
    for col in a.columns:
        if a[col].dtype == object:  # map columns arrive as dicts
            for i in range(len(a)):
                ga, gb_ = a[col].iloc[i], b[col].iloc[i]
                if gb_ is None:
                    assert ga is None, (col, i, ga)
                else:
                    assert ga is not None and dict(ga) == dict(gb_), (col, i, ga, gb_)
        else:
            g, e = a[col], b[col]
            if g.dtype.kind == "f":
                assert ((g.isna() & e.isna()) | (abs(g - e) < 1e-9)).all(), col
            else:
                assert g.equals(e), col


def test_group_by_upload_serves_lambda_queries(spark, sf_dir, tmp_path):
    """FinalBatchIr upload (collapsed + tail hops) ⊕ fresh rows == full
    recompute — offline/online consistency through the upload table."""
    from pyspark.sql import functions as F

    from chronon_spark.operators.asof_hopped import group_by_asof_hopped
    from chronon_spark.operators.asof_join import events_df_for_group_by
    from chronon_spark.plans.upload import COLLAPSED_HOP, upload_group_by

    gb = _gb(sf_dir, (
        Aggregation("value", Operation.SUM, windows=(Window.days(7),)),
        Aggregation("value", Operation.COUNT),          # unbounded -> reads collapsed
        Aggregation("value", Operation.MIN),            # unbounded, mergeable
        # 3rd/4th central moments ride the upload + collapse algebra too
        Aggregation("value", Operation.SKEW, windows=(Window.days(7),)),
        Aggregation("value", Operation.KURTOSIS),       # unbounded -> collapsed m3/m4
    ))
    boundary = 1_705_276_800_000  # 2024-01-15 midnight
    up_path = str(tmp_path / "upload")
    upload = upload_group_by(spark, gb, boundary, DAY_MS, output_path=up_path)
    # collapsed rows exist and tail hops span only the last 7 days
    assert upload.where(F.col("__hop") == COLLAPSED_HOP).count() > 0
    real_hops = upload.where(F.col("__hop") != COLLAPSED_HOP)
    assert real_hops.agg(F.min("__hop")).first()[0] >= (boundary - 7 * DAY_MS) // DAY_MS

    events = events_df_for_group_by(spark, gb, None, None)
    fresh = events.where(F.col("ts") >= boundary)
    q = _queries(spark, sf_dir).where(F.col("ts") >= boundary)
    served = _norm(
        group_by_asof_hopped(
            spark, gb, q, DAY_MS, events_df=fresh, extra_hop_irs=upload
        ).toPandas()
    )
    full = _norm(group_by_asof_hopped(spark, gb, q, DAY_MS).toPandas())
    assert len(served) == len(full) > 0
    for col in served.columns:
        g, e = served[col], full[col]
        if g.dtype.kind == "f":
            tol = 1e-6 if ("skew" in col or "kurtosis" in col) else 1e-9
            assert ((g.isna() & e.isna()) | (abs(g - e) < tol + tol * abs(e))).all(), col
        else:
            assert g.equals(e), col


def test_hopped_bucketed_parallelism_invariance(spark, sf_dir):
    """Bucketed hopped results identical across shuffle-partition counts."""
    src = EventSource(
        table=f"{sf_dir}/events.parquet",
        query=Query(
            selects={"user_id": "user_id", "value": "floor(value*100 + 0.5)",
                     "event_type": "event_type"},
            time_column=millis_expr("ts"),
        ),
    )
    gb = GroupBy(
        (src,), ("user_id",),
        (Aggregation("value", Operation.SUM, windows=(Window.days(7),), buckets=("event_type",)),),
        name="inv",
    )
    q = _queries(spark, sf_dir)

    def run(n):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        try:
            df = group_by_asof_hopped(spark, gb, q, DAY_MS).toPandas()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        col = "value_sum_7d_by_event_type"
        df[col] = df[col].map(lambda m: None if m is None else tuple(sorted(m.items())))
        return df.sort_values(["user_id", "ts"]).reset_index(drop=True)

    assert run(3).equals(run(17))


def test_variance_stable_at_extreme_magnitude(spark, tmp_path):
    """The ADVICE regression: large-magnitude low-variance columns must not
    cancel catastrophically. Values ~1e10 with unit-scale variance; both
    the kernel (shifted power sums) and the hopped plan (m2/Chan merge)
    must agree with the true variance to ~1e-6 RELATIVE — the naive
    sum(x^2)/n - mean^2 on raw doubles is off by >100% here."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(3)
    n = 5000
    base_ts = 1_700_000_000_000
    ts = np.sort(rng.randint(0, 30 * DAY_MS, n)) + base_ts
    vals = 1e10 + rng.randint(-1000, 1001, n).astype(np.float64)  # sigma ~ 577
    pdf = pd.DataFrame({"user_id": 1, "ts": ts, "value": vals})
    p = str(tmp_path / "ev.parquet")
    spark.createDataFrame(pdf).write.parquet(p)

    gb = GroupBy(
        sources=(
            EventSource(
                table=p,
                query=Query(selects={"user_id": "user_id", "value": "value"},
                            time_column="ts"),
            ),
        ),
        key_columns=("user_id",),
        aggregations=(Aggregation("value", Operation.VARIANCE),),
        name="vstab",
    )
    q = spark.createDataFrame(pd.DataFrame({"user_id": [1], "ts": [int(ts[-1]) + 1]}))

    true_var = float(np.var(vals))
    kernel = group_by_asof(spark, gb, q).first()["value_variance"]
    hopped = group_by_asof_hopped(spark, gb, q, DAY_MS).first()["value_variance"]
    assert kernel == pytest.approx(true_var, rel=1e-6), (kernel, true_var)
    assert hopped == pytest.approx(true_var, rel=1e-6), (hopped, true_var)

    # demonstrate the failure mode the fix removes: raw-moment formula
    s, ssq = vals.sum(), (vals ** 2).sum()
    naive = ssq / n - (s / n) ** 2
    assert abs(naive - true_var) / true_var > 0.01  # catastrophic on raw doubles


def test_query_checkpoints_released(spark, sf_dir):
    """Every group_by_asof_hopped call lazily checkpoints its query set
    (the q-derivation dedup — Catalyst can't share the subtree across its
    consumers). Repeated calls in one session must not accumulate RDD
    storage: release_query_checkpoints() returns the registry to
    baseline after the built frames are fully materialized (bench.force
    calls it between best-of-N passes)."""
    from chronon_spark.operators.asof_hopped import release_query_checkpoints

    def _ids():
        # ids, not counts — ContextCleaner may drop other tests' frames
        m = spark.sparkContext._jsc.sc().getPersistentRDDs()
        it, out = m.iterator(), set()
        while it.hasNext():
            out.add(it.next()._1())
        return out

    release_query_checkpoints()  # drain anything earlier tests built
    before = _ids()
    gb = _gb(sf_dir, (Aggregation("value", Operation.SUM, windows=(Window.days(30),)),))
    for _ in range(2):
        out = group_by_asof_hopped(spark, gb, _queries(spark, sf_dir), hop_ms=86_400_000)
        out.count()
        assert _ids() - before  # the pass really cached a query set
        assert release_query_checkpoints() >= 1
        assert not (_ids() - before)


def test_moments_stable_at_extreme_magnitude(spark, tmp_path):
    """Skew/kurtosis through the shifted 3rd/4th-order merge at
    production magnitudes (values ~1e10, sigma ~600): the per-key offset
    K keeps every d = mean_h - K term O(sigma), so no mu-scale
    cancellation — both plans must agree with numpy's direct central
    moments. The naive raw-power-sum kurtosis is off by orders of
    magnitude on the same doubles."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(5)
    n = 5000
    base_ts = 1_700_000_000_000
    ts = np.sort(rng.randint(0, 30 * DAY_MS, n)) + base_ts
    vals = 1e10 + rng.randint(-1000, 1001, n).astype(np.float64)
    pdf = pd.DataFrame({"user_id": 1, "ts": ts, "value": vals})
    p = str(tmp_path / "ev.parquet")
    spark.createDataFrame(pdf).write.parquet(p)

    gb = GroupBy(
        sources=(
            EventSource(
                table=p,
                query=Query(selects={"user_id": "user_id", "value": "value"},
                            time_column="ts"),
            ),
        ),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.SKEW),
            Aggregation("value", Operation.KURTOSIS),
        ),
        name="mstab",
    )
    q = spark.createDataFrame(pd.DataFrame({"user_id": [1], "ts": [int(ts[-1]) + 1]}))

    d = vals - vals.mean()
    m2, m3, m4 = (d ** 2).mean(), (d ** 3).mean(), (d ** 4).mean()
    true_skew = m3 / m2 ** 1.5
    true_kurt = m4 / m2 ** 2 - 3.0

    hop = group_by_asof_hopped(spark, gb, q, DAY_MS).first()
    ker = group_by_asof(spark, gb, q).first()
    # abs tolerance: skew ~0, kurt ~-1.2 at this uniform-ish data
    assert hop["value_skew"] == pytest.approx(true_skew, abs=1e-4)
    assert hop["value_kurtosis"] == pytest.approx(true_kurt, abs=1e-4)
    assert ker["value_skew"] == pytest.approx(true_skew, abs=1e-4)
    assert ker["value_kurtosis"] == pytest.approx(true_kurt, abs=1e-4)

    # the failure mode the shift removes: raw power sums on doubles
    s1, s2_, s3_, s4_ = vals.sum(), (vals**2).sum(), (vals**3).sum(), (vals**4).sum()
    mu = s1 / n
    m4_naive = s4_ / n - 4 * mu * s3_ / n + 6 * mu**2 * s2_ / n - 3 * mu**4
    kurt_naive = m4_naive / (m2 ** 2) - 3.0
    assert abs(kurt_naive - true_kurt) > 1.0  # catastrophically wrong


def _assert_matches_kernel(got: pd.DataFrame, exp: pd.DataFrame) -> None:
    """Column by column: exact for integer and integer-valued results,
    the moment tolerances of test_hopped_equals_kernel_sawtooth for the
    rest."""
    assert list(got.columns) == list(exp.columns)
    for col in got.columns:
        g, e = got[col], exp[col]
        if g.dtype.kind == "f" or e.dtype.kind == "f":
            tol = 1e-6 if ("skew" in col or "kurtosis" in col) else 1e-9
            assert ((g.isna() & e.isna()) | (abs(g - e) <= tol + tol * abs(e))).all(), col
        else:
            assert g.equals(e), col


FIVE_MIN = 5 * 60_000
T0 = 1_704_067_200_000  # 2024-01-01 00:00 UTC


def test_hopped_five_minute_hops_match_kernel_over_day_windows(spark, tmp_path):
    """The benchmark's hop shape: 5-minute hops under 1h, 1d, 7d, 30d,
    90d and unbounded windows, every hopped op, against the kernel.

    Boundary cases: for the query at day 100 + 6h, events exactly at the
    start of each window's first hop (``qhop - w_hops``, in) and a
    millisecond before it (out); events at midnight and at 23:55; a query
    in the first hop of a day; a key whose hops are sparse (one event
    every 9 days); a key with no events before its queries."""
    import numpy as np

    day, hour = DAY_MS, HOUR_MS
    rng = np.random.RandomState(11)
    n = 400
    rows = [
        (1, int(t), int(v))
        for t, v in zip(rng.randint(T0, T0 + 101 * day, n), rng.randint(-40, 300, n))
    ]
    q_main = T0 + 100 * day + 6 * hour + 2 * 60_000
    qhop = q_main // FIVE_MIN
    for w in (hour, day, 7 * day, 30 * day, 90 * day):
        start = (qhop - w // FIVE_MIN) * FIVE_MIN
        rows += [(2, start, 7), (2, start + 60_000, 11), (2, start - 1, 13)]
    for d in range(60, 101, 10):
        rows += [(2, T0 + d * day, 17), (2, T0 + d * day - FIVE_MIN, 19)]  # 00:00, 23:55
    rows += [(3, T0 + d * day + 3 * hour, d) for d in range(0, 101, 9)]  # sparse hops
    rows += [(4, T0 + 100 * day + 7 * hour, 5), (4, T0 + 100 * day + 8 * hour, 6)]
    d = str(tmp_path / "ev")
    spark.createDataFrame(pd.DataFrame(rows, columns=["k", "ts", "v"])).write.parquet(d)

    queries = [(k, q_main) for k in (1, 2, 3, 4)]
    queries += [(k, T0 + 100 * day + 90_000) for k in (1, 2, 3)]  # first hop of a day
    queries += [(1, T0 + 100 * day), (2, T0 + 90 * day), (3, T0 + 99 * day + 23 * hour)]
    queries += [(k, T0 + 100 * day + 23 * hour + 58 * 60_000) for k in (1, 2)]
    q = spark.createDataFrame(pd.DataFrame(queries, columns=["k", "ts"]))

    windows = (
        Window.hours(1), Window.days(1), Window.days(7), Window.days(30), Window.days(90), None,
    )
    aggs = tuple(
        Aggregation("v", op, windows=None if w is None else (w,))
        for op in sorted(HOPPED_OPS, key=lambda op: op.value)
        for w in windows
    )
    src = EventSource(table=d, query=Query(selects={"k": "k", "v": "v"}, time_column="ts"))
    gb = GroupBy((src,), ("k",), aggs, name="five_min")
    assert supports_hopped(gb, FIVE_MIN)
    got = _norm2(group_by_asof_hopped(spark, gb, q, FIVE_MIN).toPandas())
    exp = _norm2(group_by_asof(spark, gb, q, tail_hop_ms=FIVE_MIN).toPandas())
    assert len(got) == len(exp) == len(queries)
    _assert_matches_kernel(got, exp)
    # the window-start events count in, the one a millisecond earlier not
    main = got[(got.k == 2) & (got.ts == q_main)].iloc[0]
    assert main["v_count_1h"] == 2 and main["v_sum_1h"] == 18


def test_hopped_approx_unique_count_over_doubles_matches_kernel(spark, tmp_path):
    """APPROX_UNIQUE_COUNT over a DOUBLE input (which hll_sketch_agg does
    not take raw) counts like the kernel's distinct count: 0.0 and -0.0
    are one value, repeats count once."""
    m = 60_000
    ev = pd.DataFrame(
        [
            (1, 1 * m, 0.0), (1, 2 * m, -0.0), (1, 5 * m + 10, 1.5),
            (1, 5 * m + 20, 1.5), (1, 5 * m + 30, 0.0),  # head: 1.5, 0.0
            (2, 1 * m, 2.25), (2, 3 * m, 2.25), (2, 4 * m, -3.5),
        ],
        columns=["k", "ts", "v"],
    )
    d = str(tmp_path / "ev")
    spark.createDataFrame(ev).write.parquet(d)
    src = EventSource(table=d, query=Query(selects={"k": "k", "v": "v"}, time_column="ts"))
    gb = GroupBy(
        (src,), ("k",),
        (Aggregation("v", Operation.APPROX_UNIQUE_COUNT, windows=(Window.minutes(3),)),
         Aggregation("v", Operation.APPROX_UNIQUE_COUNT)),
        name="approx_double",
    )
    q = spark.createDataFrame(pd.DataFrame({"k": [1, 2], "ts": [5 * m + 500] * 2}))
    a = _norm2(group_by_asof_hopped(spark, gb, q, hop_ms=m).toPandas())
    b = _norm2(group_by_asof(spark, gb, q, tail_hop_ms=m).toPandas())
    assert a.equals(b)
    windowed, unbounded = (p.output_column for p in gb.unpack())
    assert a[windowed].tolist() == [2, 2]
    assert a[unbounded].tolist() == [2, 2]


def test_hopped_guards_raise_value_errors(spark, sf_dir):
    gb = _gb(sf_dir, (Aggregation("value", Operation.LAST_K, {"k": 3}),))
    q = _queries(spark, sf_dir)
    with pytest.raises(ValueError, match="unsupported op/window for hopped path"):
        group_by_asof_hopped(spark, gb, q, DAY_MS)
    bucketed = _gb(
        sf_dir, (Aggregation("value", Operation.SUM, buckets=("user_id",)),)
    )
    with pytest.raises(ValueError, match="bucketed parts not supported"):
        group_by_asof_hopped(spark, bucketed, q, DAY_MS, events_df=q)
