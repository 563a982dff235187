"""Snapshot (daily) GroupBy vs DuckDB conditional-aggregation oracle.

Oracle pattern from the reference's GroupByTest.scala:56-122:
``AGG(CASE WHEN ts within window-of-ds THEN col END)`` over a key x ds grid.
"""

import duckdb
import pytest

from chronon_spark.api.types import (
    Aggregation,
    EventSource,
    GroupBy,
    Operation,
    Query,
    Window,
)
from chronon_spark.operators.snapshot_groupby import snapshot_group_by
from chronon_spark.sources.scan import millis_expr

DAY_MS = 86_400_000
START, END = "2024-01-05", "2024-01-25"


def test_snapshot_group_by_vs_duckdb(spark, sf_dir):
    gb = GroupBy(
        sources=(
            EventSource(
                table=f"{sf_dir}/events.parquet",
                query=Query(
                    selects={"user_id": "user_id", "value": "value"},
                    time_column=millis_expr("ts"),
                ),
            ),
        ),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.COUNT, windows=(Window.days(7),)),
            Aggregation("value", Operation.SUM, windows=(Window.days(7), Window.days(3))),
            Aggregation("value", Operation.AVERAGE, windows=(Window.days(14),)),
            Aggregation("value", Operation.MIN, windows=(Window.days(7),)),
            Aggregation("value", Operation.MAX),
            Aggregation("value", Operation.LAST),
            Aggregation("value", Operation.LAST_K, {"k": 3}, (Window.days(7),)),
            Aggregation("value", Operation.UNIQUE_COUNT, windows=(Window.days(7),)),
        ),
        name="snap",
    )
    got = snapshot_group_by(spark, gb, START, END).toPandas()
    got = got.sort_values(["user_id", "ds"]).reset_index(drop=True)

    con = duckdb.connect()
    expected = con.sql(
        f"""
        WITH ev AS (SELECT user_id, value, epoch_ms(ts) AS ts FROM '{sf_dir}/events.parquet'),
        days AS (SELECT unnest(generate_series(DATE '{START}', DATE '{END}', INTERVAL 1 DAY)) AS d),
        grid AS (SELECT DISTINCT user_id, d FROM ev, days),
        j AS (
          SELECT g.user_id, g.d,
                 e.value, e.ts,
                 epoch_ms(g.d + INTERVAL 1 DAY) AS eod
          FROM grid g LEFT JOIN ev e
            ON e.user_id = g.user_id AND e.ts < epoch_ms(g.d + INTERVAL 1 DAY)
        )
        SELECT user_id, strftime(d, '%Y-%m-%d') AS ds,
          count(CASE WHEN ts >= eod - {7*DAY_MS} THEN value END) AS value_count_7d,
          CAST(sum(CASE WHEN ts >= eod - {7*DAY_MS} THEN value END) AS DOUBLE) AS value_sum_7d,
          CAST(sum(CASE WHEN ts >= eod - {3*DAY_MS} THEN value END) AS DOUBLE) AS value_sum_3d,
          avg(CASE WHEN ts >= eod - {14*DAY_MS} THEN value END) AS value_average_14d,
          min(CASE WHEN ts >= eod - {7*DAY_MS} THEN value END) AS value_min_7d,
          max(value) AS value_max,
          arg_max(value, ts) AS value_last,
          count(DISTINCT CASE WHEN ts >= eod - {7*DAY_MS} THEN value END) AS value_unique_count_7d
        FROM j GROUP BY user_id, d ORDER BY user_id, d
        """
    ).df()

    # grid membership differs: our grid = keys with >=1 event before END;
    # oracle grid = all keys. Events start 2024-01-01 so both are all keys.
    assert len(got) == len(expected), (len(got), len(expected))
    for col in [c for c in expected.columns if c not in ("user_id", "ds")]:
        for i in range(len(got)):
            gv, ev_ = got[col].iloc[i], expected[col].iloc[i]
            if ev_ is None or (isinstance(ev_, float) and ev_ != ev_):
                assert gv is None or (isinstance(gv, float) and gv != gv), (col, i, gv)
            else:
                assert gv == pytest.approx(ev_, rel=1e-9), (col, i, gv, ev_)

    # last_k: spot-check window + order via duckdb list agg
    lk = con.sql(
        f"""
        WITH ev AS (SELECT user_id, value, epoch_ms(ts) AS ts FROM '{sf_dir}/events.parquet')
        SELECT list(value ORDER BY ts DESC)[:3] AS lk
        FROM ev WHERE user_id = 0 AND ts < epoch_ms(DATE '{END}' + INTERVAL 1 DAY)
          AND ts >= epoch_ms(DATE '{END}' + INTERVAL 1 DAY) - {7*DAY_MS}
        """
    ).fetchone()[0]
    mine = got[(got.user_id == 0) & (got.ds == END)]["value_last3_7d"].iloc[0]
    assert list(mine) == pytest.approx(lk)


def test_snapshot_variance_at_a_large_offset(spark, tmp_path):
    """values = 1e9 + N(0, 1): the daily VARIANCE, unwindowed and over a
    3-day window, matches an exact rational reference at rel 1e-6. Raw
    power sums cancel at this offset; day IRs merged about the key's
    offset K do not."""
    import datetime as dt
    import statistics
    from fractions import Fraction

    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(3)
    t0 = 1_704_067_200_000  # 2024-01-01
    n = 400
    ev = pd.DataFrame({
        "user_id": rng.randint(0, 4, n),
        "value": 1e9 + rng.normal(size=n),
        "ts_ms": rng.randint(t0, t0 + 12 * DAY_MS, n),
    })
    ev["ts"] = pd.to_datetime(ev.ts_ms, unit="ms")
    path = str(tmp_path / "events.parquet")
    spark.createDataFrame(ev[["user_id", "value", "ts"]]).write.parquet(path)
    gb = GroupBy(
        sources=(
            EventSource(
                table=path,
                query=Query(
                    selects={"user_id": "user_id", "value": "value"},
                    time_column=millis_expr("ts"),
                ),
            ),
        ),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.VARIANCE, windows=(Window.days(3),)),
            Aggregation("value", Operation.VARIANCE),
        ),
        name="big",
    )
    start, end = "2024-01-04", "2024-01-12"
    got = snapshot_group_by(spark, gb, start, end).toPandas().set_index(["user_id", "ds"])

    def exact(vals):
        return float(statistics.pvariance([Fraction(v) for v in vals])) if vals else None

    checked = 0
    day = dt.date.fromisoformat(start)
    while day <= dt.date.fromisoformat(end):
        eod = int(pd.Timestamp(day).value // 1_000_000) + DAY_MS
        for u in range(4):
            seen = ev[(ev.user_id == u) & (ev.ts_ms < eod)]
            for col, vals in (
                ("value_variance", seen.value.tolist()),
                ("value_variance_3d", seen[seen.ts_ms >= eod - 3 * DAY_MS].value.tolist()),
            ):
                want, have = exact(vals), got.loc[(u, day.isoformat()), col]
                if want is None:
                    assert pd.isna(have), (u, day, col)
                else:
                    assert have == pytest.approx(want, rel=1e-6, abs=1e-6), (u, day, col)
                    checked += 1
        day += dt.timedelta(days=1)
    assert checked == 2 * 4 * 9
