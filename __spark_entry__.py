"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is one implemented operator from SURVEY.md §2 (or a
north-rule / training-data-pipeline extension), run at ``sf_dir``; the
matching ``oracle_sql()`` entry is an independent DuckDB formulation of the
same semantics (the reference's own test strategy — SQL-oracle goldens,
SURVEY.md §5).

Determinism notes (so value-hashes match across engines):
- every computed double is rounded via ``floor(x*1e6 + 0.5)/1e6`` on BOTH
  sides (Spark ``round`` is half-up, DuckDB's is half-to-even — cents
  arithmetic produces exact .5 ties, so the rounding itself must be the
  same floating-point expression in both engines),
- every ranking ranks on the ROUNDED value with an id tie-break,
- hashes are md5-derived (engine-portable), never engine-internal hashes,
- (user_id, ts) pairs in the events table are unique, so lag/lead and
  as-of orderings are total.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def _r6(col):
    """Portable half-up rounding to 6 decimals: floor(x*1e6 + 0.5)/1e6.

    The identical expression is used in the DuckDB oracles (see
    ``_fix_round6``) so both engines perform the exact same float ops.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * 1000000 + F.lit(0.5)) / 1000000


def _fix_round6(sql: str) -> str:
    """Rewrite every ``round(expr, 6)`` in an oracle to the portable form."""
    out = []
    i = 0
    while True:
        j = sql.find("round(", i)
        if j < 0:
            out.append(sql[i:])
            break
        out.append(sql[i:j])
        depth, k = 1, j + len("round(")
        while depth:
            if sql[k] == "(":
                depth += 1
            elif sql[k] == ")":
                depth -= 1
            k += 1
        inner = sql[j + len("round(") : k - 1]
        assert inner.endswith(", 6"), inner
        expr = inner[: -len(", 6")]
        out.append(f"floor(({expr}) * 1000000 + 0.5) / 1000000")
        i = k
    return "".join(out)


def _dds_sql():
    """Shared DuckDB fragments mirroring operators/ddsketch.py bucket math
    (used by the sketch_percentile / feature_summary / drift / drift_dist
    oracles — same gamma, same _Z offset, same midpoint estimator)."""
    import math

    from chronon_spark.operators.ddsketch import _Z, gamma_of

    g = gamma_of(0.01)
    lg = math.log(g)
    rep_scale = (2.0 * g / (g + 1.0)) / g

    def bucket(v: str) -> str:
        return (
            f"CASE WHEN {v} = 0 THEN {_Z} "
            f"WHEN {v} > 0 THEN {_Z} + CAST(ceil(ln(abs({v})) / {lg!r}) AS BIGINT) "
            f"ELSE {_Z} - CAST(ceil(ln(abs({v})) / {lg!r}) AS BIGINT) - 1 END"
        )

    def rep(b: str) -> str:
        return (
            f"CASE WHEN {b} = {_Z} THEN 0.0 "
            f"WHEN {b} > {_Z} THEN exp(({b} - {_Z}) * {lg!r}) * {rep_scale!r} "
            f"ELSE -exp(({_Z} - 1 - {b}) * {lg!r}) * {rep_scale!r} END"
        )

    return bucket, rep


DAY_MS = 86_400_000
GAP_MS = 30 * 60 * 1000  # sessionization inactivity gap
SNAP_START, SNAP_END = "2024-01-05", "2024-01-25"
JACCARD_THRESHOLD = 0.04
LSH_THRESHOLD = 0.04


def _events_source(sf_dir: str, cents: bool = False):
    """Event source conf. With ``cents=True`` the aggregation input is
    quantized to integer cents (``floor(value*100 + 0.5)``): sums/averages
    become exact-integer arithmetic, so results are bit-identical across
    engines AND across parallelism levels (summation-order independence)."""
    from chronon_spark.api.types import EventSource, Query
    from chronon_spark.sources.scan import millis_expr

    value_expr = "floor(value * 100 + 0.5)" if cents else "value"
    return EventSource(
        table=f"{sf_dir}/events.parquet",
        query=Query(
            selects={
                "event_id": "event_id",
                "user_id": "user_id",
                "value": value_expr,
                "event_type": "event_type",
            },
            time_column=millis_expr("ts"),
        ),
    )


def _event_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chronon_spark.sources.scan import millis_expr

    return (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("user_id", f"{millis_expr('ts')} AS ts")
    )


# ---------------------------------------------------------------------------
# As-of (point-in-time) GroupBy — the flagship operator
# ---------------------------------------------------------------------------

def q_asof_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chronon_spark.api.types import Aggregation, GroupBy, Operation, Window
    from chronon_spark.operators.asof_join import group_by_asof

    gb = GroupBy(
        sources=(_events_source(sf_dir, cents=True),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.COUNT, windows=(Window.days(7),)),
            Aggregation("value", Operation.SUM, windows=(Window.days(7),)),
            Aggregation("value", Operation.AVERAGE),
            Aggregation("value", Operation.MIN, windows=(Window.days(30),)),
            Aggregation("value", Operation.MAX, windows=(Window.days(7),)),
            Aggregation("value", Operation.VARIANCE, windows=(Window.days(14),)),
            Aggregation("value", Operation.LAST),
            Aggregation("value", Operation.UNIQUE_COUNT, windows=(Window.days(7),)),
        ),
        name="user_value",
    )
    out = group_by_asof(spark, gb, _event_queries(spark, sf_dir))
    return out.select(
        "user_id",
        "ts",
        F.col("value_count_7d"),
        _r6(F.col("value_sum_7d") / 100).alias("value_sum_7d"),
        _r6(F.col("value_average") / 100).alias("value_average"),
        _r6(F.col("value_min_30d") / 100).alias("value_min_30d"),
        _r6(F.col("value_max_7d") / 100).alias("value_max_7d"),
        _r6(F.col("value_variance_14d") / 10000).alias("value_variance_14d"),
        _r6(F.col("value_last") / 100).alias("value_last"),
        F.col("value_unique_count_7d"),
    )


_ASOF_ORACLE = f"""
WITH ev0 AS (SELECT user_id, floor(value * 100 + 0.5) AS c, epoch_ms(ts) AS ts FROM events),
k AS (SELECT user_id, min(c) AS kv FROM ev0 GROUP BY user_id),
ev AS (SELECT ev0.user_id, ev0.c, ev0.c - k.kv AS csh, ev0.ts
       FROM ev0 JOIN k ON ev0.user_id = k.user_id),
q AS (SELECT DISTINCT user_id, ts FROM ev),
agg AS (
  SELECT q.user_id, q.ts,
     count(CASE WHEN e.ts > q.ts - {7 * DAY_MS} THEN e.c END) AS cnt7,
     CAST(sum(CASE WHEN e.ts > q.ts - {7 * DAY_MS} THEN e.c END) AS DOUBLE) AS sum7,
     CAST(sum(e.c) AS DOUBLE) AS sum_all, CAST(count(e.c) AS DOUBLE) AS cnt_all,
     min(CASE WHEN e.ts > q.ts - {30 * DAY_MS} THEN e.c END) AS min30,
     max(CASE WHEN e.ts > q.ts - {7 * DAY_MS} THEN e.c END) AS max7,
     CAST(sum(CASE WHEN e.ts > q.ts - {14 * DAY_MS} THEN e.csh * e.csh END) AS DOUBLE) AS ssq14,
     CAST(sum(CASE WHEN e.ts > q.ts - {14 * DAY_MS} THEN e.csh END) AS DOUBLE) AS sum14,
     CAST(count(CASE WHEN e.ts > q.ts - {14 * DAY_MS} THEN e.c END) AS DOUBLE) AS cnt14,
     arg_max(e.c, e.ts) AS last_c,
     count(DISTINCT CASE WHEN e.ts > q.ts - {7 * DAY_MS} THEN e.c END) AS uniq7
  FROM q LEFT JOIN ev e ON e.user_id = q.user_id AND e.ts <= q.ts
  GROUP BY q.user_id, q.ts
)
SELECT user_id, ts,
   cnt7 AS value_count_7d,
   round(sum7 / 100, 6) AS value_sum_7d,
   round((sum_all / cnt_all) / 100, 6) AS value_average,
   round(min30 / 100, 6) AS value_min_30d,
   round(max7 / 100, 6) AS value_max_7d,
   round(CASE WHEN cnt14 > 0
         THEN greatest(ssq14 / cnt14 - (sum14 / cnt14) * (sum14 / cnt14), 0) END / 10000, 6)
     AS value_variance_14d,
   round(last_c / 100, 6) AS value_last,
   uniq7 AS value_unique_count_7d
FROM agg
"""


def q_asof_join_multipart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chronon_spark.api.types import (
        Aggregation,
        GroupBy,
        Join,
        JoinPart,
        Operation,
        Window,
    )
    from chronon_spark.operators.asof_join import join_asof

    left_src = _events_source(sf_dir)
    cents_src = _events_source(sf_dir, cents=True)
    gb1 = GroupBy(
        sources=(cents_src,),
        key_columns=("user_id",),
        aggregations=(Aggregation("value", Operation.SUM, windows=(Window.days(7),)),),
        name="v7",
    )
    gb2 = GroupBy(
        sources=(cents_src,),
        key_columns=("user_id",),
        aggregations=(Aggregation("value", Operation.COUNT),),
        name="cnt",
    )
    j = Join(left=left_src, join_parts=(JoinPart(gb1), JoinPart(gb2)), name="entry_join")
    out = join_asof(spark, j)
    return out.select(
        "event_id",
        "user_id",
        "ts",
        _r6("value").alias("value"),
        "event_type",
        _r6(F.col("v7_value_sum_7d") / 100).alias("v7_value_sum_7d"),
        F.col("cnt_value_count"),
        _r6(F.col("v7_value_sum_7d") / F.col("cnt_value_count") / 100).alias(
            "sum_per_event"
        ),
    )


_ASOF_JOIN_ORACLE = f"""
WITH ev AS (SELECT event_id, user_id, value, floor(value * 100 + 0.5) AS c,
                   event_type, epoch_ms(ts) AS ts FROM events),
feats AS (
  SELECT q.event_id,
     CAST(sum(CASE WHEN e.ts > q.ts - {7 * DAY_MS} THEN e.c END) AS DOUBLE) AS s7,
     count(e.c) AS cc
  FROM ev q LEFT JOIN ev e ON e.user_id = q.user_id AND e.ts <= q.ts
  GROUP BY q.event_id
)
SELECT q.event_id, q.user_id, q.ts, round(q.value, 6) AS value, q.event_type,
       round(f.s7 / 100, 6) AS v7_value_sum_7d,
       f.cc AS cnt_value_count,
       round(f.s7 / f.cc / 100, 6) AS sum_per_event
FROM ev q JOIN feats f ON f.event_id = q.event_id
"""


def q_asof_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chronon_spark.api.types import Aggregation, GroupBy, Operation, Window
    from chronon_spark.operators.asof_join import group_by_asof

    gb = GroupBy(
        sources=(_events_source(sf_dir, cents=True),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.SUM, windows=(Window.days(7),), buckets=("event_type",)),
            Aggregation("value", Operation.COUNT, buckets=("event_type",)),
        ),
        name="bucketed",
    )
    out = group_by_asof(spark, gb, _event_queries(spark, sf_dir))
    m_sum, m_cnt = "value_sum_7d_by_event_type", "value_count_by_event_type"
    return out.select(
        "user_id",
        "ts",
        _r6(F.element_at(m_sum, "click") / 100).alias("click_sum_7d"),
        _r6(F.element_at(m_sum, "purchase") / 100).alias("purchase_sum_7d"),
        F.element_at(m_cnt, "view").alias("view_count"),
        F.element_at(m_cnt, "error").alias("error_count"),
    )


_ASOF_BUCKETED_ORACLE = f"""
WITH ev AS (SELECT user_id, floor(value * 100 + 0.5) AS c, event_type, epoch_ms(ts) AS ts FROM events),
q AS (SELECT DISTINCT user_id, ts FROM ev)
SELECT q.user_id, q.ts,
   round(CAST(sum(CASE WHEN e.event_type = 'click' AND e.ts > q.ts - {7 * DAY_MS} THEN e.c END) AS DOUBLE) / 100, 6) AS click_sum_7d,
   round(CAST(sum(CASE WHEN e.event_type = 'purchase' AND e.ts > q.ts - {7 * DAY_MS} THEN e.c END) AS DOUBLE) / 100, 6) AS purchase_sum_7d,
   NULLIF(count(CASE WHEN e.event_type = 'view' THEN e.c END), 0) AS view_count,
   NULLIF(count(CASE WHEN e.event_type = 'error' THEN e.c END), 0) AS error_count
FROM q LEFT JOIN ev e ON e.user_id = q.user_id AND e.ts <= q.ts
GROUP BY q.user_id, q.ts
"""


def q_asof_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chronon_spark.api.types import Aggregation, GroupBy, Operation, Window
    from chronon_spark.operators.asof_join import group_by_asof

    gb = GroupBy(
        sources=(_events_source(sf_dir, cents=True),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation(
                "value",
                Operation.APPROX_PERCENTILE,
                {"percentiles": [0.5]},
                windows=(Window.days(7),),
            ),
        ),
        name="pct",
    )
    out = group_by_asof(spark, gb, _event_queries(spark, sf_dir))
    return out.select(
        "user_id",
        "ts",
        _r6(F.element_at("value_approx_percentile_7d", 1) / 100).alias("value_p50_7d"),
    )


_ASOF_PCT_ORACLE = f"""
WITH ev AS (SELECT user_id, floor(value * 100 + 0.5) AS c, epoch_ms(ts) AS ts FROM events),
q AS (SELECT DISTINCT user_id, ts FROM ev)
SELECT q.user_id, q.ts,
   round(quantile_cont(CASE WHEN e.ts > q.ts - {7 * DAY_MS} THEN e.c END, 0.5) / 100, 6) AS value_p50_7d
FROM q LEFT JOIN ev e ON e.user_id = q.user_id AND e.ts <= q.ts
GROUP BY q.user_id, q.ts
"""


# ---------------------------------------------------------------------------
# Snapshot (daily) GroupBy
# ---------------------------------------------------------------------------

def q_snapshot_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chronon_spark.api.types import Aggregation, GroupBy, Operation, Window
    from chronon_spark.operators.snapshot_groupby import snapshot_group_by

    gb = GroupBy(
        sources=(_events_source(sf_dir, cents=True),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.COUNT, windows=(Window.days(7),)),
            Aggregation("value", Operation.SUM, windows=(Window.days(7),)),
            Aggregation("value", Operation.AVERAGE, windows=(Window.days(14),)),
            Aggregation("value", Operation.MIN, windows=(Window.days(7),)),
            Aggregation("value", Operation.MAX),
            Aggregation("value", Operation.UNIQUE_COUNT, windows=(Window.days(7),)),
        ),
        name="snap",
    )
    out = snapshot_group_by(spark, gb, SNAP_START, SNAP_END)
    return out.select(
        "user_id",
        "ds",
        "value_count_7d",
        _r6(F.col("value_sum_7d") / 100).alias("value_sum_7d"),
        _r6(F.col("value_average_14d") / 100).alias("value_average_14d"),
        _r6(F.col("value_min_7d") / 100).alias("value_min_7d"),
        _r6(F.col("value_max") / 100).alias("value_max"),
        "value_unique_count_7d",
    )


_SNAPSHOT_ORACLE = f"""
WITH ev AS (SELECT user_id, floor(value * 100 + 0.5) AS c, epoch_ms(ts) AS ts FROM events),
days AS (SELECT unnest(generate_series(DATE '{SNAP_START}', DATE '{SNAP_END}', INTERVAL 1 DAY)) AS d),
grid AS (SELECT DISTINCT user_id, d FROM ev, days),
j AS (
  SELECT g.user_id, g.d, e.c, e.ts, epoch_ms(g.d + INTERVAL 1 DAY) AS eod
  FROM grid g LEFT JOIN ev e ON e.user_id = g.user_id AND e.ts < epoch_ms(g.d + INTERVAL 1 DAY)
)
SELECT user_id, strftime(d, '%Y-%m-%d') AS ds,
  count(CASE WHEN ts >= eod - {7 * DAY_MS} THEN c END) AS value_count_7d,
  round(CAST(sum(CASE WHEN ts >= eod - {7 * DAY_MS} THEN c END) AS DOUBLE) / 100, 6) AS value_sum_7d,
  round((CAST(sum(CASE WHEN ts >= eod - {14 * DAY_MS} THEN c END) AS DOUBLE)
         / count(CASE WHEN ts >= eod - {14 * DAY_MS} THEN c END)) / 100, 6) AS value_average_14d,
  round(min(CASE WHEN ts >= eod - {7 * DAY_MS} THEN c END) / 100, 6) AS value_min_7d,
  round(max(c) / 100, 6) AS value_max,
  count(DISTINCT CASE WHEN ts >= eod - {7 * DAY_MS} THEN c END) AS value_unique_count_7d
FROM j GROUP BY user_id, d
"""


# ---------------------------------------------------------------------------
# Row-analytics: lag/lead, sessionization
# ---------------------------------------------------------------------------

def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chronon_spark.operators.analytic import with_lag_lead
    from chronon_spark.sources.scan import millis_expr

    df = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("event_id", "user_id", "value", f"{millis_expr('ts')} AS ts")
    )
    out = with_lag_lead(df, keys=["user_id"], value_cols=["value"], offsets=(1,))
    return out.select(
        "event_id",
        "user_id",
        "ts",
        _r6("value").alias("value"),
        _r6("value_lag_1").alias("value_lag_1"),
        _r6("value_lead_1").alias("value_lead_1"),
    )


_LAG_LEAD_ORACLE = """
WITH ev AS (SELECT event_id, user_id, value, epoch_ms(ts) AS ts FROM events)
SELECT event_id, user_id, ts, round(value, 6) AS value,
   round(lag(value) OVER w, 6) AS value_lag_1,
   round(lead(value) OVER w, 6) AS value_lead_1
FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)
"""


def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity intervals from the event log treated as an entity
    update stream (operators/scd2.py): one surviving row per distinct
    (event_type, cents) version per user, half-open [valid_from,
    valid_to) — the interval encoding of the same history the
    temporal-entities replay (mutations.py) consumes as deltas. No-op
    updates collapse; duplicate-ts updates resolve to the greatest
    attribute tuple on both engines."""
    from chronon_spark.operators.scd2 import scd2_intervals
    from chronon_spark.sources.scan import millis_expr

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id",
        f"{millis_expr('ts')} AS ts",
        "event_type",
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents",
    )
    return scd2_intervals(
        ev, ["user_id"], ["event_type", "cents"], ts_col="ts"
    )


_SCD2_ORACLE = """
WITH upd AS (
  SELECT user_id, epoch_ms(ts) AS ts, event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
one AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_id, ts
    ORDER BY event_type DESC NULLS LAST, cents DESC NULLS LAST
  ) AS rn FROM upd
),
u AS (SELECT user_id, ts, event_type, cents FROM one WHERE rn = 1),
k AS (
  SELECT *, lag(ts) OVER w AS pt, lag(event_type) OVER w AS pe,
         lag(cents) OVER w AS pc
  FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
kept AS (
  SELECT user_id, ts, event_type, cents FROM k
  WHERE pt IS NULL OR event_type IS DISTINCT FROM pe
     OR cents IS DISTINCT FROM pc
)
SELECT user_id, event_type, cents, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to
FROM kept
"""


def q_decayed_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed as-of counter (half-life 3 days,
    hop-granular decay): precise inclusive head in the query's own hop +
    hopped tail of per-hop IRs weighted 2^-d (operators/decay.py; the
    reference's HopsAggregator/SawtoothOnlineAggregator architecture with
    decay at merge time). Integer-cent values and power-of-two weights
    make the BIGINT result bit-exact against the oracle."""
    from chronon_spark.operators.decay import decayed_sum_asof
    from chronon_spark.sources.scan import millis_expr

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id",
        f"{millis_expr('ts')} AS ts",
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents",
    )
    qr = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_id", "user_id", f"{millis_expr('ts')} AS ts"
    )
    return decayed_sum_asof(
        ev, qr, "user_id", "ts", "cents", half_life_ms=259_200_000,
        query_id_col="event_id",
    )


_DECAYED_SUM_ORACLE = """
WITH ev AS (SELECT user_id, epoch_ms(ts) AS ts,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
                   epoch_ms(ts) // 259200000 AS b FROM events),
q AS (SELECT event_id, user_id, epoch_ms(ts) AS ts,
             epoch_ms(ts) // 259200000 AS b FROM events),
head AS (
  SELECT q.event_id, CAST(COALESCE(SUM(e.c), 0) AS BIGINT) AS h
  FROM q LEFT JOIN ev e
    ON e.user_id = q.user_id AND e.b = q.b AND e.ts <= q.ts
  GROUP BY q.event_id),
hs AS (SELECT user_id, b, CAST(SUM(c) AS BIGINT) AS s FROM ev GROUP BY 1, 2),
tail AS (
  SELECT q.event_id,
         CAST(SUM(hs.s * (CAST(1 AS BIGINT) << CAST(20 - (q.b - hs.b) AS INT)))
              AS BIGINT) AS t
  FROM q JOIN hs
    ON hs.user_id = q.user_id AND hs.b BETWEEN q.b - 20 AND q.b - 1
  GROUP BY q.event_id)
SELECT q.event_id, q.user_id, q.ts,
       CAST(head.h * (CAST(1 AS BIGINT) << 20) + COALESCE(tail.t, 0)
            AS BIGINT) AS decayed_q
FROM q
JOIN head ON head.event_id = q.event_id
LEFT JOIN tail ON tail.event_id = q.event_id
"""


def q_label_sawtooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-window label join, event granularity (the reference's
    `label-join` run mode, repo/constants.py:26): for each event row the
    SUM/COUNT of user activity STRICTLY after it, through the end of its
    day plus 7 whole day-hops (forward sawtooth — exact leakage edge,
    hop-rounded far edge; operators/label_join.py)."""
    from chronon_spark.operators.label_join import label_sawtooth
    from chronon_spark.sources.scan import millis_expr

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id",
        f"{millis_expr('ts')} AS ts",
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents",
    )
    qr = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_id", "user_id", f"{millis_expr('ts')} AS ts"
    )
    return label_sawtooth(
        ev, qr, "user_id", "ts", "cents",
        hop_ms=86_400_000, n_hops=7, query_id_col="event_id",
    )


_LABEL_SAWTOOTH_ORACLE = """
WITH ev AS (SELECT user_id, epoch_ms(ts) AS ts,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
                   epoch_ms(ts) // 86400000 AS b FROM events),
q AS (SELECT event_id, user_id, epoch_ms(ts) AS ts,
             epoch_ms(ts) // 86400000 AS b FROM events)
SELECT q.event_id, q.user_id, q.ts,
       CAST(SUM(e.c) AS BIGINT) AS label_sum,
       COUNT(e.c) AS label_cnt
FROM q LEFT JOIN ev e
  ON e.user_id = q.user_id AND e.ts > q.ts AND e.b <= q.b + 7
GROUP BY q.event_id, q.user_id, q.ts
"""


def q_label_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-granularity label join (the reference's LabelJoin semantics;
    immature-window refresh is thrift api.thrift:100-106 recomputeDays):
    every order labeled with the customer's order mass over the NEXT 30
    days — sum/count/min/max of cents, NULL while no label has landed."""
    from chronon_spark.operators.label_join import label_join_snapshot

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    left = orders.selectExpr(
        "o_orderkey", "o_custkey AS k", "CAST(o_orderdate AS DATE) AS ds"
    )
    labels = orders.selectExpr(
        "o_custkey AS k",
        "CAST(o_orderdate AS DATE) AS ds",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
    )
    out = label_join_snapshot(left, labels, "k", "ds", "cents", offset_days=30)
    return out.select(
        "o_orderkey", "k",
        F.date_format("ds", "yyyy-MM-dd").alias("ds"),
        "label_sum", "label_cnt", "label_min", "label_max",
    )


_LABEL_SNAPSHOT_ORACLE = """
WITH o AS (SELECT o_orderkey, o_custkey AS k, CAST(o_orderdate AS DATE) AS ds,
                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           FROM orders)
SELECT l.o_orderkey, l.k, strftime(l.ds, '%Y-%m-%d') AS ds,
       CAST(SUM(r.cents) AS BIGINT) AS label_sum,
       CASE WHEN COUNT(r.cents) > 0 THEN COUNT(r.cents) END AS label_cnt,
       MIN(r.cents) AS label_min,
       MAX(r.cents) AS label_max
FROM o l LEFT JOIN o r
  ON r.k = l.k AND r.ds > l.ds AND r.ds <= l.ds + 30
GROUP BY l.o_orderkey, l.k, l.ds
"""


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe time-aware target encoding (operators/target_encode.py):
    smoothed prior-mean of each user's past event mass — EXACT strictly-
    before per-key prior (self/tie labels excluded), hop-granular global
    prior, all-BIGINT micro-unit arithmetic, bit-exact vs the oracle."""
    from chronon_spark.operators.target_encode import target_encode_asof
    from chronon_spark.sources.scan import millis_expr

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id",
        f"{millis_expr('ts')} AS ts",
        "CAST(floor(greatest(value, 0) * 100 + 0.5) AS BIGINT) AS cents",
    )
    qr = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_id", "user_id", f"{millis_expr('ts')} AS ts"
    )
    return target_encode_asof(
        ev, qr, "user_id", "ts", "cents",
        hop_ms=86_400_000, query_id_col="event_id", smoothing=20,
    )


_TARGET_ENCODE_ORACLE = """
WITH ev AS (SELECT user_id, epoch_ms(ts) AS ts,
                   CAST(floor(greatest(value, 0) * 100 + 0.5) AS BIGINT) AS c,
                   epoch_ms(ts) // 86400000 AS b FROM events),
q AS (SELECT event_id, user_id, epoch_ms(ts) AS ts,
             epoch_ms(ts) // 86400000 AS b FROM events),
gh AS (SELECT b, SUM(c) AS s, COUNT(*) AS n FROM ev GROUP BY b),
gcum AS (SELECT b,
  SUM(s) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS gs,
  SUM(n) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS gc
  FROM gh),
kp AS (SELECT q.event_id, CAST(COALESCE(SUM(e.c), 0) AS BIGINT) AS ks,
              COUNT(e.c) AS kc
       FROM q LEFT JOIN ev e
         ON e.user_id = q.user_id AND e.ts < q.ts
       GROUP BY q.event_id)
SELECT q.event_id, q.user_id, q.ts,
       CASE WHEN gcum.gc > 0 THEN
         CAST((kp.ks * 1000000 + 20 * ((1000000 * CAST(gcum.gs AS BIGINT)) // CAST(gcum.gc AS BIGINT)))
              // (kp.kc + 20) AS BIGINT)
       END AS te_micro
FROM q
JOIN kp ON kp.event_id = q.event_id
JOIN gcum ON gcum.b = q.b
"""


def q_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end point-in-time training-set export — the north-star
    composition in ONE plan: backward as-of features (exact windows,
    zero temporal leakage) + forward sawtooth labels (strictly-after
    edge) + entity-level leakage-safe split (hash of user_id, so one
    user never straddles train/val/test)."""
    from chronon_spark.api.types import Aggregation, GroupBy, Operation, Window
    from chronon_spark.operators.asof_join import group_by_asof
    from chronon_spark.operators.label_join import label_sawtooth
    from chronon_spark.operators.sampling import train_val_test_split
    from chronon_spark.sources.scan import millis_expr

    gb = GroupBy(
        sources=(_events_source(sf_dir, cents=True),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.COUNT, windows=(Window.days(7),)),
            Aggregation("value", Operation.SUM, windows=(Window.days(7),)),
        ),
        name="user_value",
    )
    queries = _event_queries(spark, sf_dir).distinct()
    feats = group_by_asof(spark, gb, queries)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id",
        f"{millis_expr('ts')} AS ts",
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents",
    )
    qd = queries.select(
        F.concat_ws(":", F.col("user_id"), F.col("ts")).alias("qid"),
        "user_id", "ts",
    )
    labels = label_sawtooth(
        ev, qd, "user_id", "ts", "cents",
        hop_ms=86_400_000, n_hops=7, query_id_col="qid",
    ).drop("qid")
    out = feats.join(labels, ["user_id", "ts"], "inner")
    return train_val_test_split(out, "user_id", seed=17).select(
        "user_id",
        "ts",
        "value_count_7d",
        _r6(F.col("value_sum_7d") / 100).alias("value_sum_7d"),
        "label_sum",
        "label_cnt",
        "split",
    )


_TRAINING_SET_ORACLE = f"""
WITH ev AS (SELECT user_id, epoch_ms(ts) AS ts,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
                   epoch_ms(ts) // 86400000 AS b FROM events),
q AS (SELECT DISTINCT user_id, ts, b FROM ev),
f AS (
  SELECT q.user_id, q.ts,
     count(CASE WHEN e.ts > q.ts - {7 * DAY_MS} THEN e.c END) AS value_count_7d,
     round(CAST(sum(CASE WHEN e.ts > q.ts - {7 * DAY_MS} THEN e.c END) AS DOUBLE) / 100, 6)
       AS value_sum_7d
  FROM q LEFT JOIN ev e ON e.user_id = q.user_id AND e.ts <= q.ts
  GROUP BY q.user_id, q.ts),
l AS (
  SELECT q.user_id, q.ts,
     CAST(SUM(CASE WHEN e.ts > q.ts AND e.b <= q.b + 7 THEN e.c END) AS BIGINT)
       AS label_sum,
     COUNT(CASE WHEN e.ts > q.ts AND e.b <= q.b + 7 THEN e.c END) AS label_cnt
  FROM q LEFT JOIN ev e ON e.user_id = q.user_id
  GROUP BY q.user_id, q.ts)
SELECT f.user_id, f.ts, f.value_count_7d, f.value_sum_7d,
       l.label_sum, l.label_cnt,
       CASE WHEN (CAST('0x' || substr(md5('17:' || CAST(f.user_id AS VARCHAR)), 1, 15) AS BIGINT)
                  % 1000000) < 900000 THEN 'train'
            WHEN (CAST('0x' || substr(md5('17:' || CAST(f.user_id AS VARCHAR)), 1, 15) AS BIGINT)
                  % 1000000) < 950000 THEN 'val'
            ELSE 'test' END AS split
FROM f JOIN l ON l.user_id = f.user_id AND l.ts = f.ts
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chronon_spark.operators.analytic import session_stats
    from chronon_spark.sources.scan import millis_expr

    df = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("user_id", f"{millis_expr('ts')} AS ts")
    )
    return session_stats(df, keys=["user_id"], gap_ms=GAP_MS)


_SESSIONIZE_ORACLE = f"""
WITH ev AS (SELECT user_id, epoch_ms(ts) AS ts FROM events),
s AS (
  SELECT user_id, ts,
     CASE WHEN lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w > {GAP_MS} THEN 1 ELSE 0 END AS st
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
t AS (
  SELECT user_id, ts,
     CAST(sum(st) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
  FROM s
)
SELECT user_id, session_id,
   min(ts) AS session_start_ts, max(ts) AS session_end_ts,
   max(ts) - min(ts) AS session_duration_ms,
   count(*) AS session_events
FROM t GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# Dedup family (documents)
# ---------------------------------------------------------------------------

def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chronon_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_dedup(docs, "doc_id").select("doc_id", "dup_count")


_EXACT_DEDUP_ORACLE = r"""
WITH h AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS hh
  FROM documents
)
SELECT min(doc_id) AS doc_id, count(*) AS dup_count FROM h GROUP BY hh
"""


_DUCK_SHINGLES = r"""
  SELECT doc_id,
         list_distinct([array_to_string(w[i:i+2], ' ')
                        for i in generate_series(1, greatest(len(w)-3, 0)+1)]) AS sh
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents)
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs on a deterministic md5 half-sample of the corpus: the oracle's
    verification is an O(n^2) brute-force pair join (that's what makes it
    an independent check of the PPJoin prefix filter), so halving docs
    quarters oracle pairs and keeps the 73-query driver suite inside its
    budget. Membership is a pure function of doc_id — identical in both
    engines."""
    from chronon_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1) < "8"
    )
    out = ngram_jaccard_pairs(docs, "doc_id", k=3, threshold=JACCARD_THRESHOLD)
    return out.select("id_a", "id_b", _r6("jaccard").alias("jaccard"))


# md5 half-sample twin of _DUCK_SHINGLES (see q_ngram_jaccard docstring)
_DUCK_SHINGLES_HALF = _DUCK_SHINGLES.replace(
    "FROM documents)", "FROM documents WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8')"
)

_NGRAM_JACCARD_ORACLE = f"""
WITH s AS ({_DUCK_SHINGLES_HALF}),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
     CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
  FROM s a JOIN s b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, round(j, 6) AS jaccard FROM pairs WHERE j >= {JACCARD_THRESHOLD}
"""


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chronon_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = minhash_lsh_pairs(
        docs, "doc_id", n_hashes=16, bands=4, shingle_k=3, verify_threshold=LSH_THRESHOLD
    )
    return out.select("id_a", "id_b", _r6("jaccard").alias("jaccard"))


def _minhash_oracle() -> str:
    from chronon_spark.operators.dedup import minhash_params

    mixes = ", ".join(
        f"list_min(list_transform(hs, h -> xor(({a} * (h & 1073741823)"
        f" + (({a} * (h >> 30)) & 1073741823) * 1073741824)"
        f" & 1152921504606846975, {c}::BIGINT)))"
        for a, c in minhash_params(16)
    )
    return f"""
WITH s AS ({_DUCK_SHINGLES}),
hashed AS (
  SELECT doc_id, sh,
     list_transform(sh, x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)) AS hs
  FROM s
),
sig AS (
  SELECT doc_id, sh, [{mixes}] AS sg
  FROM hashed
),""" + _MINHASH_ORACLE_TAIL


_MINHASH_ORACLE_TAIL = f"""
banded AS (
  SELECT doc_id, sh,
         unnest(range(0, 4)) AS band,
         unnest([md5(array_to_string(sg[b*4+1:b*4+4], ',')) for b in range(0, 4)]) AS bucket
  FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
scored AS (
  SELECT id_a, id_b,
     CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
       / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) AS j
  FROM cand
)
SELECT id_a, id_b, round(j, 6) AS jaccard FROM scored WHERE j >= {LSH_THRESHOLD}
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair resolution: hash-min connected components over the
    MinHash-LSH pairs -> (id, cluster_id=min id of the component). The
    oracle recomputes the same pairs bit-exactly (the minhash SQL mirror)
    and closes them transitively with a recursive CTE."""
    from chronon_spark.operators.dedup import duplicate_clusters, minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", n_hashes=16, bands=4, shingle_k=3, verify_threshold=LSH_THRESHOLD
    )
    return duplicate_clusters(pairs).select("id", "cluster_id")


def _dedup_clusters_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({_minhash_oracle()})),
e AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src
)
SELECT src AS id, least(src, min(dst)) AS cluster_id FROM reach GROUP BY src
"""


def q_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling: per-stratum (lang) fractions + exact
    top-k-per-key quality selection — membership is a pure function of
    (seed, doc_id), identical across partitionings and engines (Spark's
    Bernoulli sample is not)."""
    from chronon_spark.operators.sampling import stratified_sample, top_k_per_key

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    st = stratified_sample(docs, "lang", {"en": 0.5, "de": 0.2}, "doc_id", seed=7)
    best = top_k_per_key(docs, "lang", 5, "doc_id", order_col="n_chars").select(
        F.col("doc_id").alias("best_doc_id"), F.col("lang").alias("best_lang")
    )
    return st.select("doc_id", "lang").join(
        best, st["doc_id"] == best["best_doc_id"], "full"
    ).select("doc_id", "lang", "best_doc_id", "best_lang")


_DOC_SAMPLE_ORACLE = """
WITH docs AS (SELECT doc_id, lang, n_chars FROM documents),
st AS (
  SELECT doc_id, lang FROM docs
  WHERE (CAST('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000)
      < CAST((CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.2 ELSE 0.0 END) * 1000000 AS BIGINT)
),
best AS (
  SELECT doc_id AS best_doc_id, lang AS best_lang FROM (
    SELECT doc_id, lang,
       row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rn
    FROM docs
  ) WHERE rn <= 5
)
SELECT st.doc_id, st.lang, best.best_doc_id, best.best_lang
FROM st FULL JOIN best ON st.doc_id = best.best_doc_id
"""

def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: membership is a pure function
    of (seed, doc_id) via integer bucket thresholds — stable across
    partitionings, appends, and engines."""
    from chronon_spark.operators.sampling import train_val_test_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return train_val_test_split(
        docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}, seed=11
    ).select("doc_id", "split")


_CORPUS_SPLIT_ORACLE = """
SELECT doc_id,
   CASE WHEN b < 900000 THEN 'train'
        WHEN b < 950000 THEN 'val'
        ELSE 'test' END AS split
FROM (
  SELECT doc_id,
     CAST('0x' || substr(md5('11:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
       % 1000000 AS b
  FROM documents
)
"""


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language mix (count^alpha target mass,
    alpha=0.5 — the multilingual pretraining sampling knob): head
    languages are hash-downsampled toward the damped distribution, the
    smallest kept whole. Oracle recomputes the per-key acceptance
    fractions in SQL with the identical FP operations."""
    from chronon_spark.operators.sampling import temperature_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "lang")
    return temperature_mix(docs, "lang", alpha=0.5, id_col="doc_id", seed=13).select(
        "doc_id", "lang"
    )


_TEMPERATURE_MIX_ORACLE = """
WITH counts AS (
  SELECT lang, CAST(COUNT(*) AS DOUBLE) AS c FROM documents
  WHERE lang IS NOT NULL GROUP BY lang
),
raw AS (SELECT lang, pow(c, -0.5) AS r FROM counts),
fr AS (SELECT lang, least(1.0, r / (SELECT max(r) FROM raw)) AS f FROM raw)
SELECT d.doc_id, d.lang
FROM documents d JOIN fr ON d.lang = fr.lang
WHERE (CAST('0x' || substr(md5('13:' || CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
     % 1000000) < CAST(floor(f * 1000000) AS BIGINT)
"""


def q_temperature_mix_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-mass temperature mix (the published definition: mT5's
    p_k ∝ tokens_k^alpha, not docs^alpha): per-language mass measured
    as sum(n_chars) via temperature_mix(weight_col=...), acceptance
    still doc-level. Oracle recomputes the per-key fractions over the
    identical summed mass with the identical FP operations."""
    from chronon_spark.operators.sampling import temperature_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    return temperature_mix(
        docs, "lang", alpha=0.5, id_col="doc_id", seed=13, weight_col="n_chars"
    ).select("doc_id", "lang")


_TEMPERATURE_MIX_TOKENS_ORACLE = """
WITH counts AS (
  SELECT lang, CAST(SUM(n_chars) AS DOUBLE) AS c FROM documents
  WHERE lang IS NOT NULL GROUP BY lang HAVING SUM(n_chars) > 0
),
raw AS (SELECT lang, pow(c, -0.5) AS r FROM counts),
fr AS (SELECT lang, least(1.0, r / (SELECT max(r) FROM raw)) AS f FROM raw)
SELECT d.doc_id, d.lang
FROM documents d JOIN fr ON d.lang = fr.lang
WHERE (CAST('0x' || substr(md5('13:' || CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
     % 1000000) < CAST(floor(f * 1000000) AS BIGINT)
"""


def q_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle without a global sort:
    shard = hash % 8, pos = hash rank within shard — one shuffle on the
    shard key + local sort (vs a range-partitioned orderBy over the whole
    corpus)."""
    from chronon_spark.operators.sampling import shuffle_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return shuffle_shards(docs, "doc_id", n_shards=8, seed=5).select(
        "doc_id", "shard", "pos"
    )


_SHARD_SHUFFLE_ORACLE = """
WITH h AS (
  SELECT doc_id,
     CAST('0x' || substr(md5('5:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hh
  FROM documents
)
SELECT doc_id, CAST(hh % 8 AS INTEGER) AS shard,
   CAST(row_number() OVER (PARTITION BY hh % 8 ORDER BY hh ASC, doc_id ASC)
     AS INTEGER) AS pos
FROM h
"""


_PACK_MAX = 4096
_PACK_SHARDS = 8


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (next-fit into max-token bins per hash shard) —
    the fixed-context-window training-row assembler. The oracle replays
    the identical sequential semantics with a lockstep recursive CTE."""
    from chronon_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(
        "doc_id", "length(text) div 4 AS n_tok"
    )
    out = pack_sequences(docs, "doc_id", "n_tok", _PACK_MAX, n_shards=_PACK_SHARDS)
    return out.select("id", "tokens", "shard", "bin", "oversize")


_PACK_ORACLE = f"""
WITH RECURSIVE t AS (
  SELECT doc_id AS id, CAST(length(text) // 4 AS BIGINT) AS tokens,
     CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % {_PACK_SHARDS} AS shard
  FROM documents
),
rk AS (SELECT *, row_number() OVER (PARTITION BY shard ORDER BY id) AS r FROM t),
rec AS (
  SELECT shard, r, id, tokens, CAST(0 AS BIGINT) AS bin, tokens AS fill FROM rk WHERE r = 1
  UNION ALL
  SELECT rk.shard, rk.r, rk.id, rk.tokens,
     CASE WHEN rec.fill > 0 AND rec.fill + rk.tokens > {_PACK_MAX}
          THEN rec.bin + 1 ELSE rec.bin END,
     CASE WHEN rec.fill > 0 AND rec.fill + rk.tokens > {_PACK_MAX}
          THEN rk.tokens ELSE rec.fill + rk.tokens END
  FROM rec JOIN rk ON rk.shard = rec.shard AND rk.r = rec.r + 1
)
SELECT id, tokens, shard, bin, tokens > {_PACK_MAX} AS oversize FROM rec
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (published n-gram-overlap method): flag
    training docs sharing any word 4-gram with the eval subset
    (doc_id % 50 == 0). Eval gram hashes broadcast; corpus side prunes
    via the broadcast semi-join before any shuffle."""
    from chronon_spark.operators.dedup import benchmark_contamination

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    eval_df = docs.where("doc_id % 50 = 0")
    out = benchmark_contamination(docs, eval_df, "doc_id", k=4)
    return out.select("id", "n_hits", "contaminated")


_DECONTAM_ORACLE = r"""
WITH corpus AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
),
g AS (
  SELECT doc_id,
     unnest(CASE WHEN len(w) >= 4
            THEN list_distinct([array_to_string(w[i:i+3], ' ')
                                for i in generate_series(1, len(w) - 3)])
            ELSE [array_to_string(w, ' ')] END) AS gram
  FROM corpus
),
gh AS (SELECT doc_id, CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS h FROM g),
ev AS (SELECT DISTINCT h FROM gh WHERE doc_id % 50 = 0),
hits AS (
  SELECT gh.doc_id, count(DISTINCT gh.h) AS n_hits
  FROM gh JOIN ev ON gh.h = ev.h GROUP BY gh.doc_id
)
SELECT c.doc_id AS id,
   COALESCE(h.n_hits, 0) AS n_hits,
   COALESCE(h.n_hits, 0) >= 1 AS contaminated
FROM (SELECT DISTINCT doc_id FROM documents) c
LEFT JOIN hits h ON c.doc_id = h.doc_id
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl dedup: the new batch (doc_id % 3 != 0) deduped
    against the existing snapshot (doc_id % 3 == 0) — exact hash anti-join
    + banded-MinHash collisions verified at Jaccard >= 0.85. Output: the
    surviving new doc ids."""
    from chronon_spark.operators.dedup import incremental_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    snap = docs.where("doc_id % 3 = 0")
    new = docs.where("doc_id % 3 != 0")
    out = incremental_dedup(
        new, snap, "doc_id", snapshot_id_col="doc_id", jaccard_threshold=0.85
    )
    return out.select("doc_id")


def _incremental_oracle() -> str:
    from chronon_spark.operators.dedup import minhash_params

    mixes = ", ".join(
        f"list_min(list_transform(hs, h -> xor(({a} * (h & 1073741823)"
        f" + (({a} * (h >> 30)) & 1073741823) * 1073741824)"
        f" & 1152921504606846975, {c}::BIGINT)))"
        for a, c in minhash_params(16)
    )
    return f"""
WITH s AS ({_DUCK_SHINGLES}),
hashed AS (
  SELECT doc_id, sh,
     list_transform(sh, x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)) AS hs
  FROM s
),
sig AS (SELECT doc_id, sh, [{mixes}] AS sg FROM hashed),
banded AS (
  SELECT doc_id,
         unnest(range(0, 4)) AS band,
         unnest([md5(array_to_string(sg[b*4+1:b*4+4], ',')) for b in range(0, 4)]) AS bucket
  FROM sig
),
ex AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS hh
  FROM documents
),
surv AS (
  SELECT e.doc_id FROM ex e WHERE e.doc_id % 3 <> 0
  AND NOT EXISTS (SELECT 1 FROM ex p WHERE p.doc_id % 3 = 0 AND p.hh = e.hh)
),
dup AS (
  SELECT DISTINCT a.doc_id
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
  JOIN surv sv ON sv.doc_id = a.doc_id
  JOIN s sa ON sa.doc_id = a.doc_id
  JOIN s sb ON sb.doc_id = b.doc_id
  WHERE b.doc_id % 3 = 0
    AND CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.85
)
SELECT doc_id FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM dup)
"""


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-LM scoring: per-doc mean negative log-prob
    under a self-trained unigram LM (per-token -logp quantized to 1e-6
    units so the per-doc aggregate is exact integer arithmetic)."""
    from chronon_spark.operators.textstats import unigram_logprob_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return unigram_logprob_score(docs, "doc_id")


_UNIGRAM_ORACLE = r"""
WITH nt AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents
),
tk AS (SELECT doc_id, unnest(string_split(t, ' ')) AS token FROM nt),
c AS (SELECT token, count(*) AS c FROM tk GROUP BY token),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM c),
q AS (
  SELECT tk.doc_id,
     CAST(floor((-(ln(CAST(c.c AS DOUBLE)) - ln(tot.n))) * 1000000 + 0.5) AS BIGINT) AS qn
  FROM tk JOIN c USING (token) CROSS JOIN tot
)
SELECT doc_id AS id, count(*) AS n_tokens,
   CAST(sum(qn) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0 AS mean_neg_logp
FROM q GROUP BY doc_id
"""


def q_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram Stupid Backoff LM scoring (Brants et al. 2007 — the
    published web-scale LM: every quantity a raw count, sharded joins):
    per-doc mean negative log-score with a REAL context model, plus the
    backoff count (unusual-word-order signal). Self-trained; per-position
    scores quantized to integer micro-nats so the per-doc aggregate is
    exact integer arithmetic (textstats.stupid_backoff_score)."""
    from chronon_spark.operators.textstats import stupid_backoff_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stupid_backoff_score(docs, "doc_id")


_STUPID_BACKOFF_ORACLE = r"""
WITH nt AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents
),
ta AS (SELECT doc_id, string_split(t, ' ') AS toks FROM nt),
tok AS (
  SELECT doc_id, p.pos, p.w2,
         CASE WHEN p.pos = 1 THEN NULL ELSE toks[p.pos - 1] END AS w1
  FROM ta, LATERAL (
    SELECT unnest(toks) AS w2, generate_subscripts(toks, 1) AS pos) p
),
uc AS (SELECT w2 AS token, count(*) AS c FROM tok GROUP BY 1),
bc AS (SELECT w1, w2, count(*) AS b FROM tok WHERE w1 IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM uc),
q AS (
  SELECT tok.doc_id,
    CASE
      WHEN tok.w1 IS NULL THEN
        CAST(floor((-(ln(CAST(coalesce(c2.c, 1) AS DOUBLE)) - ln(tot.n)))
             * 1000000 + 0.5) AS BIGINT)
      WHEN bc.b IS NOT NULL AND c1.c IS NOT NULL THEN
        CAST(floor((-(ln(CAST(bc.b AS DOUBLE)) - ln(CAST(c1.c AS DOUBLE))))
             * 1000000 + 0.5) AS BIGINT)
      ELSE
        CAST(floor((-(ln(CAST(coalesce(c2.c, 1) AS DOUBLE)) - ln(tot.n)))
             * 1000000 + 0.5) AS BIGINT) + 916291
    END AS qn,
    CASE WHEN tok.w1 IS NOT NULL AND (bc.b IS NULL OR c1.c IS NULL)
         THEN 1 ELSE 0 END AS bo
  FROM tok
  LEFT JOIN uc c2 ON c2.token = tok.w2
  LEFT JOIN uc c1 ON c1.token = tok.w1
  LEFT JOIN bc ON bc.w1 = tok.w1 AND bc.w2 = tok.w2
  CROSS JOIN tot
)
SELECT doc_id AS id, count(*) AS n_tokens,
   CAST(sum(bo) AS BIGINT) AS n_backoff,
   CAST(sum(qn) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0
     AS mean_neg_logscore
FROM q GROUP BY doc_id
"""


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail (Wenzek et al. 2020): per-language equal-
    count perplexity tiers under the self-trained unigram LM. mode="auto"
    measures max per-language mass and routes rank vs rank_scaled —
    identical output either way (pytest-pinned); at sf0.01 it picks the
    lazy exact-ntile rank plan."""
    from chronon_spark.operators.textstats import ccnet_buckets

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ccnet_buckets(docs, "doc_id", mode="auto")


# Same integer-exact score CTE as _UNIGRAM_ORACLE, then SQL-standard
# ntile within language (identical remainder-to-lower-tiles semantics in
# Spark and DuckDB; the (score, id) order is total so tiles are unique).
_CCNET_ORACLE = r"""
WITH nt AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents
),
tk AS (SELECT doc_id, unnest(string_split(t, ' ')) AS token FROM nt),
c AS (SELECT token, count(*) AS c FROM tk GROUP BY token),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM c),
q AS (
  SELECT tk.doc_id,
     CAST(floor((-(ln(CAST(c.c AS DOUBLE)) - ln(tot.n))) * 1000000 + 0.5) AS BIGINT) AS qn
  FROM tk JOIN c USING (token) CROSS JOIN tot
),
sc AS (
  SELECT doc_id AS id, count(*) AS n_tokens,
     CAST(sum(qn) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0 AS mean_neg_logp
  FROM q GROUP BY doc_id
),
b AS (
  SELECT sc.id, d.lang, sc.n_tokens, sc.mean_neg_logp,
     ntile(3) OVER (PARTITION BY d.lang
                    ORDER BY sc.mean_neg_logp ASC, sc.id ASC) AS bucket
  FROM sc JOIN documents d ON sc.id = d.doc_id
)
SELECT id, lang, n_tokens, mean_neg_logp, CAST(bucket AS INT) AS bucket,
   CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS label
FROM b
"""


def q_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-INTERNAL exact-substring duplication at doc granularity
    (Lee et al. 2022 ExactSubstr signal): per doc, how many of its
    normalized word 8-grams appear in >= 2 documents."""
    from chronon_spark.operators.dedup import duplicated_span_flags

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return duplicated_span_flags(docs, "doc_id", k=8).select(
        "id", "n_spans", "n_dup_spans", "dup_span_frac", "flagged"
    )


def q_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span REMOVAL (Lee et al. 2022): cut every token run
    covered by a cross-document-duplicated word 8-gram out of the
    normalized text; unique prose survives verbatim."""
    from chronon_spark.operators.dedup import remove_duplicated_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return remove_duplicated_spans(docs, "doc_id", k=8).select(
        "id", "clean_text", "n_tokens", "n_removed", "removed_frac", "flagged"
    )


# Independent DuckDB formulation: positioned 8-grams via a list
# comprehension, doc-frequency on DISTINCT (doc, gram-hash), covered
# token positions as the union of [pos, pos+8) per duplicated gram,
# rebuild via ORDER BY string_agg over the anti-joined token list.
_SPAN_REMOVAL_ORACLE = r"""
WITH nt AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents
),
c AS (SELECT doc_id, regexp_split_to_array(trim(t), '\s+') AS w FROM nt),
g AS (
  SELECT doc_id,
     unnest([{'pos': i - 1,
              'h': CAST('0x' || substr(md5(array_to_string(w[i:i+7], ' ')), 1, 15)
                    AS BIGINT)}
             for i in generate_series(1, len(w) - 7)],
            recursive := true)
  FROM c WHERE len(w) >= 8
),
dup AS (
  SELECT h FROM (SELECT DISTINCT doc_id, h FROM g) GROUP BY h
  HAVING count(*) >= 2
),
cov AS (
  SELECT DISTINCT g.doc_id, g.pos + d.d AS tpos
  FROM g JOIN dup USING (h)
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS d) d
),
tok AS (
  SELECT doc_id,
     unnest([{'tpos': i - 1, 'tok': w[i]} for i in generate_series(1, len(w))],
            recursive := true)
  FROM c
),
kept AS (
  SELECT tok.doc_id, tok.tpos, tok.tok
  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.tpos = cov.tpos
  WHERE cov.tpos IS NULL
),
reb AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS ct, count(*) AS nk
  FROM kept GROUP BY doc_id
),
fl AS (SELECT DISTINCT doc_id FROM cov)
SELECT c.doc_id AS id,
   CASE WHEN fl.doc_id IS NULL THEN nt.t ELSE COALESCE(reb.ct, '') END AS clean_text,
   CAST(len(c.w) AS BIGINT) AS n_tokens,
   CAST(CASE WHEN fl.doc_id IS NULL THEN 0
             ELSE len(c.w) - COALESCE(reb.nk, 0) END AS BIGINT) AS n_removed,
   CAST(CASE WHEN fl.doc_id IS NULL THEN 0
             ELSE len(c.w) - COALESCE(reb.nk, 0) END AS DOUBLE)
     / CAST(len(c.w) AS DOUBLE) AS removed_frac,
   (CASE WHEN fl.doc_id IS NULL THEN 0
         ELSE len(c.w) - COALESCE(reb.nk, 0) END) > 0 AS flagged
FROM c
JOIN nt USING (doc_id)
LEFT JOIN fl ON c.doc_id = fl.doc_id
LEFT JOIN reb ON c.doc_id = reb.doc_id
"""


_DUP_SPANS_ORACLE = r"""
WITH nt AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents
),
c AS (SELECT doc_id, regexp_split_to_array(trim(t), '\s+') AS w FROM nt),
g AS (
  SELECT doc_id,
     unnest(CASE WHEN len(w) >= 8
            THEN list_distinct([array_to_string(w[i:i+7], ' ')
                                for i in generate_series(1, len(w) - 7)])
            ELSE [array_to_string(w, ' ')] END) AS gram
  FROM c
),
gh AS (SELECT doc_id, CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS h FROM g),
dup AS (SELECT h FROM gh GROUP BY h HAVING count(*) >= 2),
per AS (SELECT doc_id, count(*) AS n_spans FROM gh GROUP BY doc_id),
dupd AS (
  SELECT gh.doc_id, count(*) AS n_dup FROM gh JOIN dup USING (h) GROUP BY gh.doc_id
)
SELECT p.doc_id AS id, p.n_spans, COALESCE(d.n_dup, 0) AS n_dup_spans,
   CAST(COALESCE(d.n_dup, 0) AS DOUBLE) / p.n_spans AS dup_span_frac,
   COALESCE(d.n_dup, 0) > 0 AS flagged
FROM per p LEFT JOIN dupd d ON p.doc_id = d.doc_id
"""


def _plant_pii(docs: DataFrame) -> DataFrame:
    """Documents with deterministically PLANTED PII (the testdata docs
    carry none): every doc gets an email + phone appended, every 7th an
    IPv4, every 11th a card number. Shared by q_pii_redact and
    q_stream_curation; `_PII_PLANTED_CTE` is the SQL twin."""
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-123-"),
            F.lpad(F.pmod(F.col("doc_id"), 10000).cast("string"), 4, "0"),
            F.when(
                F.pmod(F.col("doc_id"), 7) == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    F.pmod(F.col("doc_id"), 256).cast("string"),
                    F.lit("."),
                    F.pmod(F.col("doc_id"), 100).cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.pmod(F.col("doc_id"), 11) == 0,
                F.lit(" card 4012-8888-8888-1881"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus with planted PII (see _plant_pii) so the
    cascade's counts and the redacted text are all exercised. The oracle
    evaluates the IDENTICAL RE2-safe pattern list (chronon_spark
    operators/pii.py builds both sides from one table)."""
    from chronon_spark.operators.pii import pii_scan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pii_scan(_plant_pii(docs), "doc_id")


_PII_PLANTED_CTE = """
planted AS (
  SELECT doc_id,
     text || ' contact user' || CAST(doc_id AS VARCHAR)
          || '@example.com or 555-123-'
          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          || CASE WHEN doc_id % 7 = 0
                  THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                       || '.' || CAST(doc_id % 100 AS VARCHAR)
                  ELSE '' END
          || CASE WHEN doc_id % 11 = 0
                  THEN ' card 4012-8888-8888-1881' ELSE '' END AS text
  FROM documents
)"""


def _pii_oracle() -> str:
    from chronon_spark.operators.pii import pii_oracle_sql

    body = pii_oracle_sql(table="planted")
    # splice the planted CTE in front of the generated WITH
    return body.replace("WITH c AS", f"WITH {_PII_PLANTED_CTE},\nc AS", 1)


def q_stream_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus curation (streaming/curation.py) drained via
    availableNow: quality gate -> PII redaction cascade -> watermark-
    bounded exact dedup over a file-backed crawl stream with planted PII.
    dropDuplicatesWithinWatermark keeps the FIRST-arriving duplicate
    (partition-order-dependent), so the query emits only columns that are
    functions of the surviving normalized text — which every member of a
    duplicate class shares — making the result deterministic; the batch
    oracle is one row per distinct surviving hash."""
    import tempfile

    from chronon_spark.streaming.curation import (
        stream_dedup_exact,
        stream_quality_filter,
        stream_redact_pii,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = tempfile.mkdtemp(prefix="cur_src_")
    (
        _plant_pii(docs)
        .withColumn(
            "ts",
            F.timestamp_millis(F.lit(1_700_000_000_000) + F.col("doc_id") * 1000),
        )
        .write.mode("overwrite")
        .parquet(d)
    )
    stream = spark.readStream.schema(spark.read.parquet(d).schema).parquet(d)
    cur = stream_quality_filter(stream, min_quality=0.3, min_tokens=20)
    cur = stream_redact_pii(cur)
    # Event times span minutes; a 30-day delay means the watermark never
    # evicts dedup state mid-drain => exactly one survivor per hash no
    # matter how availableNow batches the source files.
    cur = stream_dedup_exact(cur, "ts", watermark_delay="30 days")
    name = "drv_stream_curation"
    q = (
        cur.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return spark.table(name).select(
        F.md5(norm).alias("h"),
        F.length(norm).cast("long").alias("n_chars_norm"),
        F.size(F.split(norm, " ")).cast("long").alias("n_tok_norm"),
    )


def _stream_curation_oracle() -> str:
    from chronon_spark.operators.pii import pii_redact_oracle_expr
    from chronon_spark.operators.textstats import _STOPWORDS

    stop = "[" + ", ".join(f"'{w}'" for w in _STOPWORDS) + "]"
    return rf"""
WITH {_PII_PLANTED_CTE},
tok AS (
  SELECT doc_id, text,
     string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks,
     CAST(length(text) AS DOUBLE) AS n,
     greatest(CAST(length(text) AS DOUBLE), 1.0) AS safe_n
  FROM planted
),
q AS (
  SELECT doc_id, text,
     0.3 * least(n / 500.0, 1.0)
   + 0.3 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / safe_n)
   + 0.2 * greatest(0.0, 1.0 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / safe_n * 5.0)
   + 0.2 * least(CAST(len(list_filter(toks, t -> list_contains({stop}, t))) AS DOUBLE)
                 / CAST(greatest(len(toks), 1) AS DOUBLE) * 5.0, 1.0) AS quality,
     CASE WHEN length(trim(text)) = 0 THEN 0
          ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok
  FROM tok
),
red AS (
  SELECT {pii_redact_oracle_expr('text')} AS rt
  FROM q WHERE quality >= 0.3 AND n_tok >= 20
),
nrm AS (SELECT regexp_replace(lower(trim(rt)), '\s+', ' ', 'g') AS norm FROM red)
SELECT DISTINCT md5(norm) AS h,
   CAST(length(norm) AS BIGINT) AS n_chars_norm,
   CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tok_norm
FROM nrm
"""


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_hamming=3 is the exact-recall radius: with 4 chunks over a
    60-bit hash, pigeonhole guarantees every pair within hamming<=3
    collides on at least one chunk — the blocking is lossless at this
    threshold (dedup.py:470-471). It also bounds the pair output (the
    synthetic docs are heavily near-duplicated: hamming<=20 emitted 22.6k
    pairs at sf0.01; <=3 emits 2.9k), keeping the correctness suite fast."""
    from chronon_spark.operators.dedup import simhash_near_dups

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = simhash_near_dups(docs, "doc_id", max_hamming=3)
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


# Bit-exact DuckDB mirror of dedup.simhash64 + the 15-bit chunk blocking:
# same md5-prefix 60-bit token hash, same sign-of-count bit assembly, same
# 4-chunk pigeonhole self-join (dedup.py:261-344).
_SIMHASH_ORACLE = """
WITH t AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks
  FROM documents
),
h AS (
  SELECT doc_id,
     list_transform(toks, x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)) AS hs
  FROM t
),
sig AS (
  SELECT doc_id,
     CAST(list_sum([CASE WHEN 2 * len(list_filter(hs, v -> (v >> b) & 1 = 1)) > len(hs)
                         THEN (CAST(1 AS BIGINT) << b) ELSE 0 END
                    for b in range(0, 60)]) AS BIGINT) AS sh
  FROM h
),
chunks AS (
  SELECT doc_id, sh, unnest(range(0, 4)) AS chunk
  FROM sig
),
keyed AS (
  SELECT doc_id, sh, chunk, (sh >> CAST(chunk * 15 AS INTEGER)) & 32767 AS key
  FROM chunks
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b
  FROM keyed a JOIN keyed b
    ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= 3
"""


# ---------------------------------------------------------------------------
# Text analysis (documents)
# ---------------------------------------------------------------------------

def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chronon_spark.operators.textstats import document_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = document_stats(docs, "doc_id")
    return out.select(
        "doc_id",
        "n_tokens",
        "n_chars",
        _r6("alpha_ratio").alias("alpha_ratio"),
        _r6("digit_ratio").alias("digit_ratio"),
        _r6("punct_ratio").alias("punct_ratio"),
        _r6("mean_word_len").alias("mean_word_len"),
        _r6("stopword_ratio").alias("stopword_ratio"),
        _r6("quality").alias("quality"),
        "lang_guess",
        "fingerprint",
    )


def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate-line removal (dedup.boilerplate_lines). The
    testdata docs are single-line, so the query PLANTS line structure
    first — a newline after every 6th token (one deterministic regex both
    engines apply identically) — then drops every line occurring in >= 2
    distinct docs and rebuilds the docs in order."""
    from chronon_spark.operators.dedup import boilerplate_lines

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.regexp_replace(
            "text", r"([^ ]+ [^ ]+ [^ ]+ [^ ]+ [^ ]+ [^ ]+) ", "$1\n"
        ).alias("text"),
    )
    return boilerplate_lines(docs, "doc_id", min_docs=2)


_BOILERPLATE_ORACLE = r"""
WITH p AS (
  SELECT doc_id,
     regexp_replace(text, '([^ ]+ [^ ]+ [^ ]+ [^ ]+ [^ ]+ [^ ]+) ',
                    '\1' || chr(10), 'g') AS text
  FROM documents
),
arr AS (SELECT doc_id, string_split(text, chr(10)) AS a FROM p),
l AS (
  SELECT doc_id, unnest(generate_series(1, len(a))) AS pos, unnest(a) AS line
  FROM arr
),
h AS (
  SELECT doc_id, pos, line,
     md5(regexp_replace(lower(trim(line)), '\s+', ' ', 'g')) AS lh
  FROM l
),
hot AS (SELECT lh FROM h GROUP BY lh HAVING count(DISTINCT doc_id) >= 2),
kept AS (SELECT * FROM h WHERE lh NOT IN (SELECT lh FROM hot)),
reb AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
     count(*) AS n_kept
  FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, count(*) AS n_lines FROM h GROUP BY doc_id)
SELECT t.doc_id AS doc_id, COALESCE(r.clean_text, '') AS clean_text,
   t.n_lines AS n_lines, t.n_lines - COALESCE(r.n_kept, 0) AS n_removed
FROM tot t LEFT JOIN reb r ON t.doc_id = r.doc_id
"""


TFIDF_TOP_K = 3


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k TF-IDF keywords per document (textstats.tfidf_top_terms);
    scores rounded to 6 dp BEFORE the (score DESC, term ASC) ranking so
    both engines rank identically."""
    from chronon_spark.operators.textstats import tfidf_top_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = tfidf_top_terms(docs, "doc_id", top_k=TFIDF_TOP_K)
    return out.select("doc_id", "term", "rank", _r6("score").alias("score"))


_TFIDF_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
     unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
     floor(tf * (ln((n.n + 1.0) / (df + 1.0)) + 1.0) * 1e6 + 0.5) / 1e6 AS score
  FROM tf JOIN dfreq USING (term), n
),
ranked AS (
  SELECT doc_id, term, score,
     row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, CAST(rank AS INT) AS rank, round(score, 6) AS score
FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""


BLOCKED_DOMAINS = ("src3", "src7", "src11")
BLOCKED_TERMS = ("slow", "skew")


def q_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain + term blocklist flags (textstats.blocklist_flags): docs
    from blocked sources or containing blocked tokens are flagged; the
    term probe is arrays_overlap on the normalized token stream (InSet,
    zero shuffle)."""
    from chronon_spark.operators.textstats import blocklist_flags

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return blocklist_flags(
        docs,
        "doc_id",
        domain_col="source",
        blocked_domains=BLOCKED_DOMAINS,
        blocked_terms=BLOCKED_TERMS,
    )


def _blocklist_oracle() -> str:
    doms = ", ".join(f"'{d}'" for d in BLOCKED_DOMAINS)
    terms = ", ".join(f"'{t}'" for t in BLOCKED_TERMS)
    return rf"""
WITH f AS (
  SELECT doc_id,
     source IN ({doms}) AS blocked_domain,
     len(list_filter(
       string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
       t -> list_contains([{terms}], t))) > 0 AS blocked_term
  FROM documents
)
SELECT doc_id, blocked_domain, blocked_term,
   NOT (blocked_domain OR blocked_term) AS kept
FROM f
"""


def _doc_stats_oracle() -> str:
    from chronon_spark.operators.textstats import LANG_MARKERS, _STOPWORDS

    stop = "[" + ", ".join(f"'{w}'" for w in _STOPWORDS) + "]"
    lang_structs = ", ".join(
        "{'score': CAST(len(list_filter(toks, t -> list_contains(["
        + ", ".join(f"'{m}'" for m in markers)
        + "], t))) AS DOUBLE) / nn, 'lang': '" + lang + "'}"
        for lang, markers in sorted(LANG_MARKERS.items())
    )
    return rf"""
WITH base AS (
  SELECT doc_id, text,
     regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm,
     CAST(length(text) AS DOUBLE) AS n,
     greatest(CAST(length(text) AS DOUBLE), 1.0) AS safe_n
  FROM documents
),
tok AS (
  SELECT *, string_split(norm, ' ') AS toks,
     greatest(len(string_split(norm, ' ')), 1) AS ntoks,
     CAST(greatest(len(string_split(norm, ' ')), 1) AS DOUBLE) AS nn
  FROM base
),
stats AS (
  SELECT doc_id, text, norm, n, safe_n, toks, ntoks, nn,
     CASE WHEN length(trim(text)) = 0 THEN 0
          ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
     CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / safe_n AS alpha_ratio,
     CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / safe_n AS digit_ratio,
     CAST(length(regexp_replace(text, '[^\.,;:!\?]', '', 'g')) AS DOUBLE) / safe_n AS punct_ratio,
     CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / nn AS mean_word_len,
     CAST(len(list_filter(toks, t -> list_contains({stop}, t))) AS DOUBLE) / nn AS stopword_ratio,
     list_max([{lang_structs}]) AS best
  FROM tok
)
SELECT doc_id,
   CAST(n_tokens AS BIGINT) AS n_tokens,
   CAST(n AS BIGINT) AS n_chars,
   round(alpha_ratio, 6) AS alpha_ratio,
   round(digit_ratio, 6) AS digit_ratio,
   round(punct_ratio, 6) AS punct_ratio,
   round(mean_word_len, 6) AS mean_word_len,
   round(stopword_ratio, 6) AS stopword_ratio,
   round(0.3 * least(n / 500.0, 1.0) + 0.3 * alpha_ratio
       + 0.2 * greatest(0.0, 1.0 - digit_ratio * 5.0)
       + 0.2 * least(stopword_ratio * 5.0, 1.0), 6) AS quality,
   CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS lang_guess,
   md5(norm) AS fingerprint
FROM stats
"""


# ---------------------------------------------------------------------------
# Sawtooth (hopped Catalyst) as-of path — the 100 TB scale plan
# ---------------------------------------------------------------------------

def q_chained_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source.JoinSource batch chaining (GroupBy.scala:412-477): a parent
    Join's PIT feature (7d count per user at every event) feeds a
    downstream GroupBy (running average of that feature). The oracle
    nests the two as-of computations in SQL."""
    from chronon_spark.api.types import (
        Aggregation, GroupBy, Join, JoinPart, JoinSource, Operation, Query, Window,
    )
    from chronon_spark.operators.asof_join import group_by_asof

    src = _events_source(sf_dir, cents=True)
    parent_gb = GroupBy(
        sources=(src,),
        key_columns=("user_id",),
        aggregations=(Aggregation("value", Operation.COUNT, windows=(Window.days(7),)),),
        name="p",
    )
    parent = Join(left=src, join_parts=(JoinPart(parent_gb),), name="parent_join")
    child_gb = GroupBy(
        sources=(
            JoinSource(
                join=parent,
                query=Query(
                    selects={"user_id": "user_id", "cnt7": "p_value_count_7d"}
                ),
            ),
        ),
        key_columns=("user_id",),
        aggregations=(Aggregation("cnt7", Operation.AVERAGE),),
        name="chained",
    )
    out = group_by_asof(spark, child_gb, _event_queries(spark, sf_dir))
    return out.select(
        "user_id", "ts", _r6(F.col("cnt7_average")).alias("cnt7_average")
    )


_CHAINED_ORACLE = f"""
WITH ev AS (SELECT user_id, floor(value * 100 + 0.5) AS c, epoch_ms(ts) AS ts FROM events),
pts AS (SELECT DISTINCT user_id, ts FROM ev),
feat AS (
  SELECT q.user_id, q.ts,
     count(CASE WHEN e.ts > q.ts - {7 * DAY_MS} THEN e.c END) AS cnt7
  FROM pts q LEFT JOIN ev e ON e.user_id = q.user_id AND e.ts <= q.ts
  GROUP BY q.user_id, q.ts
),
parent AS (
  SELECT ev.user_id, ev.ts, f.cnt7
  FROM ev JOIN feat f ON ev.user_id = f.user_id AND ev.ts = f.ts
),
child AS (
  SELECT q.user_id, q.ts, round(avg(p.cnt7), 6) AS cnt7_average
  FROM pts q LEFT JOIN parent p ON p.user_id = q.user_id AND p.ts <= q.ts
  GROUP BY q.user_id, q.ts
)
SELECT * FROM child
"""


def q_asof_sawtooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chronon_spark.api.types import Aggregation, GroupBy, Operation, Window
    from chronon_spark.operators.asof_hopped import group_by_asof_hopped

    gb = GroupBy(
        sources=(_events_source(sf_dir, cents=True),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.COUNT, windows=(Window.days(7),)),
            Aggregation("value", Operation.SUM, windows=(Window.days(7),)),
            Aggregation("value", Operation.AVERAGE, windows=(Window.days(14),)),
            Aggregation("value", Operation.MIN, windows=(Window.days(7),)),
            Aggregation("value", Operation.LAST),
            Aggregation("value", Operation.UNIQUE_COUNT, windows=(Window.days(7),)),
        ),
        name="sawtooth",
    )
    out = group_by_asof_hopped(spark, gb, _event_queries(spark, sf_dir), hop_ms=DAY_MS)
    return out.select(
        "user_id",
        "ts",
        F.col("value_count_7d"),
        _r6(F.col("value_sum_7d") / 100).alias("value_sum_7d"),
        _r6(F.col("value_average_14d") / 100).alias("value_average_14d"),
        _r6(F.col("value_min_7d") / 100).alias("value_min_7d"),
        _r6(F.col("value_last") / 100).alias("value_last"),
        F.col("value_unique_count_7d"),
    )


# sawtooth tail: e.ts >= round_down(q.ts - W, 1d) (hopping tail); head e.ts <= q.ts
_SAWTOOTH_ORACLE = f"""
WITH ev AS (SELECT user_id, floor(value * 100 + 0.5) AS c, epoch_ms(ts) AS ts FROM events),
q AS (SELECT DISTINCT user_id, ts FROM ev)
SELECT q.user_id, q.ts,
   count(CASE WHEN e.ts >= ((q.ts - {7 * DAY_MS}) // {DAY_MS}) * {DAY_MS} THEN e.c END) AS value_count_7d,
   round(CAST(sum(CASE WHEN e.ts >= ((q.ts - {7 * DAY_MS}) // {DAY_MS}) * {DAY_MS} THEN e.c END) AS DOUBLE) / 100, 6) AS value_sum_7d,
   round((CAST(sum(CASE WHEN e.ts >= ((q.ts - {14 * DAY_MS}) // {DAY_MS}) * {DAY_MS} THEN e.c END) AS DOUBLE)
          / count(CASE WHEN e.ts >= ((q.ts - {14 * DAY_MS}) // {DAY_MS}) * {DAY_MS} THEN e.c END)) / 100, 6) AS value_average_14d,
   round(min(CASE WHEN e.ts >= ((q.ts - {7 * DAY_MS}) // {DAY_MS}) * {DAY_MS} THEN e.c END) / 100, 6) AS value_min_7d,
   round(arg_max(e.c, e.ts) / 100, 6) AS value_last,
   count(DISTINCT CASE WHEN e.ts >= ((q.ts - {7 * DAY_MS}) // {DAY_MS}) * {DAY_MS} THEN e.c END) AS value_unique_count_7d
FROM q LEFT JOIN ev e ON e.user_id = q.user_id AND e.ts <= q.ts
GROUP BY q.user_id, q.ts
"""


def q_clustered_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sawtooth GroupBy over a KEY-CLUSTERED (sorted-bucket) events
    table (plans/clustered.py): the events shuffle is paid once at
    write time, then the hopped plan runs with the big side never
    moving (bucketed scan satisfies both the hop-IR groupBy and the
    exact-head join). Oracled by the SAME sawtooth SQL as asof_sawtooth
    — the layout must be invisible in the results. Reference analogue:
    JoinPartJob's materialized part tables (spark/.../join/
    JoinPartJob.scala)."""
    from chronon_spark.api.types import Aggregation, GroupBy, Operation, Window
    from chronon_spark.operators.asof_hopped import group_by_asof_hopped
    from chronon_spark.operators.asof_join import events_df_for_group_by
    from chronon_spark.plans.clustered import (
        read_clustered_events,
        write_clustered_events,
    )

    gb = GroupBy(
        sources=(_events_source(sf_dir, cents=True),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.COUNT, windows=(Window.days(7),)),
            Aggregation("value", Operation.SUM, windows=(Window.days(7),)),
            Aggregation("value", Operation.AVERAGE, windows=(Window.days(14),)),
            Aggregation("value", Operation.MIN, windows=(Window.days(7),)),
            Aggregation("value", Operation.LAST),
            Aggregation("value", Operation.UNIQUE_COUNT, windows=(Window.days(7),)),
        ),
        name="clustered_sawtooth",
    )
    tbl = write_clustered_events(
        spark,
        events_df_for_group_by(spark, gb),
        ["user_id"],
        table="drv_clustered_events",
        num_buckets=8,
    )
    out = group_by_asof_hopped(
        spark,
        gb,
        _event_queries(spark, sf_dir),
        hop_ms=DAY_MS,
        events_df=read_clustered_events(spark, tbl),
        events_clustered=True,
    )
    return out.select(
        "user_id",
        "ts",
        F.col("value_count_7d"),
        _r6(F.col("value_sum_7d") / 100).alias("value_sum_7d"),
        _r6(F.col("value_average_14d") / 100).alias("value_average_14d"),
        _r6(F.col("value_min_7d") / 100).alias("value_min_7d"),
        _r6(F.col("value_last") / 100).alias("value_last"),
        F.col("value_unique_count_7d"),
    )


def q_fetch_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving lambda READ path run offline (plans/fetcher.fetch_join):
    FinalBatchIr upload at a mid-corpus batch end ⊕ only the fresh rows
    after it, fetchJoin fan-out with prefix + derivation. The oracle is a
    direct sawtooth as-of SQL over the FULL event history — i.e. the
    online/offline-consistency guarantee itself (reference
    online/fetcher/Fetcher.scala + stats/ConsistencyJob.scala)."""
    from chronon_spark.api.types import (
        Aggregation,
        GroupBy,
        Join,
        JoinPart,
        Operation,
        Window,
    )
    from chronon_spark.plans.fetcher import fetch_join

    boundary = 1_705_276_800_000  # 2024-01-15 midnight, hop-aligned
    gb = GroupBy(
        sources=(_events_source(sf_dir, cents=True),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.SUM, windows=(Window.days(7),)),
            Aggregation("value", Operation.COUNT),  # unbounded -> collapsed IR
            Aggregation("value", Operation.LAST),
        ),
        name="srv",
    )
    join_conf = Join(
        left=_events_source(sf_dir, cents=True),
        join_parts=(JoinPart(gb, prefix="f"),),
        derivations={
            "*": "*",
            "ratio": "f_srv_value_sum_7d / (f_srv_value_count + 1)",
        },
        name="fetch_join",
    )
    requests = (
        _event_queries(spark, sf_dir).where(F.col("ts") >= boundary).distinct()
    )
    out = fetch_join(spark, join_conf, requests, boundary, DAY_MS)
    return out.select(
        "user_id",
        "ts",
        _r6(F.col("f_srv_value_sum_7d") / 100).alias("sum_7d"),
        F.col("f_srv_value_count").alias("cnt_all"),
        _r6(F.col("f_srv_value_last") / 100).alias("last_v"),
        _r6(F.col("ratio") / 100).alias("ratio"),
    )


_FETCH_JOIN_ORACLE = f"""
WITH ev AS (SELECT user_id, floor(value * 100 + 0.5) AS c, epoch_ms(ts) AS ts FROM events),
q AS (SELECT DISTINCT user_id, ts FROM ev WHERE ts >= 1705276800000)
SELECT q.user_id, q.ts,
   round(CAST(sum(CASE WHEN e.ts >= ((q.ts - {7 * DAY_MS}) // {DAY_MS}) * {DAY_MS} THEN e.c END) AS DOUBLE) / 100, 6) AS sum_7d,
   count(e.c) AS cnt_all,
   round(arg_max(e.c, e.ts) / 100, 6) AS last_v,
   round((CAST(sum(CASE WHEN e.ts >= ((q.ts - {7 * DAY_MS}) // {DAY_MS}) * {DAY_MS} THEN e.c END) AS DOUBLE)
          / (count(e.c) + 1)) / 100, 6) AS ratio
FROM q LEFT JOIN ev e ON e.user_id = q.user_id AND e.ts <= q.ts
GROUP BY q.user_id, q.ts
"""


def q_spj_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-partitioned merge fold (reference IcebergSparkSPJTest
    semantics on Hive-format buckets, plans/clustered.bucketed_merge_fold):
    the multipart join's left + part tables are bucketed on the full join
    key set, so the fold's executed plan inserts ZERO exchanges — the
    plan shape is pytest-pinned; the driver row checks the VALUES the
    shuffle-free plan produces."""
    from chronon_spark.plans.clustered import bucketed_merge_fold
    from chronon_spark.sources.scan import millis_expr

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id",
        f"{millis_expr('ts')} AS ts",
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents",
    )
    left = ev.select("user_id", "ts").distinct()
    p1 = ev.groupBy("user_id", "ts").agg(
        F.sum("cents").cast("long").alias("a_cents")
    )
    p2 = ev.groupBy("user_id", "ts").agg(
        (F.sum("cents") * 2).cast("long").alias("b_twice")
    )
    return bucketed_merge_fold(
        spark, left, {"a": p1, "b": p2}, ["user_id"], num_buckets=8,
        table_prefix="drv_spj",
    )


_SPJ_MERGE_ORACLE = """
WITH ev AS (SELECT user_id, epoch_ms(ts) AS ts,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events),
l AS (SELECT DISTINCT user_id, ts FROM ev),
p1 AS (SELECT user_id, ts, CAST(SUM(c) AS BIGINT) AS a_cents FROM ev GROUP BY 1, 2),
p2 AS (SELECT user_id, ts, CAST(SUM(c) * 2 AS BIGINT) AS b_twice FROM ev GROUP BY 1, 2)
SELECT l.user_id, l.ts, p1.a_cents, p2.b_twice
FROM l
LEFT JOIN p1 ON p1.user_id = l.user_id AND p1.ts = l.ts
LEFT JOIN p2 ON p2.user_id = l.user_id AND p2.ts = l.ts
"""


def q_external_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fetchJoin with an onlineExternalParts slot (thrift/api.thrift:415;
    reference serves these only online — Fetcher.scala:668-689): the
    offline stand-in fills it from a replay frame (here the customer
    dim), broadcast-joined on the mapped key, next to a GroupBy part
    through the lambda read path. Output columns carry the reference's
    ext[_prefix]_<name>_<col> naming."""
    from chronon_spark.api.types import (
        Aggregation,
        ExternalPart,
        ExternalSource,
        GroupBy,
        Join,
        JoinPart,
        Operation,
    )
    from chronon_spark.plans.fetcher import fetch_join

    boundary = 1_705_276_800_000
    gb = GroupBy(
        sources=(_events_source(sf_dir, cents=True),),
        key_columns=("user_id",),
        aggregations=(Aggregation("value", Operation.COUNT),),
        name="srv",
    )
    ext = ExternalPart(
        ExternalSource(
            name="cust_profile",
            key_columns=("uid",),
            value_columns=("bal_cents", "seg"),
            value_types={"bal_cents": "bigint", "seg": "string"},
        ),
        key_mapping={"user_id": "uid"},
        prefix="p",
    )
    join_conf = Join(
        left=_events_source(sf_dir, cents=True),
        join_parts=(JoinPart(gb, prefix="f"),),
        online_external_parts=(ext,),
        name="external_fetch",
    )
    frame = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("uid"),
        F.expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").alias("bal_cents"),
        F.col("c_mktsegment").alias("seg"),
    )
    requests = (
        _event_queries(spark, sf_dir).where(F.col("ts") >= boundary).distinct()
    )
    out = fetch_join(
        spark, join_conf, requests, boundary, DAY_MS,
        external_frames={"cust_profile": frame},
    )
    return out.select(
        "user_id", "ts",
        F.col("f_srv_value_count").alias("cnt_all"),
        F.col("ext_p_cust_profile_bal_cents").alias("bal_cents"),
        F.col("ext_p_cust_profile_seg").alias("seg"),
    )


_EXTERNAL_FETCH_ORACLE = """
WITH ev AS (SELECT user_id, floor(value * 100 + 0.5) AS c, epoch_ms(ts) AS ts FROM events),
q AS (SELECT DISTINCT user_id, ts FROM ev WHERE ts >= 1705276800000),
feats AS (
  SELECT q.user_id, q.ts, count(e.c) AS cnt_all
  FROM q LEFT JOIN ev e ON e.user_id = q.user_id AND e.ts <= q.ts
  GROUP BY q.user_id, q.ts
)
SELECT f.user_id, f.ts, f.cnt_all,
       CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents,
       c.c_mktsegment AS seg
FROM feats f LEFT JOIN customer c ON c.c_custkey = f.user_id
"""


def q_kv_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-KV serving path (plans/kvstore): the FinalBatchIr upload
    is written `bucketBy(16, __kv_key)` into the warehouse, then point
    requests (user_id < 50) are served via a bucket-PRUNED literal
    lookup ⊕ fresh events — the lambda merge reading an actual on-disk
    KV layout instead of an in-memory upload frame. Oracle: direct
    sawtooth as-of SQL over full history for the same keys (the
    online/offline consistency guarantee, reference
    online/.../Api.scala multiGet + GroupByUpload.scala)."""
    from chronon_spark.api.types import Aggregation, GroupBy, Operation, Window
    from chronon_spark.plans.kvstore import fetch_group_by_kv, write_kv_table

    boundary = 1_705_276_800_000  # 2024-01-15 midnight, hop-aligned
    gb = GroupBy(
        sources=(_events_source(sf_dir, cents=True),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.SUM, windows=(Window.days(7),)),
            Aggregation("value", Operation.COUNT),  # unbounded -> collapsed IR
            Aggregation("value", Operation.LAST),
        ),
        name="kv_entry",
    )
    table = write_kv_table(spark, gb, boundary, DAY_MS, table="t_kv_entry_q", num_buckets=16)
    requests = (
        _event_queries(spark, sf_dir)
        .where((F.col("ts") >= boundary) & (F.col("user_id") < 50))
        .distinct()
    )
    out = fetch_group_by_kv(spark, gb, requests, boundary, DAY_MS, table)
    return out.select(
        "user_id",
        "ts",
        _r6(F.col("value_sum_7d") / 100).alias("sum_7d"),
        F.col("value_count").alias("cnt_all"),
        _r6(F.col("value_last") / 100).alias("last_v"),
    )


_KV_FETCH_ORACLE = f"""
WITH ev AS (SELECT user_id, floor(value * 100 + 0.5) AS c, epoch_ms(ts) AS ts FROM events),
q AS (SELECT DISTINCT user_id, ts FROM ev WHERE ts >= 1705276800000 AND user_id < 50)
SELECT q.user_id, q.ts,
   round(CAST(sum(CASE WHEN e.ts >= ((q.ts - {7 * DAY_MS}) // {DAY_MS}) * {DAY_MS} THEN e.c END) AS DOUBLE) / 100, 6) AS sum_7d,
   count(e.c) AS cnt_all,
   round(arg_max(e.c, e.ts) / 100, 6) AS last_v
FROM q LEFT JOIN ev e ON e.user_id = q.user_id AND e.ts <= q.ts
GROUP BY q.user_id, q.ts
"""


def q_tiled_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully-tiled lambda serve (plans/fetcher.fetch_group_by_tiled):
    batch upload hops ⊕ closed streaming-tile IRs (stream_hop_irs —
    identical i_* shape) ⊕ live-hop raw events, answering requests in
    the live hop. History is never rescanned: the fresh scan is ONE hop.
    Oracle: direct sawtooth SQL over full history for the same requests
    — the tiled topology's consistency guarantee."""
    from chronon_spark.api.types import Aggregation, GroupBy, Operation, Window
    from chronon_spark.plans.fetcher import fetch_group_by_tiled
    from chronon_spark.plans.upload import upload_group_by

    boundary = 1_705_276_800_000  # 2024-01-15 midnight, hop-aligned
    gb = GroupBy(
        sources=(_events_source(sf_dir, cents=True),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.SUM, windows=(Window.days(7),)),
            Aggregation("value", Operation.COUNT),  # unbounded -> collapsed IR
            Aggregation("value", Operation.LAST),
        ),
        name="tiled_entry",
    )
    ev = _event_queries(spark, sf_dir)
    live_start = (int(ev.agg(F.max("ts")).first()[0]) // DAY_MS) * DAY_MS
    from chronon_spark.sources.scan import scan_source
    from chronon_spark.streaming.stream_groupby import stream_hop_irs

    events = scan_source(spark, gb.sources[0])
    closed = events.where(
        (F.col("ts") >= boundary) & (F.col("ts") < live_start)
    )
    tiles = stream_hop_irs(closed, gb, DAY_MS)  # batch mode: same plan shape
    upload = upload_group_by(spark, gb, boundary, DAY_MS)
    requests = ev.where(F.col("ts") >= live_start).distinct()
    live_events = events.where(F.col("ts") >= live_start)
    out = fetch_group_by_tiled(
        spark, gb, requests, boundary, DAY_MS, upload, tiles, live_events
    )
    return out.select(
        "user_id",
        "ts",
        _r6(F.col("value_sum_7d") / 100).alias("sum_7d"),
        F.col("value_count").alias("cnt_all"),
        _r6(F.col("value_last") / 100).alias("last_v"),
    )


def q_klist_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST_K / TOP_K features on the lambda read path
    (plans/klist_serving.py): exact k-bounded list IRs as the upload AND
    tile payload — the merge (flatten→sort desc→slice k) is a semilattice,
    so tiles, compaction, and the fetch share one expression. Reference
    analogue: the K-type IRs the online fetcher merges
    (FetcherUniqueTopKTest family). Sawtooth window: 7 whole hops back +
    exact ts<=query head over live-hop events."""
    from chronon_spark.plans.klist_serving import fetch_klist, klist_hop_irs

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id",
        "unix_micros(CAST(ts AS TIMESTAMP)) div 1000 AS ts",
        "CAST(floor(value*100 + 0.5) AS BIGINT) AS value",
    )
    live_start = (int(ev.agg(F.max("ts")).first()[0]) // DAY_MS) * DAY_MS
    closed = ev.where(F.col("ts") < live_start)
    reqs = ev.where(F.col("ts") >= live_start).select("user_id", "ts").distinct()
    outs = []
    for mode, col in (("last_k", "last3"), ("top_k", "top3")):
        irs = klist_hop_irs(closed, ["user_id"], "value", DAY_MS, 3, mode)
        outs.append(
            fetch_klist(
                spark, reqs, irs, ev, ["user_id"], "value", DAY_MS, 3,
                mode=mode, n_hops=7, out_col=col, verify_disjoint=False,
            )
        )
    out = outs[0].join(outs[1], on=["user_id", "ts"], how="inner")
    return out.select(
        "user_id", "ts",
        F.concat_ws(",", F.transform("last3", lambda x: x.cast("string"))).alias("last3"),
        F.concat_ws(",", F.transform("top3", lambda x: x.cast("string"))).alias("top3"),
    )


_KLIST_SERVE_ORACLE = f"""
WITH ev AS (SELECT user_id, epoch_ms(ts) AS ts,
            CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events),
live AS (SELECT (max(ts) // {DAY_MS}) * {DAY_MS} AS t0 FROM ev),
q AS (SELECT DISTINCT user_id, ts FROM ev WHERE ts >= (SELECT t0 FROM live))
SELECT q.user_id, q.ts,
   coalesce(array_to_string(
     (list(e.c ORDER BY e.ts DESC, e.c DESC))[:3], ','), '') AS last3,
   coalesce(array_to_string(
     (list(e.c ORDER BY e.c DESC, e.ts ASC))[:3], ','), '') AS top3
FROM q LEFT JOIN ev e
  ON e.user_id = q.user_id AND e.ts <= q.ts
 AND e.ts >= (SELECT t0 FROM live) - {7 * DAY_MS}
GROUP BY q.user_id, q.ts
"""


def q_freq_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency top-k (heavy hitters) on the lambda read path
    (plans/freq_serving.py) — the reference serves APPROX_FREQUENT_K /
    UNIQUE_TOP_K from ItemsSketch IRs; here the IR is the deterministic
    truncated-count list (per-hop EXACT counts, (count DESC, item ASC)
    truncation) so the oracle replays the algebra bit-for-bit. m is
    sized above the distinct-item count, so this query's answer is the
    EXACT windowed top-3 event types per request."""
    from chronon_spark.plans.freq_serving import fetch_freq_topk, freq_hop_irs

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id",
        "unix_micros(CAST(ts AS TIMESTAMP)) div 1000 AS ts",
        "event_type",
    )
    live_start = (int(ev.agg(F.max("ts")).first()[0]) // DAY_MS) * DAY_MS
    irs = freq_hop_irs(
        ev.where(F.col("ts") < live_start), ["user_id"], "event_type", DAY_MS, 64
    )
    reqs = ev.where(F.col("ts") >= live_start).select("user_id", "ts").distinct()
    out = fetch_freq_topk(
        spark, reqs, irs, ev, ["user_id"], "event_type", DAY_MS, 3,
        m=64, n_hops=7, verify_disjoint=False,
    )
    return out.select(
        "user_id", "ts", F.concat_ws(",", "top_items").alias("top3_types")
    )


def q_hist_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HISTOGRAM on the lambda read path (plans/freq_serving.fetch_histogram):
    unbounded-m exact item->count map from per-hop count IRs ⊕ the live
    hop, projected to the known categories (the asof_histogram
    convention, so the oracle never hashes a map)."""
    from chronon_spark.plans.freq_serving import fetch_histogram, freq_hop_irs

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id",
        "unix_micros(CAST(ts AS TIMESTAMP)) div 1000 AS ts",
        "event_type",
    )
    live_start = (int(ev.agg(F.max("ts")).first()[0]) // DAY_MS) * DAY_MS
    irs = freq_hop_irs(
        ev.where(F.col("ts") < live_start), ["user_id"], "event_type", DAY_MS, 64
    )
    reqs = ev.where(F.col("ts") >= live_start).select("user_id", "ts").distinct()
    out = fetch_histogram(
        spark, reqs, irs, ev, ["user_id"], "event_type", DAY_MS,
        n_hops=7, verify_disjoint=False,
    )
    m = "histogram"
    return out.select(
        "user_id",
        "ts",
        F.coalesce(F.element_at(m, "click"), F.lit(0)).alias("click_w"),
        F.coalesce(F.element_at(m, "view"), F.lit(0)).alias("view_w"),
        F.coalesce(F.element_at(m, "purchase"), F.lit(0)).alias("purchase_w"),
        F.coalesce(F.element_at(m, "signup"), F.lit(0)).alias("signup_w"),
        F.coalesce(F.element_at(m, "error"), F.lit(0)).alias("error_w"),
    )


_HIST_SERVE_ORACLE = f"""
WITH ev AS (SELECT user_id, epoch_ms(ts) AS ts, event_type FROM events),
live AS (SELECT (max(ts) // {DAY_MS}) * {DAY_MS} AS t0 FROM ev),
q AS (SELECT DISTINCT user_id, ts FROM ev WHERE ts >= (SELECT t0 FROM live))
SELECT q.user_id, q.ts,
   count(CASE WHEN e.event_type = 'click' THEN 1 END) AS click_w,
   count(CASE WHEN e.event_type = 'view' THEN 1 END) AS view_w,
   count(CASE WHEN e.event_type = 'purchase' THEN 1 END) AS purchase_w,
   count(CASE WHEN e.event_type = 'signup' THEN 1 END) AS signup_w,
   count(CASE WHEN e.event_type = 'error' THEN 1 END) AS error_w
FROM q LEFT JOIN ev e
  ON e.user_id = q.user_id AND e.ts <= q.ts
 AND e.ts >= (SELECT t0 FROM live) - {7 * DAY_MS}
GROUP BY q.user_id, q.ts
"""


_FREQ_SERVE_ORACLE = f"""
WITH ev AS (SELECT user_id, epoch_ms(ts) AS ts, event_type FROM events),
live AS (SELECT (max(ts) // {DAY_MS}) * {DAY_MS} AS t0 FROM ev),
q AS (SELECT DISTINCT user_id, ts FROM ev WHERE ts >= (SELECT t0 FROM live)),
c AS (
  SELECT q.user_id, q.ts, e.event_type, count(*) AS cnt
  FROM q JOIN ev e
    ON e.user_id = q.user_id AND e.ts <= q.ts
   AND e.ts >= (SELECT t0 FROM live) - {7 * DAY_MS}
  WHERE e.event_type IS NOT NULL
  GROUP BY q.user_id, q.ts, e.event_type
),
r AS (
  SELECT user_id, ts,
     list(event_type ORDER BY cnt DESC, event_type ASC)[:3] AS items
  FROM c GROUP BY user_id, ts
)
SELECT q.user_id, q.ts, coalesce(array_to_string(r.items, ','), '') AS top3_types
FROM q LEFT JOIN r ON r.user_id = q.user_id AND r.ts = q.ts
"""


def q_noagg_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-agg GroupBy (aggregations=None — reference api.thrift:368 null
    aggregations + join/NoAggTest.scala): the entity snapshot row IS the
    feature vector; a snapshot join attaches it under the day-shift PIT
    rule (left ts_ds = snapshot ds + 1). Temporal paths refuse no-agg
    with a typed error (pinned in test_snapshot_join)."""
    from chronon_spark.api.types import (
        Accuracy,
        EntitySource,
        EventSource,
        GroupBy,
        Join,
        JoinPart,
        Query,
    )
    from chronon_spark.operators.snapshot_join import join_snapshot

    snap_src = EntitySource(
        snapshot_table=f"{sf_dir}/customer.parquet",
        query=Query(
            selects={
                "c_custkey": "c_custkey",
                "c_mktsegment": "c_mktsegment",
                "c_acctbal_c": "floor(c_acctbal * 100 + 0.5)",
                "ds": "'2024-01-01'",
            },
            partition_column="ds",
        ),
    )
    gb = GroupBy((snap_src,), ("c_custkey",), None,
                 accuracy=Accuracy.SNAPSHOT, name="cust")
    left = EventSource(
        table=f"{sf_dir}/orders.parquet",
        query=Query(
            selects={"o_orderkey": "o_orderkey", "c_custkey": "o_custkey"},
            time_column="1704196800000",  # 2024-01-02T12:00Z → ts_ds 01-02
        ),
    )
    out = join_snapshot(spark, Join(left=left, join_parts=(JoinPart(gb),), name="noagg"))
    return out.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("cust_c_mktsegment").alias("mktsegment"),
        _r6(F.col("cust_c_acctbal_c") / 100).alias("acctbal"),
    )


_NOAGG_SNAPSHOT_ORACLE = """
SELECT o.o_orderkey, c.c_mktsegment AS mktsegment,
       round(floor(c.c_acctbal * 100 + 0.5) / 100, 6) AS acctbal
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
"""


def q_percentile_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile features on the lambda read path
    (plans/sketch_serving.py): DDSketch (bucket,count) IR rows as the
    upload/tile payload — the reference serves APPROX_PERCENTILE online
    because its IRs carry KLL sketches (aggregator/.../ApproxPercentiles,
    GroupByUpload.scala); here the sawtooth window is 7 whole hops back
    plus an exact ts<=query head over live-hop events. Oracle mirrors
    the bucket math, join, and cumulative walk per request."""
    from chronon_spark.plans.sketch_serving import (
        fetch_percentile_sketch,
        sketch_hop_irs,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id",
        "unix_micros(CAST(ts AS TIMESTAMP)) div 1000 AS ts",
        "CAST(value AS DOUBLE) AS value",
    )
    live_start = (int(ev.agg(F.max("ts")).first()[0]) // DAY_MS) * DAY_MS
    irs = sketch_hop_irs(
        ev.where(F.col("ts") < live_start), ["user_id"], "value", DAY_MS
    )
    reqs = ev.where(F.col("ts") >= live_start).select("user_id", "ts").distinct()
    out = fetch_percentile_sketch(
        spark, reqs, irs, ev, ["user_id"], "value", DAY_MS, [0.5, 0.9], n_hops=7,
        verify_disjoint=False,  # irs sliced ts < live_start above
    )
    return out.select(
        "user_id", "ts", _r6(F.col("p50")).alias("p50"), _r6(F.col("p90")).alias("p90")
    )


def _percentile_serve_oracle() -> str:
    import math

    from chronon_spark.operators.ddsketch import _Z, gamma_of

    g = gamma_of(0.01)
    lg = math.log(g)
    rep_scale = (2.0 * g / (g + 1.0)) / g

    def rep(b):
        return (
            f"CASE WHEN {b} = {_Z} THEN 0.0 "
            f"WHEN {b} > {_Z} THEN exp(({b} - {_Z}) * {lg!r}) * {rep_scale!r} "
            f"ELSE -exp(({_Z} - 1 - {b}) * {lg!r}) * {rep_scale!r} END"
        )

    return f"""
WITH raw AS (SELECT user_id, epoch_ms(ts) AS ts, CAST(value AS DOUBLE) AS v FROM events),
live AS (SELECT (max(ts) // {DAY_MS}) * {DAY_MS} AS t0 FROM raw),
q AS (SELECT DISTINCT user_id, ts FROM raw WHERE ts >= (SELECT t0 FROM live)),
b AS (
  SELECT q.user_id, q.ts,
     CASE WHEN e.v = 0 THEN {_Z}
          WHEN e.v > 0 THEN {_Z} + CAST(ceil(ln(abs(e.v)) / {lg!r}) AS BIGINT)
          ELSE {_Z} - CAST(ceil(ln(abs(e.v)) / {lg!r}) AS BIGINT) - 1 END AS bucket
  FROM q JOIN raw e
    ON e.user_id = q.user_id AND e.ts <= q.ts
   AND e.ts >= (SELECT t0 FROM live) - {7 * DAY_MS}
  WHERE e.v IS NOT NULL
),
h AS (SELECT user_id, ts, bucket, count(*) AS cnt FROM b GROUP BY user_id, ts, bucket),
c AS (
  SELECT user_id, ts, bucket, cnt,
     sum(cnt) OVER (PARTITION BY user_id, ts ORDER BY bucket) AS cum,
     sum(cnt) OVER (PARTITION BY user_id, ts) AS n
  FROM h
),
p AS (
  SELECT user_id, ts,
     min(CASE WHEN cum >= greatest(CAST(ceil(n * 0.5) AS BIGINT), 1) THEN bucket END) AS b50,
     min(CASE WHEN cum >= greatest(CAST(ceil(n * 0.9) AS BIGINT), 1) THEN bucket END) AS b90
  FROM c GROUP BY user_id, ts
)
SELECT q.user_id, q.ts, round({rep('p.b50')}, 6) AS p50, round({rep('p.b90')}, 6) AS p90
FROM q LEFT JOIN p ON p.user_id = q.user_id AND p.ts = q.ts
"""


def q_tile_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambda-architecture tile compaction (plans/upload.compact_tiles):
    the batch end advances from T0 to T1 by folding the closed streaming
    tiles covering [T0, T1) into the batch IR table — IR algebra only,
    raw events never rescanned. Serving then reads (compacted upload ⊕
    tiles [T1, live) ⊕ live-hop events). Oracle: the SAME direct
    sawtooth SQL as `tiled_fetch` — fetch results must be invariant to
    when compaction last ran; reference analogue: GroupByUpload's daily
    batch-end advance (spark/.../GroupByUpload.scala:64-130), done there
    by full recompute over raw events."""
    from chronon_spark.api.types import Aggregation, GroupBy, Operation, Window
    from chronon_spark.plans.fetcher import fetch_group_by_tiled
    from chronon_spark.plans.upload import compact_tiles, upload_group_by
    from chronon_spark.sources.scan import scan_source
    from chronon_spark.streaming.stream_groupby import stream_hop_irs

    t0 = 1_705_276_800_000  # 2024-01-15 midnight, hop-aligned
    gb = GroupBy(
        sources=(_events_source(sf_dir, cents=True),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.SUM, windows=(Window.days(7),)),
            Aggregation("value", Operation.COUNT),  # unbounded -> collapsed IR
            Aggregation("value", Operation.LAST),
        ),
        name="compaction_entry",
    )
    ev = _event_queries(spark, sf_dir)
    live_start = (int(ev.agg(F.max("ts")).first()[0]) // DAY_MS) * DAY_MS
    t1 = min(t0 + 5 * DAY_MS, live_start)
    events = scan_source(spark, gb.sources[0])

    def tiles(lo, hi):
        sliced = events.where((F.col("ts") >= lo) & (F.col("ts") < hi))
        return stream_hop_irs(sliced, gb, DAY_MS)  # batch mode: same i_* shape

    # each downstream action would otherwise recompute the whole
    # upload/tile DAG (bounds guard + serve) — materialize the compact IR
    # frames once (they are per-(key,hop) rows, tiny next to events)
    compacted = compact_tiles(
        spark, gb, upload_group_by(spark, gb, t0, DAY_MS), tiles(t0, t1),
        t0, t1, DAY_MS,
    ).localCheckpoint(eager=False)
    requests = ev.where(F.col("ts") >= live_start).distinct()
    out = fetch_group_by_tiled(
        spark, gb, requests, t1, DAY_MS, compacted, tiles(t1, live_start),
        events.where(F.col("ts") >= live_start),
    )
    return out.select(
        "user_id",
        "ts",
        _r6(F.col("value_sum_7d") / 100).alias("sum_7d"),
        F.col("value_count").alias("cnt_all"),
        _r6(F.col("value_last") / 100).alias("last_v"),
    )


_TILED_FETCH_ORACLE = f"""
WITH ev AS (SELECT user_id, floor(value * 100 + 0.5) AS c, epoch_ms(ts) AS ts FROM events),
live AS (SELECT (max(ts) // {DAY_MS}) * {DAY_MS} AS t0 FROM ev),
q AS (SELECT DISTINCT user_id, ts FROM ev WHERE ts >= (SELECT t0 FROM live))
SELECT q.user_id, q.ts,
   round(CAST(sum(CASE WHEN e.ts >= ((q.ts - {7 * DAY_MS}) // {DAY_MS}) * {DAY_MS} THEN e.c END) AS DOUBLE) / 100, 6) AS sum_7d,
   count(e.c) AS cnt_all,
   round(arg_max(e.c, e.ts) / 100, 6) AS last_v
FROM q LEFT JOIN ev e ON e.user_id = q.user_id AND e.ts <= q.ts
GROUP BY q.user_id, q.ts
"""


# ---------------------------------------------------------------------------
# SNAPSHOT-accuracy join + entity snapshots
# ---------------------------------------------------------------------------

def q_snapshot_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chronon_spark.api.types import (
        Accuracy,
        Aggregation,
        GroupBy,
        Join,
        JoinPart,
        Operation,
        Window,
    )
    from chronon_spark.operators.snapshot_join import join_snapshot

    src = _events_source(sf_dir, cents=True)
    gb = GroupBy(
        sources=(src,),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.COUNT, windows=(Window.days(7),)),
            Aggregation("value", Operation.SUM, windows=(Window.days(7),)),
        ),
        accuracy=Accuracy.SNAPSHOT,
        name="snap7",
    )
    out = join_snapshot(spark, Join(left=src, join_parts=(JoinPart(gb),), name="sj"))
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.coalesce(F.col("snap7_value_count_7d"), F.lit(0)).alias("cnt_7d_prev_midnight"),
        _r6(F.col("snap7_value_sum_7d") / 100).alias("sum_7d_prev_midnight"),
    )


_SNAPSHOT_JOIN_ORACLE = f"""
WITH ev AS (SELECT event_id, user_id, floor(value * 100 + 0.5) AS c, epoch_ms(ts) AS ts FROM events),
q AS (SELECT event_id, user_id, ts,
             epoch_ms(CAST(CAST(to_timestamp(ts / 1000) AS DATE) AS TIMESTAMP)) AS midnight
      FROM ev)
SELECT q.event_id, q.user_id, q.ts,
   count(CASE WHEN e.ts >= q.midnight - {7 * DAY_MS} THEN e.c END) AS cnt_7d_prev_midnight,
   round(CAST(sum(CASE WHEN e.ts >= q.midnight - {7 * DAY_MS} THEN e.c END) AS DOUBLE) / 100, 6)
     AS sum_7d_prev_midnight
FROM q LEFT JOIN ev e ON e.user_id = q.user_id AND e.ts < q.midnight
GROUP BY q.event_id, q.user_id, q.ts
"""


def q_entity_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chronon_spark.api.types import (
        Accuracy,
        Aggregation,
        EntitySource,
        GroupBy,
        Operation,
        Query,
    )
    from chronon_spark.operators.snapshot_join import snapshot_entities

    src = EntitySource(
        snapshot_table=f"{sf_dir}/customer.parquet",
        query=Query(
            selects={
                "c_nationkey": "c_nationkey",
                "c_acctbal": "floor(c_acctbal * 100 + 0.5)",
                "ds": "'2024-01-01'",
            },
            partition_column="ds",
        ),
    )
    gb = GroupBy(
        sources=(src,),
        key_columns=("c_nationkey",),
        aggregations=(
            Aggregation("c_acctbal", Operation.COUNT),
            Aggregation("c_acctbal", Operation.AVERAGE),
            Aggregation("c_acctbal", Operation.MIN),
            Aggregation("c_acctbal", Operation.MAX),
        ),
        accuracy=Accuracy.SNAPSHOT,
        name="nb",
    )
    out = snapshot_entities(spark, gb)
    return out.select(
        "c_nationkey",
        "ds",
        F.col("c_acctbal_count"),
        _r6(F.col("c_acctbal_average") / 100).alias("c_acctbal_average"),
        _r6(F.col("c_acctbal_min") / 100).alias("c_acctbal_min"),
        _r6(F.col("c_acctbal_max") / 100).alias("c_acctbal_max"),
    )


_ENTITY_SNAPSHOT_ORACLE = """
WITH c AS (SELECT c_nationkey, floor(c_acctbal * 100 + 0.5) AS b FROM customer)
SELECT c_nationkey, '2024-01-01' AS ds,
   count(b) AS c_acctbal_count,
   round((CAST(sum(b) AS DOUBLE) / count(b)) / 100, 6) AS c_acctbal_average,
   round(min(b) / 100, 6) AS c_acctbal_min,
   round(max(b) / 100, 6) AS c_acctbal_max
FROM c GROUP BY c_nationkey
"""


# ---------------------------------------------------------------------------
# StagingQuery / classic analytics (scan-agg-join coverage)
# ---------------------------------------------------------------------------

_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
   CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
   floor((CAST(sum(floor(l_extendedprice * 100 + 0.5)) AS DOUBLE) / 100) * 1000000 + 0.5) / 1000000 AS sum_base_price,
   floor(((CAST(sum(floor(l_discount * 100 + 0.5)) AS DOUBLE) / count(*)) / 100) * 1000000 + 0.5) / 1000000 AS avg_disc,
   count(*) AS count_order
FROM {LINEITEM}
WHERE {DS_EXPR} <= '{{ end_date }}' AND {DS_EXPR} >= '{{ start_date }}'
GROUP BY l_returnflag, l_linestatus
"""


def q_staging_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chronon_spark.operators.staging_query import run_staging_query

    sql = _Q1_SQL.replace("{LINEITEM}", f"parquet.`{sf_dir}/lineitem.parquet`").replace(
        "{DS_EXPR}", "date_format(l_shipdate, 'yyyy-MM-dd')"
    )
    return run_staging_query(spark, sql, "1995-01-01", "1998-09-02")


_STAGING_Q1_ORACLE = _Q1_SQL.replace("{LINEITEM}", "lineitem").replace(
    "{DS_EXPR}", "strftime(l_shipdate, '%Y-%m-%d')"
).replace("{{ start_date }}", "1995-01-01").replace("{{ end_date }}", "1998-09-02")


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority style 3-way join; revenue in exact cents."""
    for t in ("customer", "orders", "lineitem"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(f"__{t}")
    return spark.sql(
        """
        SELECT l.l_orderkey AS orderkey,
           floor((CAST(sum(floor(l.l_extendedprice * 100 + 0.5)
                      * (100 - floor(l.l_discount * 100 + 0.5))) AS DOUBLE) / 10000)
                 * 1000000 + 0.5) / 1000000 AS revenue,
           date_format(o.o_orderdate, 'yyyy-MM-dd') AS orderdate,
           o.o_orderpriority AS orderpriority
        FROM __customer c JOIN __orders o ON c.c_custkey = o.o_custkey
        JOIN __lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'O'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, orderkey
        LIMIT 10
        """
    )


_TPCH_Q3_ORACLE = """
SELECT l.l_orderkey AS orderkey,
   floor((CAST(sum(floor(l.l_extendedprice * 100 + 0.5)
              * (100 - floor(l.l_discount * 100 + 0.5))) AS DOUBLE) / 10000)
         * 1000000 + 0.5) / 1000000 AS revenue,
   strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
   o.o_orderpriority AS orderpriority
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderstatus = 'O'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, orderkey
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Structured Streaming (drained via availableNow into a batch result)
# ---------------------------------------------------------------------------

def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session_window sessionization of the events table; result
    must equal the batch gap+cumsum formulation (same oracle rows minus the
    session index)."""
    import tempfile

    from chronon_spark.streaming.stream_groupby import run_available_now, stream_sessionize

    d = tempfile.mkdtemp(prefix="stream_src_")
    spark.read.parquet(f"{sf_dir}/events.parquet").write.mode("overwrite").parquet(d)
    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(d)
        .selectExpr("user_id", "unix_micros(CAST(ts AS TIMESTAMP)) div 1000 AS ts")
    )
    ck = tempfile.mkdtemp(prefix="stream_ck_")
    return run_available_now(
        stream_sessionize(stream, ["user_id"], GAP_MS), ck, "drv_stream_sessions"
    )


_STREAM_SESSIONS_ORACLE = f"""
WITH ev AS (SELECT user_id, epoch_ms(ts) AS ts FROM events),
s AS (
  SELECT user_id, ts,
     CASE WHEN lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w > {GAP_MS} THEN 1 ELSE 0 END AS st
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
t AS (
  SELECT user_id, ts,
     sum(st) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM s
)
SELECT user_id,
   min(ts) AS session_start_ts, max(ts) AS session_end_ts,
   max(ts) - min(ts) AS session_duration_ms,
   count(*) AS session_events
FROM t GROUP BY user_id, sid
"""


def _r4(col):
    """4-decimal portable rounding for pow()-derived values (libm pow may
    differ by 1 ulp across engines; fewer rounding boundaries -> lower
    collision odds)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * 10000 + F.lit(0.5)) / 10000


def q_asof_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKEW / KURTOSIS via the Arrow kernel; oracle mirrors the kernel's
    exact moment formulas over exact-integer cents sums."""
    from chronon_spark.api.types import Aggregation, GroupBy, Operation, Window
    from chronon_spark.operators.asof_join import group_by_asof

    gb = GroupBy(
        sources=(_events_source(sf_dir, cents=True),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.SKEW, windows=(Window.days(14),)),
            Aggregation("value", Operation.KURTOSIS, windows=(Window.days(14),)),
        ),
        name="moments",
    )
    out = group_by_asof(spark, gb, _event_queries(spark, sf_dir))
    return out.select(
        "user_id",
        "ts",
        _r4("value_skew_14d").alias("value_skew_14d"),
        _r4("value_kurtosis_14d").alias("value_kurtosis_14d"),
    )


_MOMENTS_ORACLE = f"""
WITH ev0 AS (SELECT user_id, floor(value * 100 + 0.5) AS c, epoch_ms(ts) AS ts FROM events),
k AS (SELECT user_id, min(c) AS kv FROM ev0 GROUP BY user_id),
ev AS (SELECT ev0.user_id, ev0.c, ev0.c - k.kv AS csh, ev0.ts
       FROM ev0 JOIN k ON ev0.user_id = k.user_id),
q AS (SELECT DISTINCT user_id, ts FROM ev),
sums AS (
  SELECT q.user_id, q.ts,
     CAST(count(CASE WHEN e.ts > q.ts - {14 * DAY_MS} THEN e.c END) AS DOUBLE) AS n,
     CAST(sum(CASE WHEN e.ts > q.ts - {14 * DAY_MS} THEN e.csh END) AS DOUBLE) AS s1,
     CAST(sum(CASE WHEN e.ts > q.ts - {14 * DAY_MS} THEN e.csh * e.csh END) AS DOUBLE) AS s2,
     CAST(sum(CASE WHEN e.ts > q.ts - {14 * DAY_MS} THEN e.csh * e.csh * e.csh END) AS DOUBLE) AS s3,
     CAST(sum(CASE WHEN e.ts > q.ts - {14 * DAY_MS} THEN e.csh * e.csh * e.csh * e.csh END) AS DOUBLE) AS s4
  FROM q LEFT JOIN ev e ON e.user_id = q.user_id AND e.ts <= q.ts
  GROUP BY q.user_id, q.ts
),
m AS (
  SELECT user_id, ts, n,
     s1 / greatest(n, 1) AS mean,
     s2 / greatest(n, 1) - pow(s1 / greatest(n, 1), 2) AS m2,
     s3 / greatest(n, 1) - 3 * (s1 / greatest(n, 1)) * s2 / greatest(n, 1)
        + 2 * pow(s1 / greatest(n, 1), 3) AS m3,
     s4 / greatest(n, 1) - 4 * (s1 / greatest(n, 1)) * s3 / greatest(n, 1)
        + 6 * pow(s1 / greatest(n, 1), 2) * s2 / greatest(n, 1)
        - 3 * pow(s1 / greatest(n, 1), 4) AS m4
  FROM sums
)
SELECT user_id, ts,
   floor((CASE WHEN n > 1 AND m2 > 0 THEN m3 / pow(greatest(m2, 0), 1.5) END) * 10000 + 0.5) / 10000 AS value_skew_14d,
   floor((CASE WHEN n > 1 AND m2 > 0 THEN m4 / pow(greatest(m2, 0), 2) - 3.0 END) * 10000 + 0.5) / 10000 AS value_kurtosis_14d
FROM m
"""


def q_asof_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HISTOGRAM op (map<string,long>), projected to known categories."""
    from chronon_spark.api.types import Aggregation, GroupBy, Operation, Window
    from chronon_spark.operators.asof_join import group_by_asof

    gb = GroupBy(
        sources=(_events_source(sf_dir),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("event_type", Operation.HISTOGRAM, windows=(Window.days(7),)),
        ),
        name="hist",
    )
    out = group_by_asof(spark, gb, _event_queries(spark, sf_dir))
    m = "event_type_histogram_7d"
    return out.select(
        "user_id",
        "ts",
        F.element_at(m, "click").alias("click_7d"),
        F.element_at(m, "view").alias("view_7d"),
        F.element_at(m, "purchase").alias("purchase_7d"),
        F.element_at(m, "signup").alias("signup_7d"),
        F.element_at(m, "error").alias("error_7d"),
    )


_HISTOGRAM_ORACLE = f"""
WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ts FROM events),
q AS (SELECT DISTINCT user_id, ts FROM ev)
SELECT q.user_id, q.ts,
   NULLIF(count(CASE WHEN e.event_type = 'click' AND e.ts > q.ts - {7 * DAY_MS} THEN 1 END), 0) AS click_7d,
   NULLIF(count(CASE WHEN e.event_type = 'view' AND e.ts > q.ts - {7 * DAY_MS} THEN 1 END), 0) AS view_7d,
   NULLIF(count(CASE WHEN e.event_type = 'purchase' AND e.ts > q.ts - {7 * DAY_MS} THEN 1 END), 0) AS purchase_7d,
   NULLIF(count(CASE WHEN e.event_type = 'signup' AND e.ts > q.ts - {7 * DAY_MS} THEN 1 END), 0) AS signup_7d,
   NULLIF(count(CASE WHEN e.event_type = 'error' AND e.ts > q.ts - {7 * DAY_MS} THEN 1 END), 0) AS error_7d
FROM q LEFT JOIN ev e ON e.user_id = q.user_id AND e.ts <= q.ts
GROUP BY q.user_id, q.ts
"""


def q_asof_lastk_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST_K / TOP_K truncated-list IRs, serialized as comma-joined integer
    strings (engine-portable; ts-unique ordering makes them total)."""
    from chronon_spark.api.types import Aggregation, GroupBy, Operation, Window
    from chronon_spark.operators.asof_join import group_by_asof

    gb = GroupBy(
        sources=(_events_source(sf_dir, cents=True),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.LAST_K, {"k": 3}, (Window.days(7),)),
            Aggregation("value", Operation.TOP_K, {"k": 3}, (Window.days(7),)),
        ),
        name="ks",
    )
    out = group_by_asof(spark, gb, _event_queries(spark, sf_dir))

    def as_str(col):
        return F.concat_ws(",", F.transform(F.col(col), lambda x: x.cast("long")))

    return out.select(
        "user_id",
        "ts",
        as_str("value_last3_7d").alias("last3_7d"),
        as_str("value_top3_7d").alias("top3_7d"),
    )


_LASTK_ORACLE = f"""
WITH ev AS (SELECT user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c, epoch_ms(ts) AS ts FROM events),
q AS (SELECT DISTINCT user_id, ts FROM ev)
SELECT q.user_id, q.ts,
   coalesce(array_to_string(
     (list(e.c ORDER BY e.ts DESC) FILTER (WHERE e.ts > q.ts - {7 * DAY_MS}))[:3], ','), '') AS last3_7d,
   coalesce(array_to_string(
     (list(e.c ORDER BY e.c DESC, e.ts ASC) FILTER (WHERE e.ts > q.ts - {7 * DAY_MS}))[:3], ','), '') AS top3_7d
FROM q LEFT JOIN ev e ON e.user_id = q.user_id AND e.ts <= q.ts
GROUP BY q.user_id, q.ts
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function surface: JSON extraction inside Query.selects (the
    reference hands select exprs to Spark SQL verbatim, SURVEY.md S2.8) +
    aggregation over the extracted field."""
    from chronon_spark.api.types import EventSource, Query
    from chronon_spark.sources.scan import millis_expr, scan_source

    src = EventSource(
        table=f"{sf_dir}/events.parquet",
        query=Query(
            selects={
                "user_id": "user_id",
                "k": "CAST(get_json_object(props, '$.k') AS BIGINT)",
            },
            wheres=("event_type IN ('click', 'view')",),
            time_column=millis_expr("ts"),
        ),
    )
    df = scan_source(spark, src)
    return df.groupBy("user_id").agg(
        F.count("k").alias("n"),
        F.sum("k").alias("k_sum"),
        F.min("k").alias("k_min"),
        F.max("k").alias("k_max"),
    )


_JSON_ORACLE = """
SELECT user_id,
   count(k) AS n, CAST(sum(k) AS BIGINT) AS k_sum, min(k) AS k_min, max(k) AS k_max
FROM (
  SELECT user_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events WHERE event_type IN ('click', 'view')
)
GROUP BY user_id
"""


def q_compare_job(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CompareJob equivalent (stats/CompareJob.scala:41-115): row-level
    diff metrics between two per-customer feature tables — the right side
    drops orders with o_orderkey % 97 == 0, so every metric class
    (missing rows, value mismatches, numeric drift) is exercised."""
    from chronon_spark.plans.compare import compare_job

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.createOrReplaceTempView("__cmp_orders")
    left = spark.sql("""
        SELECT o_custkey, count(*) AS n_orders,
               sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS total_cents
        FROM __cmp_orders GROUP BY o_custkey
    """)
    right = spark.sql("""
        SELECT o_custkey, count(*) AS n_orders,
               sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS total_cents
        FROM __cmp_orders WHERE o_orderkey % 97 != 0 GROUP BY o_custkey
    """)
    _, metrics = compare_job(left, right, keys=["o_custkey"])
    return metrics.select("column", "metric", _r6(F.col("value")).alias("value"))


_COMPARE_ORACLE = """
WITH l AS (
  SELECT o_custkey, count(*) AS n_orders,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
  FROM orders GROUP BY o_custkey
),
r AS (
  SELECT o_custkey, count(*) AS n_orders,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
  FROM orders WHERE o_orderkey % 97 != 0 GROUP BY o_custkey
),
j AS (
  SELECT l.n_orders AS lno, r.n_orders AS rno,
         l.total_cents AS ltc, r.total_cents AS rtc
  FROM l FULL OUTER JOIN r ON l.o_custkey = r.o_custkey
),
m AS (
  SELECT 'n_orders' AS column, 'both_null' AS metric,
     CAST(count(CASE WHEN lno IS NULL AND rno IS NULL THEN 1 END) AS DOUBLE) AS value FROM j
  UNION ALL SELECT 'n_orders', 'left_null',
     CAST(count(CASE WHEN lno IS NULL AND rno IS NOT NULL THEN 1 END) AS DOUBLE) FROM j
  UNION ALL SELECT 'n_orders', 'right_null',
     CAST(count(CASE WHEN lno IS NOT NULL AND rno IS NULL THEN 1 END) AS DOUBLE) FROM j
  UNION ALL SELECT 'n_orders', 'mismatch',
     CAST(count(CASE WHEN lno IS NOT NULL AND rno IS NOT NULL AND lno != rno THEN 1 END) AS DOUBLE) FROM j
  UNION ALL SELECT 'n_orders', 'smape',
     round(avg(CASE WHEN lno IS NOT NULL AND rno IS NOT NULL THEN
        CASE WHEN abs(lno) + abs(rno) != 0
             THEN CAST(abs(lno - rno) * 2 AS DOUBLE) / (abs(lno) + abs(rno)) ELSE 0 END END), 6) FROM j
  UNION ALL SELECT 'n_orders', 'max_abs_diff',
     round(CAST(max(abs(lno - rno)) AS DOUBLE), 6) FROM j
  UNION ALL SELECT 'n_orders', 'median_diff',
     round(quantile_cont(CAST(abs(lno - rno) AS DOUBLE), 0.5), 6) FROM j
  UNION ALL SELECT 'n_orders', 'total', CAST(count(*) AS DOUBLE) FROM j
  UNION ALL SELECT 'total_cents', 'both_null',
     CAST(count(CASE WHEN ltc IS NULL AND rtc IS NULL THEN 1 END) AS DOUBLE) FROM j
  UNION ALL SELECT 'total_cents', 'left_null',
     CAST(count(CASE WHEN ltc IS NULL AND rtc IS NOT NULL THEN 1 END) AS DOUBLE) FROM j
  UNION ALL SELECT 'total_cents', 'right_null',
     CAST(count(CASE WHEN ltc IS NOT NULL AND rtc IS NULL THEN 1 END) AS DOUBLE) FROM j
  UNION ALL SELECT 'total_cents', 'mismatch',
     CAST(count(CASE WHEN ltc IS NOT NULL AND rtc IS NOT NULL AND ltc != rtc THEN 1 END) AS DOUBLE) FROM j
  UNION ALL SELECT 'total_cents', 'smape',
     round(avg(CASE WHEN ltc IS NOT NULL AND rtc IS NOT NULL THEN
        CASE WHEN abs(ltc) + abs(rtc) != 0
             THEN CAST(abs(ltc - rtc) * 2 AS DOUBLE) / (abs(ltc) + abs(rtc)) ELSE 0 END END), 6) FROM j
  UNION ALL SELECT 'total_cents', 'max_abs_diff',
     round(CAST(max(abs(ltc - rtc)) AS DOUBLE), 6) FROM j
  UNION ALL SELECT 'total_cents', 'median_diff',
     round(quantile_cont(CAST(abs(ltc - rtc) AS DOUBLE), 0.5), 6) FROM j
  UNION ALL SELECT 'total_cents', 'total', CAST(count(*) AS DOUBLE) FROM j
)
SELECT * FROM m
"""


def q_compare_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence metrics of the compare job (CompareMetrics.scala:85-101
    sequenceMetrics; EditDistance.scala insert/delete algebra): per
    customer, the sorted array of surviving order keys under two
    different filters. Both arrays are strictly increasing, so the
    insert/delete-only edit distance factors through the set
    intersection (LCS of increasing sequences = |l ∩ r|) — which is what
    lets an independent SQL oracle verify the Arrow DP kernel."""
    from chronon_spark.plans.compare import compare_job

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    left = (
        orders.where(F.col("o_orderkey") % 101 != 0)
        .groupBy("o_custkey")
        .agg(F.sort_array(F.collect_list("o_orderkey")).alias("okeys"))
    )
    right = (
        orders.where(F.col("o_orderkey") % 97 != 0)
        .groupBy("o_custkey")
        .agg(F.sort_array(F.collect_list("o_orderkey")).alias("okeys"))
    )
    _, metrics = compare_job(left, right, keys=["o_custkey"])
    return metrics.select("column", "metric", _r6(F.col("value")).alias("value"))


_COMPARE_SEQ_ORACLE = """
WITH l AS (
  SELECT o_custkey, list_sort(list(o_orderkey)) AS a
  FROM orders WHERE o_orderkey % 101 != 0 GROUP BY o_custkey
),
r AS (
  SELECT o_custkey, list_sort(list(o_orderkey)) AS a
  FROM orders WHERE o_orderkey % 97 != 0 GROUP BY o_custkey
),
j AS (
  SELECT l.a AS la, r.a AS ra,
         CASE WHEN l.a IS NOT NULL AND r.a IS NOT NULL
              THEN len(list_intersect(l.a, r.a)) END AS lcs
  FROM l FULL OUTER JOIN r ON l.o_custkey = r.o_custkey
),
e AS (
  SELECT la, ra,
         CASE WHEN la IS NULL AND ra IS NULL THEN 0
              WHEN la IS NULL THEN 0
              WHEN ra IS NULL THEN len(la)
              ELSE len(la) - lcs END AS ins,
         CASE WHEN la IS NULL AND ra IS NULL THEN 0
              WHEN la IS NULL THEN len(ra)
              WHEN ra IS NULL THEN 0
              ELSE len(ra) - lcs END AS del
  FROM j
),
m AS (
  SELECT 'okeys' AS column, 'both_null' AS metric,
     CAST(count(CASE WHEN la IS NULL AND ra IS NULL THEN 1 END) AS DOUBLE) AS value FROM e
  UNION ALL SELECT 'okeys', 'left_null',
     CAST(count(CASE WHEN la IS NULL AND ra IS NOT NULL THEN 1 END) AS DOUBLE) FROM e
  UNION ALL SELECT 'okeys', 'right_null',
     CAST(count(CASE WHEN la IS NOT NULL AND ra IS NULL THEN 1 END) AS DOUBLE) FROM e
  UNION ALL SELECT 'okeys', 'mismatch',
     CAST(count(CASE WHEN la IS NOT NULL AND ra IS NOT NULL AND la != ra THEN 1 END) AS DOUBLE) FROM e
  UNION ALL SELECT 'okeys', 'edit_insert_median',
     round(quantile_cont(CAST(ins AS DOUBLE), 0.5), 6) FROM e
  UNION ALL SELECT 'okeys', 'edit_delete_median',
     round(quantile_cont(CAST(del AS DOUBLE), 0.5), 6) FROM e
  UNION ALL SELECT 'okeys', 'edit_total_max',
     round(CAST(max(ins + del) AS DOUBLE), 6) FROM e
  UNION ALL SELECT 'okeys', 'left_length_median',
     round(quantile_cont(CASE WHEN la IS NOT NULL THEN CAST(len(la) AS DOUBLE) END, 0.5), 6) FROM e
  UNION ALL SELECT 'okeys', 'right_length_median',
     round(quantile_cont(CASE WHEN ra IS NOT NULL THEN CAST(len(ra) AS DOUBLE) END, 0.5), 6) FROM e
  UNION ALL SELECT 'okeys', 'mismatch_length',
     CAST(count(CASE WHEN la IS NOT NULL AND ra IS NOT NULL AND len(la) != len(ra) THEN 1 END) AS DOUBLE) FROM e
  UNION ALL SELECT 'okeys', 'total', CAST(count(*) AS DOUBLE) FROM e
)
SELECT * FROM m
"""


def q_feature_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day per-column summaries (drift/Summarizer.scala equivalent):
    counts, null rate, distinct, stable moments in one groupBy(ds) pass +
    DDSketch percentiles (mergeable IRs — no exact-percentile buffer;
    the oracle mirrors the bucket math bit-exactly)."""
    from chronon_spark.plans.summary import summarize
    from chronon_spark.sources.scan import millis_expr

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr(
            "date_format(ts, 'yyyy-MM-dd') AS ds",
            "floor(value * 100 + 0.5) AS value",
        )
    )
    out = summarize(ev, "ds", ["value"])
    return out.select(
        "ds", "column", "n_rows", "null_count",
        _r6(F.col("null_rate")).alias("null_rate"),
        "n_distinct",
        _r6(F.col("mean") / 100).alias("mean"),
        # variance via var_pop differs between engines at ~1e-14 RELATIVE
        # (different stable algorithms); a 1e-2 grid keeps the comparison
        # meaningful without boundary-collision flakiness on ~1e6 values
        (F.floor(F.col("variance") / 10000 * 100 + F.lit(0.5)) / 100).alias("variance"),
        _r6(F.col("p10") / 100).alias("p10"),
        _r6(F.col("p50") / 100).alias("p50"),
        _r6(F.col("p90") / 100).alias("p90"),
    )


def _summary_oracle() -> str:
    bucket, rep = _dds_sql()
    return f"""
WITH ev AS (
  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS ds,
         floor(value * 100 + 0.5) AS value
  FROM events
),
mom AS (
  SELECT ds, count(*) AS n_rows,
     count(CASE WHEN value IS NULL THEN 1 END) AS null_count,
     round(CAST(count(CASE WHEN value IS NULL THEN 1 END) AS DOUBLE) / count(*), 6) AS null_rate,
     count(DISTINCT value) AS n_distinct,
     round((CAST(sum(value) AS DOUBLE) / count(value)) / 100, 6) AS mean,
     floor(var_pop(value) / 10000 * 100 + 0.5) / 100 AS variance
  FROM ev GROUP BY ds
),
b AS (SELECT ds, {bucket('CAST(value AS DOUBLE)')} AS bucket FROM ev WHERE value IS NOT NULL),
h AS (SELECT ds, bucket, count(*) AS cnt FROM b GROUP BY ds, bucket),
c AS (SELECT ds, bucket, cnt,
      sum(cnt) OVER (PARTITION BY ds ORDER BY bucket) AS cum,
      sum(cnt) OVER (PARTITION BY ds) AS n FROM h),
p AS (
  SELECT ds,
     min(CASE WHEN cum >= greatest(CAST(ceil(n * 0.1) AS BIGINT), 1) THEN bucket END) AS b10,
     min(CASE WHEN cum >= greatest(CAST(ceil(n * 0.5) AS BIGINT), 1) THEN bucket END) AS b50,
     min(CASE WHEN cum >= greatest(CAST(ceil(n * 0.9) AS BIGINT), 1) THEN bucket END) AS b90
  FROM c GROUP BY ds
)
SELECT mom.ds, 'value' AS column, n_rows, null_count, null_rate, n_distinct, mean, variance,
   round({rep('b10')} / 100, 6) AS p10,
   round({rep('b50')} / 100, 6) AS p50,
   round({rep('b90')} / 100, 6) AS p90
FROM mom LEFT JOIN p ON mom.ds = p.ds
"""


def q_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift series between two date ranges of the events table
    (stats/drift + StatsCompute equivalent)."""
    from chronon_spark.plans.summary import drift_series

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr(
            "date_format(ts, 'yyyy-MM-dd') AS ds",
            "floor(value * 100 + 0.5) AS value",
        )
    )
    out = drift_series(
        ev, "ds",
        baseline=("2024-01-01", "2024-01-15"),
        current=("2024-01-16", "2024-01-31"),
        columns=["value"],
    )
    return out.select(
        "column", "baseline_rows", "current_rows",
        _r6(F.col("null_rate_shift")).alias("null_rate_shift"),
        _r6(F.col("mean_shift") / 100).alias("mean_shift"),
        _r6(F.col("median_shift") / 100).alias("median_shift"),
        _r6(F.col("normalized_mean_shift")).alias("normalized_mean_shift"),
    )


def _drift_oracle() -> str:
    bucket, rep = _dds_sql()

    def side_median(lo: str, hi: str, alias: str) -> str:
        return f"""
{alias}_h AS (
  SELECT {bucket('CAST(value AS DOUBLE)')} AS bucket, count(*) AS cnt
  FROM ev WHERE value IS NOT NULL AND ds >= '{lo}' AND ds <= '{hi}' GROUP BY 1
),
{alias}_c AS (
  SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum, sum(cnt) OVER () AS n FROM {alias}_h
),
{alias}_p AS (
  SELECT min(CASE WHEN cum >= greatest(CAST(ceil(n * 0.5) AS BIGINT), 1) THEN bucket END) AS b50
  FROM {alias}_c
)"""

    return f"""
WITH ev AS (
  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS ds,
         floor(value * 100 + 0.5) AS value
  FROM events
),
b AS (
  SELECT count(*) AS n_rows,
     CAST(count(CASE WHEN value IS NULL THEN 1 END) AS DOUBLE) / count(*) AS null_rate,
     CAST(sum(value) AS DOUBLE) / count(value) AS mean,
     var_pop(value) AS variance
  FROM ev WHERE ds >= '2024-01-01' AND ds <= '2024-01-15'
),
c AS (
  SELECT count(*) AS n_rows,
     CAST(count(CASE WHEN value IS NULL THEN 1 END) AS DOUBLE) / count(*) AS null_rate,
     CAST(sum(value) AS DOUBLE) / count(value) AS mean
  FROM ev WHERE ds >= '2024-01-16' AND ds <= '2024-01-31'
),{side_median('2024-01-01', '2024-01-15', 'bm')},{side_median('2024-01-16', '2024-01-31', 'cm')}
SELECT 'value' AS column,
   b.n_rows AS baseline_rows, c.n_rows AS current_rows,
   round(c.null_rate - b.null_rate, 6) AS null_rate_shift,
   round((c.mean - b.mean) / 100, 6) AS mean_shift,
   round(({rep('cm_p.b50')} - {rep('bm_p.b50')}) / 100, 6) AS median_shift,
   round(CASE WHEN b.variance > 0 THEN abs(c.mean - b.mean) / sqrt(b.variance) END, 6)
     AS normalized_mean_shift
FROM b, c, bm_p, cm_p
"""


def q_drift_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based distribution distances (stats/drift/Expressions.scala:
    Jensen-Shannon / PSI / Hellinger between DDSketch bucket histograms) —
    two map-side-combined aggregations + a tiny fold, no raw-row diffing."""
    from chronon_spark.plans.summary import drift_distances

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr(
            "date_format(ts, 'yyyy-MM-dd') AS ds",
            "CAST(floor(value * 100 + 0.5) AS DOUBLE) AS value",
            "event_type",
        )
    )
    out = drift_distances(
        ev, "ds",
        baseline=("2024-01-01", "2024-01-15"),
        current=("2024-01-16", "2024-01-31"),
        columns=["value"],
        categorical_columns=["event_type"],
    )
    return out.select(
        "column",
        F.col("baseline_rows").cast("long").alias("baseline_rows"),
        F.col("current_rows").cast("long").alias("current_rows"),
        _r6(F.col("jsd")).alias("jsd"),
        _r6(F.col("psi")).alias("psi"),
        _r6(F.col("hellinger")).alias("hellinger"),
    )


def _drift_dist_oracle() -> str:
    bucket, _ = _dds_sql()

    def block(name: str, col_label: str, bexpr: str, notnull: str) -> str:
        return f"""
{name}_bb AS (
  SELECT {bexpr} AS bucket, count(*) AS cnt
  FROM ev WHERE {notnull} AND ds >= '2024-01-01' AND ds <= '2024-01-15' GROUP BY 1
),
{name}_cc AS (
  SELECT {bexpr} AS bucket, count(*) AS cnt
  FROM ev WHERE {notnull} AND ds >= '2024-01-16' AND ds <= '2024-01-31' GROUP BY 1
),
{name}_j AS (
  SELECT COALESCE(b.cnt, 0) AS b_cnt, COALESCE(c.cnt, 0) AS c_cnt
  FROM {name}_bb b FULL JOIN {name}_cc c ON b.bucket = c.bucket
),
{name}_t AS (SELECT CAST(sum(b_cnt) AS DOUBLE) AS b_tot, CAST(sum(c_cnt) AS DOUBLE) AS c_tot
             FROM {name}_j),
{name}_pq AS (SELECT b_cnt / t.b_tot AS p, c_cnt / t.c_tot AS q FROM {name}_j, {name}_t t),
{name}_out AS (
  SELECT '{col_label}' AS column,
     (SELECT CAST(b_tot AS BIGINT) FROM {name}_t) AS baseline_rows,
     (SELECT CAST(c_tot AS BIGINT) FROM {name}_t) AS current_rows,
     round(sum(CASE WHEN p > 0 THEN 0.5 * p * ln(p / ((p + q) / 2)) ELSE 0 END
             + CASE WHEN q > 0 THEN 0.5 * q * ln(q / ((p + q) / 2)) ELSE 0 END), 6) AS jsd,
     round(sum((greatest(p, 1e-6) - greatest(q, 1e-6))
               * ln(greatest(p, 1e-6) / greatest(q, 1e-6))), 6) AS psi,
     round(sqrt(greatest(0.0, 1.0 - sum(sqrt(p * q)))), 6) AS hellinger
  FROM {name}_pq
)"""

    return f"""
WITH ev AS (
  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS ds,
         CAST(floor(value * 100 + 0.5) AS DOUBLE) AS value,
         event_type
  FROM events
),{block('num', 'value', bucket('value'), 'value IS NOT NULL')},
{block('cat', 'event_type', 'event_type', 'event_type IS NOT NULL')}
SELECT * FROM num_out UNION ALL SELECT * FROM cat_out
"""


_CUMULATIVE_DIR = "/tmp/chronon_cumulative_drv"


def q_cumulative_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-source scan (reference GroupBy.scala:633-645): every
    partition holds FULL history, so only the LATEST partition is read.
    Two snapshot partitions are materialized — ds=01 with half the orders,
    ds=02 with all — and the scan must see exactly the ds=02 rows."""
    import shutil

    from chronon_spark.api.types import EventSource, Query
    from chronon_spark.sources.scan import scan_source

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    shutil.rmtree(_CUMULATIVE_DIR, ignore_errors=True)
    half = orders.where("o_orderkey % 2 = 0").withColumn("snap_ds", F.lit("2024-01-01"))
    full = orders.withColumn("snap_ds", F.lit("2024-01-02"))
    half.unionByName(full).write.partitionBy("snap_ds").parquet(_CUMULATIVE_DIR)

    src = EventSource(
        table=_CUMULATIVE_DIR,
        is_cumulative=True,
        query=Query(
            selects={
                "o_orderkey": "o_orderkey",
                "o_custkey": "o_custkey",
                "cents": "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)",
            },
            time_column="unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 1000",
            partition_column="snap_ds",
        ),
    )
    return scan_source(spark, src)


_CUMULATIVE_ORACLE = """
SELECT o_orderkey, o_custkey,
   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
   epoch_ms(o_orderdate) AS ts
FROM orders
"""


_BACKFILL_DIR = "/tmp/chronon_backfill_drv"


def q_backfill_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-insert + resume through the driver gate: backfill daily
    per-user counts for a prefix range, then extend to the full range —
    the second run computes ONLY the hole (unfilledRanges semantics) and
    dynamic overwrite leaves the first run's partitions intact. The final
    table must equal a direct full-range computation."""
    import shutil

    from chronon_spark.plans.backfill import backfill
    from chronon_spark.plans.partition_range import PartitionRange

    shutil.rmtree(_BACKFILL_DIR, ignore_errors=True)
    shutil.rmtree(_BACKFILL_DIR + "__lineage", ignore_errors=True)

    def compute(s, rng):
        ev = s.read.parquet(f"{sf_dir}/events.parquet")
        return (
            ev.withColumn("ds", F.date_format("ts", "yyyy-MM-dd"))
            .where((F.col("ds") >= rng.start) & (F.col("ds") <= rng.end))
            .groupBy("user_id", "ds")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    backfill(spark, compute, _BACKFILL_DIR,
             PartitionRange("2024-01-02", "2024-01-05"), step_days=2, conf="c1")
    res = backfill(spark, compute, _BACKFILL_DIR,
                   PartitionRange("2024-01-02", "2024-01-09"), step_days=2, conf="c1")
    # the resume only computed the hole (06..09); a full recompute here
    # would be a correctness bug in the checkpoint logic
    assert all(s.start >= "2024-01-06" for s in res.computed), res.computed
    out = spark.read.parquet(_BACKFILL_DIR)
    return out.select(
        "user_id", F.col("ds").cast("string").alias("ds"), "n"
    ).where(F.col("n") > 0)


_BACKFILL_ORACLE = """
WITH ev AS (
  SELECT user_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS ds FROM events
)
SELECT user_id, ds, count(*) AS n
FROM ev WHERE ds >= '2024-01-02' AND ds <= '2024-01-09'
GROUP BY user_id, ds
"""


def q_sketch_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable DDSketch-style percentile IRs (operators/ddsketch.py):
    log-histogram buckets -> per-key p50/p90 with an alpha relative-error
    bound. The oracle mirrors the bucket math and cumulative walk."""
    from chronon_spark.operators.ddsketch import quantiles_from_sketch, sketch_aggregate

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id", "CAST(value AS DOUBLE) AS value"
    )
    ir = sketch_aggregate(ev, ["user_id"], "value", alpha=0.01)
    out = quantiles_from_sketch(ir, ["user_id"], [0.5, 0.9], alpha=0.01)
    return out.select(
        "user_id", _r6(F.col("p50")).alias("p50"), _r6(F.col("p90")).alias("p90")
    )


def _sketch_oracle() -> str:
    import math

    from chronon_spark.operators.ddsketch import _Z, gamma_of

    g = gamma_of(0.01)
    lg = math.log(g)
    rep_scale = (2.0 * g / (g + 1.0)) / g

    def rep(b):
        return (
            f"CASE WHEN {b} = {_Z} THEN 0.0 "
            f"WHEN {b} > {_Z} THEN exp(({b} - {_Z}) * {lg!r}) * {rep_scale!r} "
            f"ELSE -exp(({_Z} - 1 - {b}) * {lg!r}) * {rep_scale!r} END"
        )

    return f"""
WITH ev AS (SELECT user_id, CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL),
b AS (
  SELECT user_id,
     CASE WHEN v = 0 THEN {_Z}
          WHEN v > 0 THEN {_Z} + CAST(ceil(ln(abs(v)) / {lg!r}) AS BIGINT)
          ELSE {_Z} - CAST(ceil(ln(abs(v)) / {lg!r}) AS BIGINT) - 1 END AS bucket
  FROM ev
),
h AS (SELECT user_id, bucket, count(*) AS cnt FROM b GROUP BY user_id, bucket),
c AS (
  SELECT user_id, bucket, cnt,
     sum(cnt) OVER (PARTITION BY user_id ORDER BY bucket) AS cum,
     sum(cnt) OVER (PARTITION BY user_id) AS n
  FROM h
),
p AS (
  SELECT user_id,
     min(CASE WHEN cum >= greatest(CAST(ceil(n * 0.5) AS BIGINT), 1) THEN bucket END) AS b50,
     min(CASE WHEN cum >= greatest(CAST(ceil(n * 0.9) AS BIGINT), 1) THEN bucket END) AS b90
  FROM c GROUP BY user_id
)
SELECT user_id, round({rep('b50')}, 6) AS p50, round({rep('b90')}, 6) AS p90
FROM p
"""


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (dedup-by-url prerequisite): messy URLs
    synthesized deterministically from orders, canonicalized with
    textstats.canonical_url — lowercased scheme/host, default ports
    stripped, fragments dropped, tracking params removed, params sorted."""
    from chronon_spark.operators.textstats import canonical_url

    df = spark.sql(f"""
        SELECT o_orderkey,
           concat('HTTPS://Shop', CAST(o_custkey % 50 AS STRING),
                  '.Example.COM', CASE WHEN o_orderkey % 3 = 0 THEN ':443' ELSE '' END,
                  '/item/', CAST(o_orderkey AS STRING),
                  CASE WHEN o_orderkey % 2 = 0 THEN '/' ELSE '' END,
                  '?utm_source=mail&z=', CAST(o_orderkey % 7 AS STRING),
                  '&a=1#sec', CAST(o_orderkey % 5 AS STRING)) AS url
        FROM parquet.`{sf_dir}/orders.parquet`
    """)
    return df.select("o_orderkey", "url", canonical_url("url").alias("canonical"))


_URL_CANONICAL_ORACLE = """
WITH u AS (
  SELECT o_orderkey,
     concat('HTTPS://Shop', CAST(o_custkey % 50 AS VARCHAR),
            '.Example.COM', CASE WHEN o_orderkey % 3 = 0 THEN ':443' ELSE '' END,
            '/item/', CAST(o_orderkey AS VARCHAR),
            CASE WHEN o_orderkey % 2 = 0 THEN '/' ELSE '' END,
            '?utm_source=mail&z=', CAST(o_orderkey % 7 AS VARCHAR),
            '&a=1#sec', CAST(o_orderkey % 5 AS VARCHAR)) AS url
  FROM orders
)
SELECT u.o_orderkey, u.url,
   concat('https://shop', CAST(o.o_custkey % 50 AS VARCHAR), '.example.com',
          '/item/', CAST(u.o_orderkey AS VARCHAR),
          '?a=1&z=', CAST(u.o_orderkey % 7 AS VARCHAR)) AS canonical
FROM u JOIN orders o ON o.o_orderkey = u.o_orderkey
"""


def q_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition rules (Rae et al. 2021): duplicate-line fraction +
    top-bigram occupancy per document, with the published pass thresholds."""
    from chronon_spark.operators.textstats import repetition_flags

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = repetition_flags(docs, "doc_id")
    return out.select(
        "doc_id",
        _r6(F.col("dup_line_frac")).alias("dup_line_frac"),
        _r6(F.col("top_bigram_frac")).alias("top_bigram_frac"),
        "passes_repetition",
    )


_REPETITION_ORACLE = r"""
WITH d AS (
  SELECT doc_id,
     list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                 x -> len(x) > 0) AS lines,
     regexp_split_to_array(trim(text), '\s+') AS w
  FROM documents
),
g AS (
  SELECT doc_id, lines,
     [array_to_string(w[i:i+1], ' ')
      for i in generate_series(1, greatest(len(w) - 1, 0))] AS grams
  FROM d
),
m AS (
  SELECT doc_id,
     CASE WHEN len(lines) > 0
          THEN CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines)
          ELSE 0.0 END AS dup_line_frac,
     CASE WHEN len(grams) > 0
          THEN CAST(list_max(list_transform(list_distinct(grams),
                    x -> len(list_filter(grams, y -> y = x)))) AS DOUBLE) / len(grams)
          ELSE 0.0 END AS top_bigram_frac
  FROM g
)
SELECT doc_id, round(dup_line_frac, 6) AS dup_line_frac,
   round(top_bigram_frac, 6) AS top_bigram_frac,
   dup_line_frac <= 0.3 AND top_bigram_frac <= 0.18 AS passes_repetition
FROM m
"""


def q_eval_preflight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-execution pre-flight (plans/eval.py; reference
    batch/Eval.scala:147-220): three confs — healthy, ANSI-cast that only
    fails at runtime, and a seconds-resolution time_column — each must
    produce its deterministic check statuses. Messages carry stack text,
    so only (conf, check, status) rows are exposed; the oracle is the
    expected constant table."""
    from chronon_spark.api.types import (
        Aggregation, EventSource, GroupBy, Operation, Query, Window,
    )
    from chronon_spark.plans.eval import eval_group_by
    from chronon_spark.sources.scan import millis_expr

    def gb(name, selects, time_column):
        return GroupBy(
            sources=(EventSource(
                table=f"{sf_dir}/events.parquet",
                query=Query(selects=selects, time_column=time_column),
            ),),
            key_columns=("user_id",),
            aggregations=(
                Aggregation("value", Operation.SUM, windows=(Window.days(7),)),
            ),
            name=name,
        )

    confs = [
        gb("healthy", {"user_id": "user_id", "value": "value"},
           millis_expr("ts")),
        gb("runtime_cast", {"user_id": "user_id",
                            "value": "CAST(substr(event_type, 1, 2) AS INT)"},
           millis_expr("ts")),
        gb("seconds_ts", {"user_id": "user_id", "value": "value"},
           "unix_timestamp(ts)"),
    ]
    rows = []
    for conf in confs:
        res = eval_group_by(spark, conf, sample_rows=20)
        rows += [(conf.name, c.name, c.status) for c in res.checks]
    return spark.createDataFrame(rows, "conf string, check_name string, status string")


_EVAL_PREFLIGHT_ORACLE = """
SELECT * FROM (VALUES
  ('healthy', 'source_reachable', 'SUCCESS'),
  ('healthy', 'source_expression', 'SUCCESS'),
  ('healthy', 'source_timestamp', 'SUCCESS'),
  ('healthy', 'key_schema', 'SUCCESS'),
  ('healthy', 'agg_schema', 'SUCCESS'),
  ('healthy', 'sampled_execution', 'SUCCESS'),
  ('runtime_cast', 'source_reachable', 'SUCCESS'),
  ('runtime_cast', 'source_expression', 'FAILURE'),
  ('runtime_cast', 'source_timestamp', 'SKIPPED'),
  ('runtime_cast', 'agg_schema', 'SUCCESS'),
  ('runtime_cast', 'sampled_execution', 'SKIPPED'),
  ('seconds_ts', 'source_reachable', 'SUCCESS'),
  ('seconds_ts', 'source_expression', 'SUCCESS'),
  ('seconds_ts', 'source_timestamp', 'FAILURE'),
  ('seconds_ts', 'key_schema', 'SUCCESS'),
  ('seconds_ts', 'agg_schema', 'SUCCESS'),
  ('seconds_ts', 'sampled_execution', 'SUCCESS')
) AS t(conf, check_name, status)
"""


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analyzer-style pre-flight profile of the events table (one agg pass)."""
    from chronon_spark.plans.profile import profile

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type", "value"
    )
    out = profile(ev, exact_distinct=True)
    return out.select(
        "column", "n_rows", "null_count", "distinct",
        _r6(F.col("min")).alias("min"), _r6(F.col("max")).alias("max"),
        _r6(F.col("mean")).alias("mean"),
    )


_PROFILE_ORACLE = """
WITH base AS (SELECT event_id, user_id, event_type, value FROM events),
n AS (SELECT count(*) AS n_rows FROM base)
SELECT * FROM (
  SELECT 'event_id' AS column, n.n_rows,
     (SELECT count(*) FROM base WHERE event_id IS NULL) AS null_count,
     (SELECT count(DISTINCT event_id) FROM base) AS distinct,
     round(CAST((SELECT min(event_id) FROM base) AS DOUBLE), 6) AS min,
     round(CAST((SELECT max(event_id) FROM base) AS DOUBLE), 6) AS max,
     round((SELECT CAST(sum(event_id) AS DOUBLE) / count(event_id) FROM base), 6) AS mean
  FROM n
  UNION ALL
  SELECT 'user_id', n.n_rows,
     (SELECT count(*) FROM base WHERE user_id IS NULL),
     (SELECT count(DISTINCT user_id) FROM base),
     round(CAST((SELECT min(user_id) FROM base) AS DOUBLE), 6),
     round(CAST((SELECT max(user_id) FROM base) AS DOUBLE), 6),
     round((SELECT CAST(sum(user_id) AS DOUBLE) / count(user_id) FROM base), 6)
  FROM n
  UNION ALL
  SELECT 'event_type', n.n_rows,
     (SELECT count(*) FROM base WHERE event_type IS NULL),
     (SELECT count(DISTINCT event_type) FROM base),
     NULL, NULL, NULL
  FROM n
  UNION ALL
  SELECT 'value', n.n_rows,
     (SELECT count(*) FROM base WHERE value IS NULL),
     (SELECT count(DISTINCT value) FROM base),
     round((SELECT min(value) FROM base), 6),
     round((SELECT max(value) FROM base), 6),
     round((SELECT sum(floor(value * 100 + 0.5)) / count(value) / 100 FROM base), 6)
  FROM n
)
"""


def q_asof_multisource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source GroupBy: two disjoint event sources (split by type)
    union by name before aggregation (reference GroupBy.scala:499-503) —
    must equal a single-source scan of the whole table."""
    from chronon_spark.api.types import Aggregation, EventSource, GroupBy, Operation, Query, Window
    from chronon_spark.operators.asof_join import group_by_asof
    from chronon_spark.sources.scan import millis_expr

    def half(pred):
        return EventSource(
            table=f"{sf_dir}/events.parquet",
            query=Query(
                selects={"user_id": "user_id", "value": "floor(value*100 + 0.5)"},
                wheres=(pred,),
                time_column=millis_expr("ts"),
            ),
        )

    gb = GroupBy(
        sources=(half("event_type IN ('click', 'view')"),
                 half("event_type NOT IN ('click', 'view')")),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.COUNT, windows=(Window.days(7),)),
            Aggregation("value", Operation.SUM, windows=(Window.days(7),)),
        ),
        name="ms",
    )
    out = group_by_asof(spark, gb, _event_queries(spark, sf_dir))
    return out.select(
        "user_id", "ts",
        F.col("value_count_7d"),
        _r6(F.col("value_sum_7d") / 100).alias("value_sum_7d"),
    )


_MULTISOURCE_ORACLE = f"""
WITH ev AS (SELECT user_id, floor(value * 100 + 0.5) AS c, epoch_ms(ts) AS ts FROM events),
q AS (SELECT DISTINCT user_id, ts FROM ev)
SELECT q.user_id, q.ts,
   count(CASE WHEN e.ts > q.ts - {7 * DAY_MS} THEN e.c END) AS value_count_7d,
   round(CAST(sum(CASE WHEN e.ts > q.ts - {7 * DAY_MS} THEN e.c END) AS DOUBLE) / 100, 6) AS value_sum_7d
FROM q LEFT JOIN ev e ON e.user_id = q.user_id AND e.ts <= q.ts
GROUP BY q.user_id, q.ts
"""


def q_asof_firstk_uniquetopk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST_K / BOTTOM_K / UNIQUE_TOP_K truncated-list IRs as portable
    integer strings."""
    from chronon_spark.api.types import Aggregation, GroupBy, Operation, Window
    from chronon_spark.operators.asof_join import group_by_asof

    gb = GroupBy(
        sources=(_events_source(sf_dir, cents=True),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.FIRST_K, {"k": 3}, (Window.days(7),)),
            Aggregation("value", Operation.BOTTOM_K, {"k": 3}, (Window.days(7),)),
            Aggregation("value", Operation.UNIQUE_TOP_K, {"k": 3}, (Window.days(7),)),
        ),
        name="ks2",
    )
    out = group_by_asof(spark, gb, _event_queries(spark, sf_dir))

    def as_str(col):
        return F.concat_ws(",", F.transform(F.col(col), lambda x: x.cast("long")))

    return out.select(
        "user_id",
        "ts",
        as_str("value_first3_7d").alias("first3_7d"),
        as_str("value_bottom3_7d").alias("bottom3_7d"),
        as_str("value_unique_top_k_7d").alias("unique_top3_7d"),
    )


_FIRSTK_ORACLE = f"""
WITH ev AS (SELECT user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c, epoch_ms(ts) AS ts FROM events),
q AS (SELECT DISTINCT user_id, ts FROM ev)
SELECT q.user_id, q.ts,
   coalesce(array_to_string(
     (list(e.c ORDER BY e.ts ASC) FILTER (WHERE e.ts > q.ts - {7 * DAY_MS}))[:3], ','), '') AS first3_7d,
   coalesce(array_to_string(
     (list(e.c ORDER BY e.c ASC, e.ts ASC) FILTER (WHERE e.ts > q.ts - {7 * DAY_MS}))[:3], ','), '') AS bottom3_7d,
   coalesce(array_to_string(
     (list_sort(list(DISTINCT e.c) FILTER (WHERE e.ts > q.ts - {7 * DAY_MS}), 'DESC'))[:3], ','), '') AS unique_top3_7d
FROM q LEFT JOIN ev e ON e.user_id = q.user_id AND e.ts <= q.ts
GROUP BY q.user_id, q.ts
"""


def q_derived_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-level derivations WITHOUT "*": every left/base column must
    survive (reference Join.derivationProjection keeps non-value columns
    and replaces only the join-part outputs)."""
    from chronon_spark.api.types import (
        Aggregation, EventSource, GroupBy, Join, JoinPart, Operation, Query, Window,
    )
    from chronon_spark.operators.asof_join import join_asof
    from chronon_spark.sources.scan import millis_expr

    left = EventSource(
        table=f"{sf_dir}/orders.parquet",
        query=Query(
            selects={"o_orderkey": "o_orderkey", "o_custkey": "o_custkey",
                     "o_status": "o_orderstatus"},
            time_column=millis_expr("o_orderdate"),
        ),
    )
    right = EventSource(
        table=f"{sf_dir}/orders.parquet",
        query=Query(
            selects={"o_custkey": "o_custkey", "price": "floor(o_totalprice * 100 + 0.5)"},
            time_column=millis_expr("o_orderdate"),
        ),
    )
    gb = GroupBy(
        sources=(right,), key_columns=("o_custkey",),
        aggregations=(
            Aggregation("price", Operation.COUNT),
            Aggregation("price", Operation.SUM, windows=(Window.days(90),)),
        ),
        name="co",
    )
    j = Join(
        left=left, join_parts=(JoinPart(gb),), name="dj",
        derivations={
            "avg_cents_90d": "co_price_sum_90d / co_price_count",
            "n_orders": "co_price_count",
        },
    )
    out = join_asof(spark, j)
    return out.select(
        "o_orderkey", "o_custkey", "o_status", "ts",
        _r6(F.col("avg_cents_90d") / 100).alias("avg_cents_90d"),
        F.col("n_orders"),
    )


_DERIVED_JOIN_ORACLE = f"""
WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus AS o_status,
                  floor(o_totalprice * 100 + 0.5) AS c,
                  epoch_ms(o_orderdate) AS ts FROM orders),
agg AS (
  SELECT q.o_orderkey, q.o_custkey, q.o_status, q.ts,
     count(e.c) AS cnt,
     CAST(sum(CASE WHEN e.ts > q.ts - {90 * DAY_MS} THEN e.c END) AS DOUBLE) AS s90
  FROM o q LEFT JOIN o e ON e.o_custkey = q.o_custkey AND e.ts <= q.ts
  GROUP BY q.o_orderkey, q.o_custkey, q.o_status, q.ts
)
SELECT o_orderkey, o_custkey, o_status, ts,
   round((s90 / cnt) / 100, 6) AS avg_cents_90d,
   cnt AS n_orders
FROM agg
"""


def q_bootstrap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap join (reference JoinBootstrapJob + CoveringSet): rows the
    bootstrap table fully covers skip part computation and keep their
    precomputed values; partially-covered rows compute the remaining
    columns and coalesce(bootstrap, computed) per column."""
    from chronon_spark.api.types import (
        Aggregation, EventSource, GroupBy, Join, JoinPart, Operation, Query, Window,
    )
    from chronon_spark.operators.asof_join import join_asof
    from chronon_spark.sources.scan import millis_expr

    left = EventSource(
        table=f"{sf_dir}/orders.parquet",
        query=Query(
            selects={"o_orderkey": "o_orderkey", "o_custkey": "o_custkey"},
            time_column=millis_expr("o_orderdate"),
        ),
    )
    right = EventSource(
        table=f"{sf_dir}/orders.parquet",
        query=Query(
            selects={"o_custkey": "o_custkey", "price": "floor(o_totalprice * 100 + 0.5)"},
            time_column=millis_expr("o_orderdate"),
        ),
    )
    gb = GroupBy(
        sources=(right,), key_columns=("o_custkey",),
        aggregations=(
            Aggregation("price", Operation.COUNT),
            Aggregation("price", Operation.SUM, windows=(Window.days(90),)),
        ),
        name="co",
    )
    j = Join(left=left, join_parts=(JoinPart(gb),), name="bs",
             row_ids=("o_orderkey",))
    # deterministic bootstrap: %7 rows fully covered (sentinels), %11 rows
    # (excluding %7) cover only the count column
    boot = spark.sql(f"""
        SELECT o_orderkey,
           CAST(-5 AS BIGINT) AS co_price_count,
           CASE WHEN o_orderkey % 7 = 0 THEN CAST(-500.0 AS DOUBLE) END
             AS co_price_sum_90d
        FROM parquet.`{sf_dir}/orders.parquet`
        WHERE o_orderkey % 7 = 0 OR o_orderkey % 11 = 0
    """)
    out = join_asof(spark, j, bootstrap_df=boot)
    return out.select(
        "o_orderkey", "o_custkey", "ts",
        F.col("co_price_count"),
        _r6(F.col("co_price_sum_90d") / 100).alias("co_price_sum_90d"),
    )


_BOOTSTRAP_ORACLE = f"""
WITH o AS (SELECT o_orderkey, o_custkey, floor(o_totalprice * 100 + 0.5) AS c,
                  epoch_ms(o_orderdate) AS ts FROM orders),
agg AS (
  SELECT q.o_orderkey, q.o_custkey, q.ts,
     count(e.c) AS cnt,
     CAST(sum(CASE WHEN e.ts > q.ts - {90 * DAY_MS} THEN e.c END) AS DOUBLE) AS s90
  FROM o q LEFT JOIN o e ON e.o_custkey = q.o_custkey AND e.ts <= q.ts
  GROUP BY q.o_orderkey, q.o_custkey, q.ts
)
SELECT o_orderkey, o_custkey, ts,
   CASE WHEN o_orderkey % 7 = 0 OR o_orderkey % 11 = 0
        THEN CAST(-5 AS BIGINT) ELSE cnt END AS co_price_count,
   round(CASE WHEN o_orderkey % 7 = 0 THEN -500.0 ELSE s90 END / 100, 6)
     AS co_price_sum_90d
FROM agg
"""


_MUT_DIR = "/tmp/chronon_mutations_drv2"


def _mutation_fixture(spark):
    """Deterministic entity VERSIONS -> mutually-consistent snapshots +
    before/after mutation rows (the reference DataFrameGen invariant),
    written to fixed paths so the DuckDB oracle reads the same files."""
    import os

    import numpy as np
    import pandas as pd

    if os.path.exists(f"{_MUT_DIR}/versions.parquet"):
        return
    rng = np.random.RandomState(11)
    T0 = 1_704_067_200_000
    N_DAYS = 10
    FAR = T0 + 10_000 * DAY_MS
    rows = []
    for item in range(300):
        store = item % 25
        n_v = rng.randint(1, 5)
        starts = [T0] + sorted(
            rng.randint(T0 + DAY_MS, T0 + N_DAYS * DAY_MS, n_v - 1).tolist()
        )
        for vi, vf in enumerate(starts):
            vt = starts[vi + 1] if vi + 1 < len(starts) else FAR
            rows.append((store, item, int(rng.randint(100, 10000)), vf, vt))
    versions = pd.DataFrame(
        rows, columns=["store_id", "item_id", "price", "valid_from", "valid_to"]
    )
    snaps = []
    for d in range(N_DAYS):
        eod = T0 + (d + 1) * DAY_MS
        ds = pd.Timestamp(T0 + d * DAY_MS, unit="ms").strftime("%Y-%m-%d")
        live = versions[(versions.valid_from < eod) & (versions.valid_to >= eod)]
        for r in live.itertuples():
            # ts = the row version's event time (valid_from) — needed by
            # the windowed mutation replay (mutation_windowed)
            snaps.append((r.store_id, r.item_id, r.price, int(r.valid_from), ds))
    snap_df = pd.DataFrame(
        snaps, columns=["store_id", "item_id", "price", "ts", "ds"]
    )
    muts = []
    for item, gv in versions.sort_values("valid_from").groupby("item_id"):
        gvl = list(gv.itertuples())
        for i, v in enumerate(gvl):
            ds = pd.Timestamp(v.valid_from, unit="ms").strftime("%Y-%m-%d")
            muts.append((v.store_id, v.item_id, v.price, int(v.valid_from),
                         v.valid_from, False, ds))
            if i > 0:
                prev = gvl[i - 1]
                # a before-row keeps the REPLACED version's event time
                muts.append((prev.store_id, prev.item_id, prev.price,
                             int(prev.valid_from), v.valid_from, True, ds))
    mut_df = pd.DataFrame(
        muts,
        columns=["store_id", "item_id", "price", "ts", "mutation_ts",
                 "is_before", "ds"],
    )
    qrng = np.random.RandomState(12)
    q = pd.DataFrame(
        {
            "store_id": qrng.randint(0, 25, 800),
            "ts": qrng.randint(T0 + DAY_MS, T0 + N_DAYS * DAY_MS, 800),
        }
    )
    spark.createDataFrame(snap_df).write.mode("overwrite").parquet(f"{_MUT_DIR}/snap.parquet")
    spark.createDataFrame(mut_df).write.mode("overwrite").parquet(f"{_MUT_DIR}/mut.parquet")
    spark.createDataFrame(versions).write.mode("overwrite").parquet(f"{_MUT_DIR}/versions.parquet")
    spark.createDataFrame(q).write.mode("overwrite").parquet(f"{_MUT_DIR}/queries.parquet")


def q_mutation_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """temporalEntities point-in-time replay (previous-day snapshot IRs ⊕
    signed same-day mutation deltas, strict mutation_ts < query_ts) —
    oracled against the generating version intervals."""
    from chronon_spark.api.types import Aggregation, EntitySource, GroupBy, Operation, Query
    from chronon_spark.operators.mutations import temporal_entities

    _mutation_fixture(spark)
    gb = GroupBy(
        sources=(
            EntitySource(
                snapshot_table=f"{_MUT_DIR}/snap.parquet",
                mutation_table=f"{_MUT_DIR}/mut.parquet",
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
            Aggregation("price", Operation.VARIANCE),
            Aggregation("price", Operation.HISTOGRAM),
        ),
        name="store_prices",
    )
    queries = spark.read.parquet(f"{_MUT_DIR}/queries.parquet")
    out = temporal_entities(spark, gb, queries)
    # histogram rendered as a canonical sorted "value:count,..." string so
    # the map compares engine-portably; variance on a 1e-3 grid (both
    # engines compute the same naive signed-power-sum formula — only
    # summation order differs)
    hist_str = F.when(
        F.col("price_histogram").isNotNull(),
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.map_entries(F.col("price_histogram"))),
                lambda e: F.concat_ws(":", e["key"], e["value"].cast("string")),
            ),
        ),
    )
    return out.select(
        "store_id", "ts",
        F.col("price_count"),
        _r6(F.col("price_sum")).alias("price_sum"),
        _r6(F.col("price_average")).alias("price_average"),
        (F.floor(F.col("price_variance") * 1000 + F.lit(0.5)) / 1000).alias("price_variance"),
        hist_str.alias("price_histogram"),
    )


_MUTATION_ORACLE = f"""
WITH v AS (SELECT * FROM '{_MUT_DIR}/versions.parquet/*.parquet'),
q AS (SELECT DISTINCT store_id, ts FROM '{_MUT_DIR}/queries.parquet/*.parquet'),
live AS (
  SELECT q.store_id, q.ts, v.price
  FROM q LEFT JOIN v
    ON v.store_id = q.store_id AND v.valid_from < q.ts AND q.ts <= v.valid_to
),
scal AS (
  SELECT store_id, ts,
     count(price) AS price_count,
     round(CAST(sum(price) AS DOUBLE), 6) AS price_sum,
     round(CAST(sum(price) AS DOUBLE) / count(price), 6) AS price_average,
     CASE WHEN count(price) > 0 THEN
       floor(greatest(
         CAST(sum(CAST(price AS DOUBLE) * price) AS DOUBLE) / count(price)
         - (CAST(sum(price) AS DOUBLE) / count(price)) * (CAST(sum(price) AS DOUBLE) / count(price)),
         0.0) * 1000 + 0.5) / 1000
     END AS price_variance
  FROM live GROUP BY store_id, ts
),
hist AS (
  SELECT store_id, ts,
     string_agg(CAST(price AS VARCHAR) || ':' || CAST(cnt AS VARCHAR), ',' ORDER BY CAST(price AS VARCHAR))
       AS price_histogram
  FROM (
    SELECT store_id, ts, price, count(*) AS cnt
    FROM live WHERE price IS NOT NULL GROUP BY store_id, ts, price
  ) GROUP BY store_id, ts
)
SELECT scal.store_id, scal.ts, scal.price_count, scal.price_sum,
   scal.price_average, scal.price_variance, hist.price_histogram
FROM scal LEFT JOIN hist ON scal.store_id = hist.store_id AND scal.ts = hist.ts
"""


_MF_BATCH_END = 1_704_067_200_000 + 5 * DAY_MS  # serve day 5


def q_mutation_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-mutation GroupBy on the SERVING path (r4 VERDICT Next #7):
    the batch IRs are materialized as a one-day upload
    (GroupByUpload.scala:64-130 entity route), reloaded, and requests on
    the serving day are answered from the upload plus a partition-pruned
    scan of only that day's mutations — history never rescanned. Oracled
    against the GENERATING version intervals (independent of the
    IR/upload machinery): fetch == point-in-time state."""
    from chronon_spark.api.types import (
        Aggregation, EntitySource, GroupBy, Operation, Query, Window,
    )
    from chronon_spark.plans.entity_serving import (
        fetch_temporal_entities, upload_temporal_entities,
    )

    _mutation_fixture(spark)
    gb = GroupBy(
        sources=(
            EntitySource(
                snapshot_table=f"{_MUT_DIR}/snap.parquet",
                mutation_table=f"{_MUT_DIR}/mut.parquet",
                query=Query(
                    selects={
                        "store_id": "store_id",
                        "price": "price",
                        "ds": "ds",
                        "ts": "ts",
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
            # windowed part rides the same upload (collapsed + tail hops)
            Aggregation("price", Operation.SUM, windows=(Window.days(7),)),
        ),
        name="store_prices_f",
    )
    requests = (
        spark.read.parquet(f"{_MUT_DIR}/queries.parquet")
        .where(
            (F.col("ts") >= _MF_BATCH_END)
            & (F.col("ts") < _MF_BATCH_END + DAY_MS)
        )
    )
    out_dir = f"{_MUT_DIR}/upload_day5"
    upload_temporal_entities(spark, gb, _MF_BATCH_END, out_dir)
    out = fetch_temporal_entities(spark, gb, requests, _MF_BATCH_END, out_dir)
    return out.select(
        "store_id", "ts",
        F.col("price_count"),
        _r6(F.col("price_sum")).alias("price_sum"),
        _r6(F.col("price_average")).alias("price_average"),
        _r6(F.col("price_sum_7d")).alias("price_sum_7d"),
    )


def _mutation_fetch_oracle() -> str:
    w, hop, buf = 7 * DAY_MS, 3_600_000, 2 * DAY_MS
    return f"""
WITH v AS (SELECT * FROM '{_MUT_DIR}/versions.parquet/*.parquet'),
snap AS (SELECT * FROM '{_MUT_DIR}/snap.parquet/*.parquet'),
mut AS (SELECT * FROM '{_MUT_DIR}/mut.parquet/*.parquet'),
qq AS (
  SELECT DISTINCT store_id, ts,
         {_MF_BATCH_END} AS be,
         strftime(epoch_ms(CAST({_MF_BATCH_END} - {DAY_MS} AS BIGINT)), '%Y-%m-%d') AS prev_ds,
         strftime(epoch_ms(CAST({_MF_BATCH_END} AS BIGINT)), '%Y-%m-%d') AS q_ds,
         ((ts - {w}) // {hop}) * {hop} AS qtail
  FROM '{_MUT_DIR}/queries.parquet/*.parquet'
  WHERE ts >= {_MF_BATCH_END} AND ts < {_MF_BATCH_END + DAY_MS}
),
-- unwindowed: point-in-time state straight from the version intervals
live AS (
  SELECT qq.store_id, qq.ts, v.price
  FROM qq LEFT JOIN v
    ON v.store_id = qq.store_id AND v.valid_from < qq.ts AND qq.ts <= v.valid_to
),
scal AS (
  SELECT store_id, ts,
     count(price) AS price_count,
     round(CAST(sum(price) AS DOUBLE), 6) AS price_sum,
     round(CAST(sum(price) AS DOUBLE) / count(price), 6) AS price_average
  FROM live GROUP BY store_id, ts
),
-- 7d windowed: sawtooth replay over the derived snapshot/mutation rows
snapc AS (
  SELECT qq.store_id, qq.ts, s.price, 1 AS sg
  FROM qq JOIN snap s ON s.store_id = qq.store_id AND s.ds = qq.prev_ds
  WHERE s.ts < qq.be AND s.ts > qq.be - {w}
    AND (s.ts >= qq.be - {w} + {buf}
         OR ((s.ts // {hop}) * {hop} >= qq.qtail
             AND (s.ts // {hop}) * {hop} < qq.be - {w} + {buf}))
),
mutc AS (
  SELECT qq.store_id, qq.ts, m.price,
         CASE WHEN m.is_before THEN -1 ELSE 1 END AS sg
  FROM qq JOIN mut m ON m.store_id = qq.store_id AND m.ds = qq.q_ds
  WHERE m.mutation_ts >= qq.be AND m.mutation_ts < qq.ts
    AND m.ts >= qq.qtail AND m.ts < qq.ts
),
wsum AS (
  SELECT store_id, ts, SUM(sg) AS cnt, SUM(sg * price) AS s
  FROM (SELECT * FROM snapc UNION ALL SELECT * FROM mutc)
  GROUP BY store_id, ts
)
SELECT qq.store_id, qq.ts, CAST(scal.price_count AS BIGINT) AS price_count,
       CASE WHEN scal.price_count > 0 THEN scal.price_sum END AS price_sum,
       CASE WHEN scal.price_count > 0 THEN scal.price_average END AS price_average,
       CASE WHEN COALESCE(wsum.cnt, 0) > 0
            THEN round(CAST(wsum.s AS DOUBLE), 6) END AS price_sum_7d
FROM qq
JOIN scal ON scal.store_id = qq.store_id AND scal.ts = qq.ts
LEFT JOIN wsum ON wsum.store_id = qq.store_id AND wsum.ts = qq.ts
"""


_MW_W, _MW_HOP, _MW_BUF = 7 * DAY_MS, 3_600_000, 2 * DAY_MS


def q_mutation_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINDOWED temporal-entities (r4 VERDICT Next #3): 7-day deletable
    window over a mutating entity source via the reference's sawtooth
    mutation semantics (SawtoothMutationAggregator.scala:70-180 —
    collapsed snapshot IR ⊕ accepted tail hops ⊕ signed same-day
    mutations with the row-event-time window test), plus HISTOGRAM(k=5)
    truncated at FINALIZE (SimpleAggregators.scala:297-317 semantics,
    deterministic value-ASC tie-break). The oracle replays the same
    edges in DuckDB over the derived snapshot/mutation tables."""
    from chronon_spark.api.types import (
        Aggregation, EntitySource, GroupBy, Operation, Query, Window,
    )
    from chronon_spark.operators.mutations import temporal_entities

    _mutation_fixture(spark)
    gb = GroupBy(
        sources=(
            EntitySource(
                snapshot_table=f"{_MUT_DIR}/snap.parquet",
                mutation_table=f"{_MUT_DIR}/mut.parquet",
                query=Query(
                    selects={
                        "store_id": "store_id",
                        "price": "price",
                        "ds": "ds",
                        "ts": "ts",
                        "mutation_ts": "mutation_ts",
                        "is_before": "is_before",
                    },
                    partition_column="ds",
                ),
            ),
        ),
        key_columns=("store_id",),
        aggregations=(
            Aggregation("price", Operation.COUNT, windows=(Window.days(7),)),
            Aggregation("price", Operation.SUM, windows=(Window.days(7),)),
            Aggregation("price", Operation.AVERAGE, windows=(Window.days(7),)),
            Aggregation("price", Operation.HISTOGRAM, arg_map={"k": 5}),
        ),
        name="store_prices_w",
    )
    queries = spark.read.parquet(f"{_MUT_DIR}/queries.parquet")
    out = temporal_entities(spark, gb, queries)
    hist_str = F.when(
        F.col("price_histogram").isNotNull(),
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.map_entries(F.col("price_histogram"))),
                lambda e: F.concat_ws(":", e["key"], e["value"].cast("string")),
            ),
        ),
    )
    return out.select(
        "store_id", "ts",
        F.col("price_count_7d"),
        _r6(F.col("price_sum_7d")).alias("price_sum_7d"),
        _r6(F.col("price_average_7d")).alias("price_average_7d"),
        hist_str.alias("price_histogram_top5"),
    )


_MUTATION_WINDOWED_ORACLE = f"""
WITH snap AS (SELECT * FROM '{_MUT_DIR}/snap.parquet/*.parquet'),
mut AS (SELECT * FROM '{_MUT_DIR}/mut.parquet/*.parquet'),
v AS (SELECT * FROM '{_MUT_DIR}/versions.parquet/*.parquet'),
qq AS (
  SELECT DISTINCT store_id, ts,
         (ts // {DAY_MS}) * {DAY_MS} AS be,
         strftime(epoch_ms((ts // {DAY_MS}) * {DAY_MS} - {DAY_MS}), '%Y-%m-%d') AS prev_ds,
         strftime(epoch_ms((ts // {DAY_MS}) * {DAY_MS}), '%Y-%m-%d') AS q_ds,
         ((ts - {_MW_W}) // {_MW_HOP}) * {_MW_HOP} AS qtail
  FROM '{_MUT_DIR}/queries.parquet/*.parquet'
),
snapc AS (
  SELECT qq.store_id, qq.ts, s.price, 1 AS sg
  FROM qq JOIN snap s ON s.store_id = qq.store_id AND s.ds = qq.prev_ds
  WHERE s.ts < qq.be AND s.ts > qq.be - {_MW_W}
    AND (s.ts >= qq.be - {_MW_W} + {_MW_BUF}
         OR ((s.ts // {_MW_HOP}) * {_MW_HOP} >= qq.qtail
             AND (s.ts // {_MW_HOP}) * {_MW_HOP} < qq.be - {_MW_W} + {_MW_BUF}))
),
mutc AS (
  SELECT qq.store_id, qq.ts, m.price,
         CASE WHEN m.is_before THEN -1 ELSE 1 END AS sg
  FROM qq JOIN mut m ON m.store_id = qq.store_id AND m.ds = qq.q_ds
  WHERE m.mutation_ts >= qq.be AND m.mutation_ts < qq.ts
    AND m.ts >= qq.qtail AND m.ts < qq.ts
),
u AS (SELECT * FROM snapc UNION ALL SELECT * FROM mutc),
scal AS (
  SELECT qq.store_id, qq.ts,
     CAST(COALESCE(t.cnt, 0) AS BIGINT) AS price_count_7d,
     CASE WHEN COALESCE(t.cnt, 0) > 0
          THEN round(CAST(t.s AS DOUBLE), 6) END AS price_sum_7d,
     CASE WHEN COALESCE(t.cnt, 0) > 0
          THEN round(CAST(t.s AS DOUBLE) / t.cnt, 6) END AS price_average_7d
  FROM qq LEFT JOIN (
    SELECT store_id, ts, SUM(sg) AS cnt, SUM(sg * price) AS s
    FROM u GROUP BY store_id, ts
  ) t ON t.store_id = qq.store_id AND t.ts = qq.ts
),
-- unwindowed truncated histogram from the generating version intervals
hc AS (
  SELECT qq.store_id, qq.ts, v.price, count(*) AS cnt
  FROM qq JOIN v
    ON v.store_id = qq.store_id AND v.valid_from < qq.ts AND qq.ts <= v.valid_to
  GROUP BY qq.store_id, qq.ts, v.price
),
hsel AS (
  SELECT *, row_number() OVER (PARTITION BY store_id, ts
                               ORDER BY cnt DESC, CAST(price AS VARCHAR) ASC) AS rn
  FROM hc
),
hist AS (
  SELECT store_id, ts,
     string_agg(CAST(price AS VARCHAR) || ':' || CAST(cnt AS VARCHAR), ','
                ORDER BY CAST(price AS VARCHAR)) AS price_histogram_top5
  FROM hsel WHERE rn <= 5 GROUP BY store_id, ts
)
SELECT scal.store_id, scal.ts, scal.price_count_7d, scal.price_sum_7d,
       scal.price_average_7d, hist.price_histogram_top5
FROM scal LEFT JOIN hist ON scal.store_id = hist.store_id AND scal.ts = hist.ts
"""


def q_keymapped_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join with key_mapping: orders (o_custkey) against a GroupBy keyed by
    c_custkey-style renamed key — exercises left->right key renaming."""
    from chronon_spark.api.types import (
        Aggregation, EventSource, GroupBy, Join, JoinPart, Operation, Query, Window,
    )
    from chronon_spark.operators.asof_join import join_asof
    from chronon_spark.sources.scan import millis_expr

    left = EventSource(
        table=f"{sf_dir}/orders.parquet",
        query=Query(
            selects={"o_orderkey": "o_orderkey", "o_custkey": "o_custkey"},
            time_column=millis_expr("o_orderdate"),
        ),
    )
    right = EventSource(
        table=f"{sf_dir}/orders.parquet",
        query=Query(
            selects={"cust": "o_custkey", "price": "floor(o_totalprice * 100 + 0.5)"},
            time_column=millis_expr("o_orderdate"),
        ),
    )
    gb = GroupBy(
        sources=(right,), key_columns=("cust",),
        aggregations=(
            Aggregation("price", Operation.COUNT),
            Aggregation("price", Operation.SUM, windows=(Window.days(90),)),
        ),
        name="cust_orders",
    )
    j = Join(left=left, join_parts=(JoinPart(gb, key_mapping={"o_custkey": "cust"}),), name="km")
    out = join_asof(spark, j)
    return out.select(
        "o_orderkey", "o_custkey", "ts",
        F.col("cust_orders_price_count"),
        _r6(F.col("cust_orders_price_sum_90d") / 100).alias("cust_orders_price_sum_90d"),
    )


_KEYMAPPED_ORACLE = f"""
WITH o AS (SELECT o_orderkey, o_custkey, floor(o_totalprice * 100 + 0.5) AS c,
                  epoch_ms(o_orderdate) AS ts FROM orders)
SELECT q.o_orderkey, q.o_custkey, q.ts,
   count(e.c) AS cust_orders_price_count,
   round(CAST(sum(CASE WHEN e.ts > q.ts - {90 * DAY_MS} THEN e.c END) AS DOUBLE) / 100, 6)
     AS cust_orders_price_sum_90d
FROM o q LEFT JOIN o e ON e.o_custkey = q.o_custkey AND e.ts <= q.ts
GROUP BY q.o_orderkey, q.o_custkey, q.ts
"""


def q_kafka_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka-contract streaming path end-to-end: events encoded as Kafka
    records (key/value JSON bytes + topic/partition/offset/timestamp),
    streamed through the file-backed source with the exact Kafka record
    schema, decoded with pure-Catalyst from_json, tiled, drained — tiles
    must equal a plain SQL day-bucket aggregation."""
    import tempfile

    from pyspark.sql import types as T

    from chronon_spark.api.types import Aggregation, EventSource, GroupBy, Operation, Query, Window
    from chronon_spark.streaming.kafka import (
        decode_json_stream,
        encode_kafka_records,
        file_kafka_source,
    )
    from chronon_spark.streaming.stream_groupby import run_available_now, stream_tile_aggregate

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id",
        "unix_micros(CAST(ts AS TIMESTAMP)) div 1000 AS ts",
        "floor(value*100 + 0.5) AS value",
    )
    topic_dir = tempfile.mkdtemp(prefix="kafka_topic_")
    encode_kafka_records(ev, ["user_id"], "events_topic").write.mode("overwrite").parquet(topic_dir)

    event_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = decode_json_stream(file_kafka_source(spark, topic_dir), event_schema)
    gb = GroupBy(
        sources=(EventSource("unused", Query()),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.COUNT, windows=(Window.days(14),)),
            Aggregation("value", Operation.SUM, windows=(Window.days(14),)),
        ),
        name="ktiles",
    )
    ck = tempfile.mkdtemp(prefix="kafka_ck_")
    out = run_available_now(stream_tile_aggregate(stream, gb), ck, "drv_kafka_tiles")
    return out.select(
        "user_id", "tile_start", "tile_end",
        F.col("i_cnt_value").alias("ir_cnt_value"),
        _r6(F.col("i_sum_value") / 100).alias("ir_sum_value"),
    )


_KAFKA_TILES_ORACLE = f"""
WITH ev AS (SELECT user_id, floor(value * 100 + 0.5) AS c, epoch_ms(ts) AS ts FROM events)
SELECT user_id,
   (ts // {DAY_MS}) * {DAY_MS} AS tile_start,
   (ts // {DAY_MS}) * {DAY_MS} + {DAY_MS} AS tile_end,
   count(c) AS ir_cnt_value,
   round(CAST(sum(c) AS DOUBLE) / 100, 6) AS ir_sum_value
FROM ev GROUP BY user_id, ts // {DAY_MS}
"""


def q_stream_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tiled partial-IR aggregation drained via availableNow;
    tiles are plain GROUP BY day buckets in SQL (the mergeable IR shapes)."""
    import tempfile

    from chronon_spark.api.types import Aggregation, EventSource, GroupBy, Operation, Query, Window
    from chronon_spark.streaming.stream_groupby import run_available_now, stream_tile_aggregate

    gb = GroupBy(
        sources=(EventSource("unused", Query()),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.COUNT, windows=(Window.days(14),)),
            Aggregation("value", Operation.SUM, windows=(Window.days(14),)),
            Aggregation("value", Operation.MIN, windows=(Window.days(14),)),
        ),
        name="tiles",
    )
    d = tempfile.mkdtemp(prefix="tiles_src_")
    spark.read.parquet(f"{sf_dir}/events.parquet").write.mode("overwrite").parquet(d)
    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(d)
        .selectExpr(
            "user_id",
            "unix_micros(CAST(ts AS TIMESTAMP)) div 1000 AS ts",
            "floor(value*100 + 0.5) AS value",
        )
    )
    ck = tempfile.mkdtemp(prefix="tiles_ck_")
    out = run_available_now(stream_tile_aggregate(stream, gb), ck, "drv_tiles")
    return out.select(
        "user_id", "tile_start", "tile_end",
        F.col("i_cnt_value").alias("ir_cnt_value"),
        _r6(F.col("i_sum_value") / 100).alias("ir_sum_value"),
        _r6(F.col("i_min_value") / 100).alias("ir_min_value"),
    )


_STREAM_TILES_ORACLE = f"""
WITH ev AS (SELECT user_id, floor(value * 100 + 0.5) AS c, epoch_ms(ts) AS ts FROM events)
SELECT user_id,
   (ts // {DAY_MS}) * {DAY_MS} AS tile_start,
   (ts // {DAY_MS}) * {DAY_MS} + {DAY_MS} AS tile_end,
   count(c) AS ir_cnt_value,
   round(CAST(sum(c) AS DOUBLE) / 100, 6) AS ir_sum_value,
   round(min(c) / 100, 6) AS ir_min_value
FROM ev GROUP BY user_id, ts // {DAY_MS}
"""


def q_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-key exclusion (reference JoinUtils.scala:330-382): hot keys are
    dropped from the left AND from part computation — their rows vanish
    from the output entirely."""
    from chronon_spark.api.types import (
        Aggregation, GroupBy, Join, JoinPart, Operation, Window,
    )
    from chronon_spark.operators.asof_join import join_asof

    src = _events_source(sf_dir, cents=True)
    gb = GroupBy(
        sources=(src,), key_columns=("user_id",),
        aggregations=(Aggregation("value", Operation.SUM, windows=(Window.days(7),)),),
        name="sk",
    )
    j = Join(left=src, join_parts=(JoinPart(gb),), name="skewed",
             skew_keys={"user_id": [0, 1, 2]})
    out = join_asof(spark, j)
    return out.select(
        "event_id", "user_id", "ts",
        _r6(F.col("sk_value_sum_7d") / 100).alias("sk_value_sum_7d"),
    )


_SKEW_ORACLE = f"""
WITH ev AS (SELECT event_id, user_id, floor(value * 100 + 0.5) AS c, epoch_ms(ts) AS ts
            FROM events WHERE user_id NOT IN (0, 1, 2))
SELECT q.event_id, q.user_id, q.ts,
   round(CAST(sum(CASE WHEN e.ts > q.ts - {7 * DAY_MS} THEN e.c END) AS DOUBLE) / 100, 6)
     AS sk_value_sum_7d
FROM ev q LEFT JOIN ev e ON e.user_id = q.user_id AND e.ts <= q.ts
GROUP BY q.event_id, q.user_id, q.ts
"""


_WT_DRV_DIR = "/tmp/chronon_webtext_flagship"


def q_model_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source.ModelTransforms (ModelTransformsJob.scala + thrift
    api.thrift:188-193,599-610): a deterministic logistic stub model
    scores every event via mapInPandas batches, and the scores feed a
    windowed as-of GroupBy — the model-scored-quality-filter pipeline
    shape. The oracle recomputes the identical score formula in SQL."""
    from chronon_spark.api.types import Aggregation, GroupBy, Operation, Window
    from chronon_spark.operators.asof_join import group_by_asof
    from chronon_spark.operators.model_transforms import Model, ModelTransforms
    from chronon_spark.sources.scan import millis_expr

    def make_scorer():
        def scorer(inputs):
            import numpy as np
            import pandas as pd

            v = inputs["v"].to_numpy(dtype=np.float64)
            return pd.DataFrame(
                {"score": 1.0 / (1.0 + np.exp(-(np.mod(np.abs(v), 1000.0) - 500.0) / 250.0))}
            )

        return scorer

    from chronon_spark.api.types import EventSource, Query

    src = EventSource(
        table=f"{sf_dir}/events.parquet",
        query=Query(
            selects={"user_id": "user_id", "value": "value"},
            time_column=millis_expr("ts"),
        ),
    )
    mt = ModelTransforms(
        sources=(src,),
        models=(
            Model(
                name="risk",
                scorer=make_scorer(),
                input_mapping={"v": "CAST(floor(value * 100 + 0.5) AS DOUBLE)"},
                value_schema="score double",
            ),
        ),
        passthrough_fields=("user_id",),
    )
    gb = GroupBy(
        sources=(mt,),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("risk__score", Operation.AVERAGE, windows=(Window.days(7),)),
            Aggregation("risk__score", Operation.COUNT),
        ),
        name="risk_feats",
    )
    out = group_by_asof(spark, gb, _event_queries(spark, sf_dir))
    return out.select(
        "user_id", "ts",
        _r6(F.col("risk__score_average_7d")).alias("score_avg_7d"),
        F.col("risk__score_count").alias("score_count"),
    )


_MODEL_TRANSFORMS_ORACLE = f"""
WITH ev AS (
  SELECT user_id,
     CASE WHEN value IS NOT NULL THEN
       1.0 / (1.0 + exp(-(fmod(abs(floor(value * 100 + 0.5)), 1000.0) - 500.0) / 250.0))
     END AS score,
     epoch_ms(ts) AS ts
  FROM events
),
q AS (SELECT DISTINCT user_id, ts FROM ev)
SELECT q.user_id, q.ts,
   round(avg(CASE WHEN e.ts > q.ts - {7 * DAY_MS} THEN e.score END), 6) AS score_avg_7d,
   count(e.score) AS score_count
FROM q LEFT JOIN ev e ON e.user_id = q.user_id AND e.ts <= q.ts
GROUP BY q.user_id, q.ts
"""


_CONS_DIR = "/tmp/chronon_consistency_drv"


def _cons_dir(sf_dir: str) -> str:
    # fixture content derives from sf_dir — key the cache path by sf so a
    # correctness run (sf0.01) and a bench run (sf0.1) never share a file
    import os

    return f"{_CONS_DIR}_{os.path.basename(sf_dir.rstrip('/'))}"


def _consistency_fixture(sf_dir: str) -> str:
    """Deterministic flattened serving log: ~1/7 of the event points with
    their TRUE as-of features (computed by DuckDB, independent of the
    engine under test) perturbed on user_id % 10 == 0 rows — so the
    consistency metrics have known, oracle-checkable mismatch counts."""
    import os

    import duckdb

    d = _cons_dir(sf_dir)
    if os.path.exists(f"{d}/logged.parquet"):
        return d
    os.makedirs(d, exist_ok=True)
    con = duckdb.connect()
    con.sql(
        f"""
COPY (
  WITH ev AS (SELECT user_id, floor(value * 100 + 0.5) AS c, epoch_ms(ts) AS ts
              FROM '{sf_dir}/events.parquet'),
  q AS (SELECT DISTINCT user_id, ts FROM ev WHERE user_id % 7 = 3),
  agg AS (
    SELECT q.user_id, q.ts,
       count(CASE WHEN e.ts > q.ts - {7 * DAY_MS} THEN e.c END) AS cnt7,
       CAST(sum(CASE WHEN e.ts > q.ts - {7 * DAY_MS} THEN e.c END) AS DOUBLE) AS sum7
    FROM q LEFT JOIN ev e ON e.user_id = q.user_id AND e.ts <= q.ts
    GROUP BY q.user_id, q.ts
  )
  SELECT user_id, ts AS ts_millis,
     strftime(epoch_ms(ts), '%Y-%m-%d') AS ds,
     cnt7 + CASE WHEN user_id % 10 = 0 THEN 1 ELSE 0 END AS user_value_value_count_7d,
     sum7 + CASE WHEN user_id % 10 = 0 THEN 100.0 ELSE 0.0 END AS user_value_value_sum_7d
  FROM agg
) TO '{d}/logged.parquet' (FORMAT PARQUET)
"""
    )
    return d


def q_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ConsistencyJob (stats/ConsistencyJob.scala:34-201): re-run the Join
    with the logged table as the left side, then per-ds CompareJob metrics
    between offline values and logged values. The fixture's perturbation
    (user_id % 10 == 0) makes the expected mismatch counts non-trivial."""
    from chronon_spark.api.types import Aggregation, GroupBy, Join, JoinPart, Operation, Window
    from chronon_spark.plans.consistency import consistency_job

    logged_dir = _consistency_fixture(sf_dir)
    gb = GroupBy(
        sources=(_events_source(sf_dir, cents=True),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.COUNT, windows=(Window.days(7),)),
            Aggregation("value", Operation.SUM, windows=(Window.days(7),)),
        ),
        name="user_value",
    )
    j = Join(
        left=_events_source(sf_dir),  # replaced by the logged table inside the job
        join_parts=(JoinPart(gb),),
        name="user_join",
    )
    _, metrics = consistency_job(
        spark, j, f"{logged_dir}/logged.parquet", time_column="ts_millis"
    )
    return metrics.select(
        "ds", "column", "metric", _r6(F.col("value")).alias("value")
    )


def _consistency_oracle() -> str:
    return f"""
WITH ev AS (SELECT user_id, floor(value * 100 + 0.5) AS c, epoch_ms(ts) AS ts FROM events),
logged AS (SELECT * FROM '{_cons_dir("/root/testdata/sf0.01")}/logged.parquet'),
offline AS (
  SELECT l.user_id, l.ts_millis, l.ds,
     count(CASE WHEN e.ts > l.ts_millis - {7 * DAY_MS} THEN e.c END) AS cnt7,
     CAST(sum(CASE WHEN e.ts > l.ts_millis - {7 * DAY_MS} THEN e.c END) AS DOUBLE) AS sum7
  FROM logged l LEFT JOIN ev e ON e.user_id = l.user_id AND e.ts <= l.ts_millis
  GROUP BY l.user_id, l.ts_millis, l.ds
),
j AS (
  SELECT o.ds,
     CAST(o.cnt7 AS DOUBLE) AS cl, CAST(l.user_value_value_count_7d AS DOUBLE) AS cr,
     o.sum7 AS sl, l.user_value_value_sum_7d AS sr
  FROM offline o JOIN logged l
    ON o.user_id = l.user_id AND o.ts_millis = l.ts_millis
),
m AS (
  SELECT ds, col, metric, value FROM (
    SELECT ds,
       'user_value_value_count_7d' AS col,
       count(*) AS total,
       count(CASE WHEN cl IS NULL AND cr IS NULL THEN 1 END) AS both_null,
       count(CASE WHEN cl IS NULL AND cr IS NOT NULL THEN 1 END) AS left_null,
       count(CASE WHEN cl IS NOT NULL AND cr IS NULL THEN 1 END) AS right_null,
       count(CASE WHEN cl IS NOT NULL AND cr IS NOT NULL AND cl <> cr THEN 1 END) AS mismatch,
       avg(CASE WHEN abs(cl) + abs(cr) <> 0 THEN abs(cl - cr) * 2 / (abs(cl) + abs(cr)) ELSE 0 END) AS smape,
       max(abs(cl - cr)) AS max_abs_diff,
       quantile_cont(abs(cl - cr), 0.5) AS median_diff
    FROM j GROUP BY ds
    UNION ALL
    SELECT ds,
       'user_value_value_sum_7d' AS col,
       count(*),
       count(CASE WHEN sl IS NULL AND sr IS NULL THEN 1 END),
       count(CASE WHEN sl IS NULL AND sr IS NOT NULL THEN 1 END),
       count(CASE WHEN sl IS NOT NULL AND sr IS NULL THEN 1 END),
       count(CASE WHEN sl IS NOT NULL AND sr IS NOT NULL AND sl <> sr THEN 1 END),
       avg(CASE WHEN abs(sl) + abs(sr) <> 0 THEN abs(sl - sr) * 2 / (abs(sl) + abs(sr)) ELSE 0 END),
       max(abs(sl - sr)),
       quantile_cont(abs(sl - sr), 0.5)
    FROM j GROUP BY ds
  ) UNPIVOT (value FOR metric IN (total, both_null, left_null, right_null, mismatch, smape, max_abs_diff, median_diff))
)
SELECT ds, col AS column, metric, round(CAST(value AS DOUBLE), 6) AS value FROM m
"""


def q_webtext_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule flagship over deterministic webtext (written to a
    fixed path so the DuckDB oracle can read the same parquet). Exercises
    text extraction + per-url/per-domain PIT features in sawtooth mode."""
    import bench as B

    from chronon_spark.sources.webtext import generate_webtext

    wt = generate_webtext(spark, 5000, seed=7, n_domains=50)
    wt.write.mode("overwrite").parquet(_WT_DRV_DIR)
    out = B.flagship_join(spark, _WT_DRV_DIR)
    return out.select(
        "url", "domain", "lang",
        F.col("text_len").cast("long").alias("text_len"),
        "ts",
        F.col("url_text_len_count").cast("long").alias("url_text_len_count"),
        _r6(F.col("url_text_len_average_30d")).alias("url_text_len_average_30d"),
        F.col("url_text_len_last").cast("long").alias("url_text_len_last"),
        F.col("dom_text_len_count_7d").cast("long").alias("dom_text_len_count_7d"),
        _r6(F.col("dom_text_len_sum_7d")).alias("dom_text_len_sum_7d"),
    )


# DuckDB as-of mirror of bench.flagship_join over the SAME parquet the
# query writes: sawtooth windows (Resolution.scala hop auto-pick) are
# 1-day hops for the 30d window and 1-hour hops for the 7d windows —
# tail hops [q_hop - w, q_hop - 1] plus the exact head (ts <= q.ts)
# collapse to e.ts >= (q.ts // hop - w_hops) * hop AND e.ts <= q.ts.
_DAY = 86_400_000
_HOUR = 3_600_000
_WEBTEXT_ORACLE = f"""
WITH src AS (
  SELECT url,
         regexp_extract(url, '^https?://([^/]+)', 1) AS domain,
         lang, length(text) AS text_len,
         epoch_ms(warc_ts) AS ts
  FROM '{_WT_DRV_DIR}/*.parquet'
),
q_url AS (SELECT DISTINCT url, ts FROM src),
url_f AS (
  SELECT q.url, q.ts,
     count(e.text_len) AS url_text_len_count,
     round(CAST(sum(CASE WHEN e.ts >= (q.ts // {_DAY} - 30) * {_DAY} THEN e.text_len END) AS DOUBLE)
       / count(CASE WHEN e.ts >= (q.ts // {_DAY} - 30) * {_DAY} THEN e.text_len END), 6)
       AS url_text_len_average_30d,
     arg_max(e.text_len, e.ts) AS url_text_len_last
  FROM q_url q LEFT JOIN src e ON e.url = q.url AND e.ts <= q.ts
  GROUP BY q.url, q.ts
),
q_dom AS (SELECT DISTINCT domain, ts FROM src),
dom_f AS (
  SELECT q.domain, q.ts,
     count(CASE WHEN e.ts >= (q.ts // {_HOUR} - 168) * {_HOUR} THEN e.text_len END)
       AS dom_text_len_count_7d,
     round(CAST(sum(CASE WHEN e.ts >= (q.ts // {_HOUR} - 168) * {_HOUR} THEN e.text_len END) AS DOUBLE), 6)
       AS dom_text_len_sum_7d
  FROM q_dom q LEFT JOIN src e ON e.domain = q.domain AND e.ts <= q.ts
  GROUP BY q.domain, q.ts
)
SELECT s.url, s.domain, s.lang, s.text_len, s.ts,
       u.url_text_len_count, u.url_text_len_average_30d, u.url_text_len_last,
       d.dom_text_len_count_7d, d.dom_text_len_sum_7d
FROM src s
LEFT JOIN url_f u ON u.url = s.url AND u.ts = s.ts
LEFT JOIN dom_f d ON d.domain = s.domain AND d.ts = s.ts
"""


# ---------------------------------------------------------------------------
# Distributed BPE tokenizer (operators/tokenizer.py)
# ---------------------------------------------------------------------------

_BPE_MERGES = 8
_BPE_MIN_COUNT = 2


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE training (Sennrich et al. 2016) over the documents
    corpus: 8 merges, bit-exact vs the unrolled SQL oracle (pair counts
    weighted by word frequency, ties count DESC then pair ASC)."""
    from chronon_spark.operators.tokenizer import bpe_train

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = bpe_train(docs, num_merges=_BPE_MERGES, min_count=_BPE_MIN_COUNT)
    return spark.createDataFrame(
        [(i + 1, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "rank long, left_sym string, right_sym string, cnt long",
    )


def _bpe_train_oracle(num_merges: int = _BPE_MERGES, min_count: int = _BPE_MIN_COUNT) -> str:
    """Unrolled-iteration SQL twin of bpe_train: one CTE trio per merge.
    The merge application is the same `replace(w, ' a  b ', ' ab ')`
    double-space algebra the engine uses (every symbol owns its leading
    AND trailing space) — with it, SQL's left-to-right non-overlapping
    replace IS the BPE greedy merge rule, shared boundaries included."""
    ctes = [
        r"""wf0 AS (
  SELECT regexp_replace(word, '(.)', ' \1 ', 'g') AS w, CAST(count(*) AS BIGINT) AS cnt
  FROM (
    SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS word
    FROM documents
  )
  WHERE word <> '' AND regexp_matches(word, '^[\x21-\x7e]+$')
  GROUP BY 1
)"""
    ]
    for k in range(num_merges):
        ctes.append(
            f"""p{k} AS (
  SELECT p, CAST(sum(cnt) AS BIGINT) AS c FROM (
    SELECT unnest(list_transform(generate_series(1, len(syms) - 1),
                                 i -> syms[i] || ' ' || syms[i + 1])) AS p, cnt
    FROM (SELECT string_split(trim(w), '  ') AS syms, cnt FROM wf{k})
  ) GROUP BY p
),
t{k} AS (SELECT p, c FROM p{k} WHERE c >= {min_count} ORDER BY c DESC, p ASC LIMIT 1),
wf{k + 1} AS (
  SELECT replace(w, ' ' || replace(t.p, ' ', '  ') || ' ',
                 ' ' || replace(t.p, ' ', '') || ' ') AS w, cnt
  FROM wf{k}, t{k} t
)"""
        )
    finals = [
        f"SELECT CAST({k + 1} AS BIGINT) AS rank, split_part(p, ' ', 1) AS left_sym,"
        f" split_part(p, ' ', 2) AS right_sym, c AS cnt FROM t{k}"
        for k in range(num_merges)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(finals)


# fixed literal merges for the encode gate (typical English BPE openers);
# embedded identically in the Spark query and the SQL oracle
_BPE_FIXED_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("a", "t"), ("e", "n"),
    ("o", "r"), ("s", "t"),
]


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-Catalyst BPE encoding of every document with a fixed merge
    table: per-doc token count + md5 fingerprint of the token stream."""
    from chronon_spark.operators.tokenizer import bpe_token_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_token_stats(docs, _BPE_FIXED_MERGES, "doc_id")


def _bpe_tokens_oracle() -> str:
    expr = "s"
    for a, b in _BPE_FIXED_MERGES:
        expr = f"replace({expr}, ' {a}  {b} ', ' {a}{b} ')"
    return rf"""
WITH enc AS (
  SELECT doc_id,
     array_to_string(
       list_transform(
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
         w -> regexp_replace(w, '(.)', ' \1 ', 'g')),
       ' § ') AS s
  FROM documents
),
m AS (SELECT doc_id, {expr} AS s2 FROM enc),
tk AS (
  SELECT doc_id,
     list_filter(string_split(trim(s2), ' '), t -> t <> '' AND t <> '§') AS toks
  FROM m
)
SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
   md5(array_to_string(toks, '')) AS tokens_fp
FROM tk
"""


# ---------------------------------------------------------------------------
# Quality-classifier distillation (operators/classifier.py)
# ---------------------------------------------------------------------------

_CLS_DIM = 128
_CLS_EPOCHS = 3
_CLS_LABEL = "IF(lang = 'en', 1, -1)"


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact batch-perceptron distillation of a label heuristic
    (lang='en') into hashed bag-of-words weights; outputs every doc's
    integer score + prediction after 3 epochs."""
    from chronon_spark.operators.classifier import quality_classifier

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quality_classifier(
        spark, docs, "doc_id", _CLS_LABEL, dim=_CLS_DIM, epochs=_CLS_EPOCHS
    )


def _classifier_oracle(dim: int = _CLS_DIM, epochs: int = _CLS_EPOCHS) -> str:
    """Unrolled-epoch SQL twin of the batch perceptron. Every quantity is
    integer arithmetic, so agreement is exact, not allclose."""
    ctes = [
        rf"""feats AS (
  SELECT doc_id AS id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % {dim} AS f,
     CAST(count(*) AS BIGINT) AS c
  FROM (
    SELECT doc_id, unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
    FROM documents
  )
  WHERE tok <> '' GROUP BY 1, 2
)""",
        "labels AS (SELECT doc_id AS id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y FROM documents)",
        # epoch 1: w=0 => every doc misclassified => w1 = sum over ALL docs
        "w1 AS (SELECT f, CAST(sum(y * c) AS BIGINT) AS w FROM feats JOIN labels USING (id) GROUP BY f)",
    ]
    for t in range(1, epochs):
        ctes.append(
            f"""s{t} AS (
  SELECT l.id, l.y, CAST(COALESCE(sum(w.w * fe.c), 0) AS BIGINT) AS s
  FROM labels l LEFT JOIN feats fe ON fe.id = l.id LEFT JOIN w{t} w ON w.f = fe.f
  GROUP BY l.id, l.y
),
m{t} AS (SELECT id, y FROM s{t} WHERE y * s <= 0),
w{t + 1} AS (
  SELECT COALESCE(a.f, b.f) AS f, CAST(COALESCE(a.w, 0) + COALESCE(b.d, 0) AS BIGINT) AS w
  FROM w{t} a FULL OUTER JOIN (
    SELECT f, sum(y * c) AS d FROM feats JOIN m{t} USING (id) GROUP BY f
  ) b ON a.f = b.f
)"""
        )
    final = f"""
SELECT l.id, l.y,
   CAST(COALESCE(sum(w.w * fe.c), 0) AS BIGINT) AS score,
   CAST(CASE WHEN COALESCE(sum(w.w * fe.c), 0) > 0 THEN 1 ELSE -1 END AS INT) AS pred
FROM labels l LEFT JOIN feats fe ON fe.id = l.id LEFT JOIN w{epochs} w ON w.f = fe.f
GROUP BY l.id, l.y
"""
    return "WITH " + ",\n".join(ctes) + final


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-Crawl WARC ingestion round-trip (sources/warc.py): render the
    documents table as gzip-multistream WARC archives (one ``.warc.gz``
    per partition, written executor-side, content-addressed filenames),
    read them back with the distributed WARC source, and emit per-doc
    integrity facts — md5 over the crawled payload bytes, byte length,
    and the parsed WARC-Date instant. The oracle computes the same
    projection in DuckDB directly on the parquet source of truth, so a
    single flipped byte anywhere in writer, gzip member walk, record
    framing, or date parsing fails the gate."""
    import hashlib as _hl
    import os
    import shutil

    import pandas as pd

    from chronon_spark.sources.warc import (
        http_response_payload,
        make_warc_bytes,
        read_warc,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out_dir = "/tmp/chronon_warc_" + _hl.md5(sf_dir.encode()).hexdigest()[:12]
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    def _write(parts):
        chunks = [pdf[["doc_id", "text", "source"]] for pdf in parts]
        pdf = pd.concat(chunks).sort_values("doc_id") if chunks else pd.DataFrame()
        if not len(pdf):
            return
        base = pd.Timestamp("2020-01-01T00:00:00Z")
        recs = []
        for doc_id, text, source in zip(pdf["doc_id"], pdf["text"], pdf["source"]):
            ts = (base + pd.to_timedelta(int(doc_id), unit="s")).strftime(
                "%Y-%m-%dT%H:%M:%SZ"
            )
            headers = {
                "WARC-Type": "response",
                "WARC-Record-ID": f"<urn:doc:{int(doc_id)}>",
                "WARC-Target-URI": f"https://crawl.test/{source}/{int(doc_id)}",
                "WARC-Date": ts,
                "Content-Type": "application/http; msgtype=response",
            }
            recs.append(
                (headers, http_response_payload(text.encode("utf-8"),
                                                "text/plain; charset=utf-8"))
            )
        data = make_warc_bytes(recs, gzip_members=True)
        name = _hl.md5(data).hexdigest()[:16]
        with open(os.path.join(out_dir, f"{name}.warc.gz"), "wb") as f:
            f.write(data)
        yield pd.DataFrame({"n": [len(recs)]})

    # force the executor-side archive writes (tiny result: one row/partition)
    docs.repartition(4, "doc_id").mapInPandas(_write, schema="n long").collect()

    return read_warc(spark, out_dir).select(
        F.element_at(F.split("url", "/"), -1).cast("long").alias("doc_id"),
        F.col("url"),
        F.md5("payload").alias("text_md5"),
        F.length("payload").cast("long").alias("n_bytes"),
        F.unix_timestamp("warc_ts").alias("ts_sec"),
    )


def _linkgraph_html(sf_dir: str, spark: SparkSession):
    """Deterministic per-doc html with outgoing hrefs, identical algebra
    in both engines: every doc links to a source domain (doc_id % 20),
    a pure-sink .org domain (doc_id % 13 — exercises dangling mass), and
    every third doc links to a hub; its own domain is source-derived so
    some links are self-loops (exercises the edge filter)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("src_domain"),
        F.concat(
            F.lit("<p>"),
            F.col("text"),
            F.lit('</p><a href="https://src'),
            (F.col("doc_id") % 20).cast("string"),
            F.lit('.example.com/p">'),
            F.substring(F.col("text"), 1, 12),
            F.lit('</a><a href="https://d'),
            (F.col("doc_id") % 13).cast("string"),
            F.lit('.example.org/q">b</a>'),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit('<a href="https://hub.example.net/r">c</a>'),
            ).otherwise(F.lit("")),
        ).alias("html"),
    )


def q_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """href extraction + domain-edge aggregation (linkgraph.extract_links):
    JVM-side regexp_extract_all projection, one groupBy shuffle. Counts
    per (src_domain, dst_domain) INCLUDING self-loops — the raw
    extraction fidelity is what's under test."""
    from chronon_spark.operators.linkgraph import extract_links

    links = extract_links(_linkgraph_html(sf_dir, spark))
    return links.groupBy("src_domain", "dst_domain").agg(
        F.count(F.lit(1)).alias("n_links")
    )


def q_domain_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact damped PageRank over the distinct self-loop-free
    domain graph (linkgraph.domain_pagerank, 4 iterations, d=0.85). The
    oracle unrolls every iteration as CTEs — bit-exact BIGINT algebra."""
    from chronon_spark.operators.linkgraph import (
        domain_edges,
        domain_pagerank,
        extract_links,
    )

    links = extract_links(_linkgraph_html(sf_dir, spark))
    return domain_pagerank(domain_edges(links), iters=4)


def q_site_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-domain (PSL-lite) host collapsing
    (linkgraph.registered_domain): four synthetic host shapes per doc —
    www-subdomain, blogspot platform suffix, deep co.uk subdomain, bare
    two-label — roll up to site-level counts. The oracle derives each
    registrable domain ARITHMETICALLY from the case id (it never splits
    hostnames), so a suffix-logic bug cannot cancel out."""
    from chronon_spark.operators.linkgraph import registered_domain

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    k = F.col("doc_id") % 4
    host = (
        F.when(k == 0, F.concat(F.lit("www."), F.col("source"), F.lit(".example.com")))
        .when(k == 1, F.concat(F.col("source"), F.lit(".blogspot.com")))
        .when(k == 2, F.concat(F.lit("a.b."), F.col("source"), F.lit(".co.uk")))
        .otherwise(F.concat(F.lit("news."), F.col("source"), F.lit(".io")))
    )
    hosts = docs.select(host.alias("host"))
    return (
        hosts.select("host", registered_domain("host").alias("site"))
        .groupBy("site")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("host").alias("n_hosts"),
        )
    )


_SITE_COLLAPSE_ORACLE = """
WITH d AS (
  SELECT doc_id, source, doc_id % 4 AS k FROM documents),
h AS (
  SELECT CASE k WHEN 0 THEN 'www.' || source || '.example.com'
                WHEN 1 THEN source || '.blogspot.com'
                WHEN 2 THEN 'a.b.' || source || '.co.uk'
                ELSE 'news.' || source || '.io' END AS host,
         CASE k WHEN 0 THEN 'example.com'
                WHEN 1 THEN source || '.blogspot.com'
                WHEN 2 THEN source || '.co.uk'
                ELSE source || '.io' END AS site
  FROM d)
SELECT site, count(*) AS n_rows,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
FROM h GROUP BY site
"""


def q_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution (linkgraph.resolve_redirects): per-doc
    synthetic 3xx edges form 4-hop chains within each 5-id block, with
    every 97th id a self-loop trap (the degenerate cycle — must come
    back 'unresolved' at the hop cap). The oracle unrolls every follow
    step as CTEs — exact string algebra both sides."""
    from chronon_spark.operators.linkgraph import resolve_redirects

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    edges = docs.where(d % 5 != 4).select(
        F.concat(F.lit("https://r.example/u"), d).alias("src_url"),
        F.when(
            d % 97 == 0, F.concat(F.lit("https://r.example/u"), d)
        ).otherwise(F.concat(F.lit("https://r.example/u"), d + 1)).alias("dst_url"),
    )
    return resolve_redirects(edges, max_hops=8)


def _redirect_resolve_oracle() -> str:
    from chronon_spark.operators.linkgraph import redirect_oracle_sql

    edges_sql = """
SELECT 'https://r.example/u' || CAST(doc_id AS VARCHAR) AS src_url,
       CASE WHEN doc_id % 97 = 0
            THEN 'https://r.example/u' || CAST(doc_id AS VARCHAR)
            ELSE 'https://r.example/u' || CAST(doc_id + 1 AS VARCHAR) END
         AS dst_url
FROM documents WHERE doc_id % 5 <> 4
"""
    return redirect_oracle_sql(edges_sql, max_hops=8)


def q_url_traps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-trap detection (indexing.url_trap_stats): per-source
    synthetic URLs where every third source is a calendar trap (all its
    URLs collapse to the /cal/N/N template) and the rest carry md5-slug
    paths (distinct templates). Flags volume + template collapse with
    integer-exact ratios."""
    from chronon_spark.operators.indexing import url_trap_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    k = F.substring("source", 4, 10).cast("int") % 3
    urls = docs.select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com"),
            F.when(
                k == 0,
                F.concat(
                    F.lit("/cal/"),
                    (F.col("doc_id") % 97).cast("string"),
                    F.lit("/"),
                    ((F.col("doc_id") * 7) % 89).cast("string"),
                ),
            ).otherwise(F.concat(F.lit("/a/"), F.md5("text"))),
        ).alias("url")
    )
    return url_trap_stats(urls, min_urls=20, min_urls_per_template=10)


_URL_TRAPS_ORACLE = r"""
WITH u AS (
  SELECT CASE WHEN CAST(substr(source, 4) AS INT) % 3 = 0
         THEN 'https://' || source || '.example.com/cal/'
              || CAST(doc_id % 97 AS VARCHAR) || '/'
              || CAST((doc_id * 7) % 89 AS VARCHAR)
         ELSE 'https://' || source || '.example.com/a/' || md5(text)
         END AS url
  FROM documents),
p AS (
  SELECT lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/]+)', 1))
           AS domain,
         regexp_replace(regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*', ''),
                        '[0-9]+', 'N', 'g') AS template
  FROM u),
t AS (SELECT domain, template, count(*) AS c FROM p GROUP BY 1, 2)
SELECT domain,
       CAST(sum(c) AS BIGINT) AS n_urls,
       CAST(count(*) AS BIGINT) AS n_templates,
       CAST(sum(c) AS BIGINT) // CAST(count(*) AS BIGINT) AS urls_per_template,
       CAST(max(c) AS BIGINT) AS max_template_urls,
       (CAST(sum(c) AS BIGINT) >= 20
        AND CAST(sum(c) AS BIGINT) // CAST(count(*) AS BIGINT) >= 10) AS is_trap
FROM t GROUP BY domain
"""


def q_trust_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank (Gyöngyi et al. 2004) over the same domain graph as
    domain_rank: teleport restricted to three trusted seed domains
    (linkgraph.domain_trustrank) — the published web-spam demotion
    prior; domains unreachable from the seeds hold zero trust. The
    oracle unrolls every iteration as CTEs — bit-exact BIGINT algebra."""
    from chronon_spark.operators.linkgraph import (
        domain_edges,
        domain_trustrank,
        extract_links,
    )

    links = extract_links(_linkgraph_html(sf_dir, spark))
    seeds = spark.createDataFrame(
        [("hub.example.net",), ("src1.example.com",), ("src7.example.com",)],
        "domain string",
    )
    return domain_trustrank(domain_edges(links), seeds, iters=4)


def _trust_rank_oracle() -> str:
    from chronon_spark.operators.linkgraph import trustrank_oracle_sql

    edges_sql = (
        "WITH " + _LINKGRAPH_LINKS_SQL
        + "SELECT DISTINCT src_domain, dst_domain FROM links"
        + " WHERE src_domain <> dst_domain"
    )
    seeds_sql = (
        "SELECT * FROM (VALUES ('hub.example.net'), ('src1.example.com'),"
        " ('src7.example.com')) t(domain)"
    )
    return trustrank_oracle_sql(edges_sql, seeds_sql, iters=4)


def q_hits_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact HITS hubs/authorities over the same domain graph as
    domain_rank (linkgraph.domain_hits, 3 iterations, divide-only L1
    renormalization). Oracle unrolls every half-step as CTEs."""
    from chronon_spark.operators.linkgraph import (
        domain_edges,
        domain_hits,
        extract_links,
    )

    links = extract_links(_linkgraph_html(sf_dir, spark))
    return domain_hits(domain_edges(links), iters=3)


def q_harmonic_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated harmonic centrality over the domain graph
    (linkgraph.harmonic_centrality, exact all-sources-BFS mode, d<=3,
    integer scale units) — the ranking Common Crawl publishes for its
    host graph; the HyperBall HLL mode is the 10^8-domain scale path
    (pytest-pinned within tolerance of exact). Edges REVERSED so the
    score measures who can reach a domain (incoming reachability)."""
    from chronon_spark.operators.linkgraph import (
        domain_edges,
        extract_links,
        harmonic_centrality,
    )

    links = extract_links(_linkgraph_html(sf_dir, spark))
    edges = domain_edges(links).select(
        F.col("dst_domain").alias("src_domain"),
        F.col("src_domain").alias("dst_domain"),
    )
    return harmonic_centrality(edges, max_dist=3, mode="exact")


def _harmonic_rank_oracle() -> str:
    from chronon_spark.operators.linkgraph import harmonic_oracle_sql

    edges_sql = (
        "WITH " + _LINKGRAPH_LINKS_SQL
        + "SELECT DISTINCT dst_domain AS src_domain, src_domain AS dst_domain"
        + " FROM links WHERE src_domain <> dst_domain"
    )
    return harmonic_oracle_sql(edges_sql, max_dist=3)


def q_anchor_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 incoming anchor texts per target domain via the SALTED
    two-phase exact top-k (linkgraph.anchor_top_k, salt_partitions=4) —
    the oracle is a plain window row_number, so the salted plan is
    verified against the unsalted semantics."""
    from chronon_spark.operators.linkgraph import anchor_top_k, extract_anchors

    anchors = extract_anchors(_linkgraph_html(sf_dir, spark))
    out = anchor_top_k(anchors, k=3, salt_partitions=4)
    return out.select(
        "domain", "anchor", "n_links", F.col("rnk").cast("long").alias("rnk")
    )


_LINKGRAPH_LINKS_SQL = """
h AS (
  SELECT source || '.example.com' AS src_domain,
         '<p>' || text || '</p><a href="https://src'
           || CAST(doc_id % 20 AS VARCHAR)
           || '.example.com/p">' || substr(text, 1, 12)
           || '</a><a href="https://d'
           || CAST(doc_id % 13 AS VARCHAR) || '.example.org/q">b</a>'
           || CASE WHEN doc_id % 3 = 0
                   THEN '<a href="https://hub.example.net/r">c</a>'
                   ELSE '' END AS html
  FROM documents),
l AS (
  SELECT src_domain,
         unnest(regexp_extract_all(html, 'href="(https?://[^"]+)"', 1)) AS href
  FROM h),
links AS (
  SELECT src_domain, regexp_extract(href, '^https?://([^/]+)', 1) AS dst_domain
  FROM l)
"""

_LINK_GRAPH_ORACLE = (
    "WITH " + _LINKGRAPH_LINKS_SQL
    + "SELECT src_domain, dst_domain, count(*) AS n_links FROM links GROUP BY 1, 2"
)


_ANCHOR_TOPK_ORACLE = """
WITH h AS (
  SELECT source || '.example.com' AS src_domain,
         '<p>' || text || '</p><a href="https://src'
           || CAST(doc_id % 20 AS VARCHAR)
           || '.example.com/p">' || substr(text, 1, 12)
           || '</a><a href="https://d'
           || CAST(doc_id % 13 AS VARCHAR) || '.example.org/q">b</a>'
           || CASE WHEN doc_id % 3 = 0
                   THEN '<a href="https://hub.example.net/r">c</a>'
                   ELSE '' END AS html
  FROM documents),
el AS (
  SELECT unnest(regexp_extract_all(html,
           '<a href="(https?://[^"]+)"[^>]*>([^<]*)</a>', 0)) AS el
  FROM h),
a AS (
  SELECT regexp_extract(regexp_extract(el,
           '<a href="(https?://[^"]+)"[^>]*>([^<]*)</a>', 1),
           '^https?://([^/]+)', 1) AS domain,
         regexp_extract(el, '<a href="(https?://[^"]+)"[^>]*>([^<]*)</a>', 2)
           AS anchor
  FROM el),
c AS (
  SELECT domain, anchor, count(*) AS n_links
  FROM a WHERE anchor <> '' GROUP BY 1, 2),
r AS (
  SELECT domain, anchor, n_links,
         row_number() OVER (PARTITION BY domain
                            ORDER BY n_links DESC, anchor ASC) AS rnk
  FROM c)
SELECT domain, anchor, CAST(n_links AS BIGINT) AS n_links,
       CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= 3
"""


def _domain_rank_oracle() -> str:
    from chronon_spark.operators.linkgraph import pagerank_oracle_sql

    edges_sql = (
        "WITH " + _LINKGRAPH_LINKS_SQL
        + "SELECT DISTINCT src_domain, dst_domain FROM links"
        + " WHERE src_domain <> dst_domain"
    )
    return pagerank_oracle_sql(edges_sql, iters=4, damping=85)


def _hits_rank_oracle() -> str:
    from chronon_spark.operators.linkgraph import hits_oracle_sql

    edges_sql = (
        "WITH " + _LINKGRAPH_LINKS_SQL
        + "SELECT DISTINCT src_domain, dst_domain FROM links"
        + " WHERE src_domain <> dst_domain"
    )
    return hits_oracle_sql(edges_sql, iters=3)


_WARC_INGEST_ORACLE = """
SELECT doc_id,
       'https://crawl.test/' || source || '/' || CAST(doc_id AS VARCHAR) AS url,
       md5(text) AS text_md5,
       octet_length(encode(text)) AS n_bytes,
       CAST(epoch(TIMESTAMP '2020-01-01 00:00:00' + to_seconds(doc_id)) AS BIGINT) AS ts_sec
FROM documents
"""


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build over the corpus (indexing.term_stats): per-term
    document frequency + total term frequency via a two-level map-side
    combinable aggregate — stopword mass collapses per-partition before
    either exchange. Oracle re-derives the table in DuckDB from an
    unnest of the identical normalization."""
    from chronon_spark.operators.indexing import term_stats, tokenize

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return term_stats(tokenize(docs))


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-based decontamination: every doc whose token stream contains
    any probe phrase as a contiguous run (indexing.phrase_search — the
    positional-intersection join; ALL phrases matched in ONE pass over
    the token stream, phrase table broadcast). Probes are the first 3
    normalized tokens of every doc_id % 31 == 0 document, so every probe
    is guaranteed at least its own source hit plus whatever boilerplate
    shares the prefix. The oracle is an INDEPENDENT formulation: a
    padded-LIKE substring match over the normalized text."""
    from chronon_spark.operators.indexing import norm_words, phrase_search, tokenize

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    phrases = (
        docs.where(F.col("doc_id") % 31 == 0)
        .select(
            F.col("doc_id").alias("phrase_id"),
            F.concat_ws(" ", F.slice(norm_words("text"), 1, 3)).alias("phrase"),
        )
        .where(F.col("phrase") != "")
    )
    return phrase_search(tokenize(docs), phrases)


def q_crawl_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-crawl change report (indexing.crawl_diff): snapshot A is the
    documents table keyed by crawl URL; snapshot B deterministically
    deletes doc_id % 11 == 0, rewrites doc_id % 7 == 0 (appended
    section), re-crawls the rest byte-identical, and adds a /v2 page for
    doc_id % 13 == 0. Statuses by text equality; changed pages carry an
    integer-exact distinct-word Jaccard. The oracle computes the same
    report with DuckDB LIST algebra (list_distinct/list_intersect) vs
    the engine's relational full-outer word join."""
    from chronon_spark.operators.indexing import crawl_diff

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    url = F.concat(
        F.lit("https://crawl.test/"), F.col("source"), F.lit("/"), F.col("doc_id")
    )
    old = docs.select(url.alias("url"), "text")
    new_body = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.col("text"), F.lit(" updated section alpha beta gamma")),
    ).otherwise(F.col("text"))
    new = docs.where(F.col("doc_id") % 11 != 0).select(
        url.alias("url"), new_body.alias("text")
    )
    added = docs.where(F.col("doc_id") % 13 == 0).select(
        F.concat(url, F.lit("/v2")).alias("url"),
        F.substring("text", 1, 40).alias("text"),
    )
    return crawl_diff(old, new.unionByName(added))


def q_stream_phrase_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase-level decontamination at INGEST time
    (streaming/curation.stream_phrase_filter): the corpus replayed as a
    file stream, dropping any doc that contains a probe phrase (the
    %31 first-3-token probes, same as batch phrase_search) as a
    contiguous token run — a stateless nested higher-order Catalyst
    expression, zero streaming state, no Python. Oracle: the DuckDB
    NOT-EXISTS padded-LIKE inverse of the phrase_search oracle, so the
    streaming gate is verified against independent batch semantics."""
    import tempfile

    from chronon_spark.operators.indexing import norm_words
    from chronon_spark.streaming.curation import stream_phrase_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    phrases = (
        docs.where(F.col("doc_id") % 31 == 0)
        .select(
            F.col("doc_id").alias("phrase_id"),
            F.concat_ws(" ", F.slice(norm_words("text"), 1, 3)).alias("phrase"),
        )
        .where(F.col("phrase") != "")
    )
    d = tempfile.mkdtemp(prefix="phrase_src_")
    docs.select("doc_id", "lang", "text").write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(spark.read.parquet(d).schema).parquet(d)
    kept = stream_phrase_filter(stream, phrases)
    name = "drv_stream_phrase"
    q = (
        kept.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select("doc_id", "lang")


_STREAM_PHRASE_ORACLE = """
WITH n AS (
  SELECT doc_id, lang,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents),
p AS (
  SELECT array_to_string(list_slice(string_split(norm, ' '), 1, 3), ' ') AS phrase
  FROM n WHERE doc_id % 31 = 0 AND norm <> '')
SELECT doc_id, lang FROM n
WHERE NOT EXISTS (
  SELECT 1 FROM p WHERE ' ' || n.norm || ' ' LIKE '% ' || p.phrase || ' %')
"""


def q_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance (indexing.merge_term_stats): the
    vocabulary of yesterday's corpus (doc_id % 11 != 0) merged with the
    increment's stats (doc_id % 11 == 0) by pure counter addition —
    |vocab|-row cost, no corpus rescan. The oracle builds the FULL
    corpus vocabulary from scratch, so the gate proves
    incremental == batch."""
    from chronon_spark.operators.indexing import (
        merge_term_stats,
        term_stats,
        tokenize,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = term_stats(tokenize(docs.where(F.col("doc_id") % 11 != 0)))
    delta = term_stats(tokenize(docs.where(F.col("doc_id") % 11 == 0)))
    return merge_term_stats(base, delta)


def q_recrawl_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl-scheduling prior (indexing.recrawl_stats): three
    deterministic synthetic crawls of the documents table (crawl 2
    rewrites %7 and skips %11; crawl 3 rewrites %5 and skips %13) →
    per-URL observation count, distinct-body count, and integer change
    rate. One projection hashes bodies, one groupBy — the oracle counts
    DISTINCT text directly (engine counts distinct md5), an independent
    equivalence."""
    from chronon_spark.operators.indexing import recrawl_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    url = F.concat(
        F.lit("https://crawl.test/"), F.col("source"), F.lit("/"), F.col("doc_id")
    )
    s1 = docs.select(url.alias("url"), "text")
    s2 = docs.where(F.col("doc_id") % 11 != 0).select(
        url.alias("url"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" updated section alpha beta gamma")),
        ).otherwise(F.col("text")).alias("text"),
    )
    s3 = docs.where(F.col("doc_id") % 13 != 0).select(
        url.alias("url"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(" second revision")),
        ).otherwise(F.col("text")).alias("text"),
    )
    return recrawl_stats(s1.unionByName(s2).unionByName(s3))


_RECRAWL_ORACLE = """
WITH base AS (
  SELECT 'https://crawl.test/' || source || '/' || CAST(doc_id AS VARCHAR) AS url,
         doc_id, text
  FROM documents),
snaps AS (
  SELECT url, text FROM base
  UNION ALL
  SELECT url,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' updated section alpha beta gamma'
              ELSE text END AS text
  FROM base WHERE doc_id % 11 <> 0
  UNION ALL
  SELECT url,
         CASE WHEN doc_id % 5 = 0
              THEN text || ' second revision'
              ELSE text END AS text
  FROM base WHERE doc_id % 13 <> 0)
SELECT url,
       CAST(count(*) AS BIGINT) AS n_obs,
       CAST(count(DISTINCT text) AS BIGINT) AS n_versions,
       CASE WHEN count(*) > 1
            THEN CAST((1000000 * (count(DISTINCT text) - 1))
                      // (count(*) - 1) AS BIGINT)
            ELSE NULL END AS change_rate_micro
FROM snaps GROUP BY url
"""


def q_crawl_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier scheduling (indexing.crawl_priority): the recrawl
    change-rate prior composed with the integer-exact domain PageRank —
    priority_micro = (1+rate) * (1 + rank DIV 1e6). URLs live on the
    same per-source domains as the link graph, so the rank join is a
    broadcast of the |domains|-row table; the oracle nests the full
    unrolled-PageRank CTE inside the recrawl SQL."""
    from chronon_spark.operators.indexing import crawl_priority, recrawl_stats
    from chronon_spark.operators.linkgraph import (
        domain_edges,
        domain_pagerank,
        extract_links,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/"), F.col("doc_id")
    )
    s1 = docs.select(url.alias("url"), "text")
    s2 = docs.where(F.col("doc_id") % 11 != 0).select(
        url.alias("url"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" updated section alpha beta gamma")),
        ).otherwise(F.col("text")).alias("text"),
    )
    s3 = docs.where(F.col("doc_id") % 13 != 0).select(
        url.alias("url"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(" second revision")),
        ).otherwise(F.col("text")).alias("text"),
    )
    stats = recrawl_stats(s1.unionByName(s2).unionByName(s3))
    ranks = domain_pagerank(
        domain_edges(extract_links(_linkgraph_html(sf_dir, spark))), iters=4
    )
    return crawl_priority(stats, ranks)


def _crawl_priority_oracle() -> str:
    from chronon_spark.operators.linkgraph import pagerank_oracle_sql

    edges_sql = (
        "WITH " + _LINKGRAPH_LINKS_SQL
        + "SELECT DISTINCT src_domain, dst_domain FROM links"
        + " WHERE src_domain <> dst_domain"
    )
    pr = pagerank_oracle_sql(edges_sql, iters=4, damping=85)
    return f"""
WITH pr AS MATERIALIZED ({pr}),
base AS (
  SELECT 'https://' || source || '.example.com/' || CAST(doc_id AS VARCHAR) AS url,
         doc_id, text
  FROM documents),
snaps AS (
  SELECT url, text FROM base
  UNION ALL
  SELECT url,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' updated section alpha beta gamma'
              ELSE text END AS text
  FROM base WHERE doc_id % 11 <> 0
  UNION ALL
  SELECT url,
         CASE WHEN doc_id % 5 = 0
              THEN text || ' second revision'
              ELSE text END AS text
  FROM base WHERE doc_id % 13 <> 0),
st AS (
  SELECT url,
         CAST(count(*) AS BIGINT) AS n_obs,
         CAST(count(DISTINCT text) AS BIGINT) AS n_versions,
         CASE WHEN count(*) > 1
              THEN CAST((1000000 * (count(DISTINCT text) - 1))
                        // (count(*) - 1) AS BIGINT)
              ELSE NULL END AS change_rate_micro
  FROM snaps GROUP BY url),
j AS (
  SELECT st.*, regexp_extract(url, '^https?://([^/]+)', 1) AS domain FROM st)
SELECT j.url, j.domain, j.n_obs, j.n_versions, j.change_rate_micro,
   CAST(coalesce(pr.rank, 0) AS BIGINT) AS rank,
   CAST((1 + coalesce(j.change_rate_micro, 500000))
        * (1 + coalesce(pr.rank, 0) // 1000000) AS BIGINT) AS priority_micro
FROM j LEFT JOIN pr ON j.domain = pr.domain
"""


def q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-slot assignment (indexing.schedule_crawl) over the
    crawl_priority frontier: per-domain frontiers capped at 20 via the
    SALTED exact top-k, ranked (priority desc, url asc), cut into
    per_slot=5 fetch waves. Oracle ranks the same composed frontier with
    a plain window — verifying the salted cap against unsalted
    semantics AND the full priority composition underneath."""
    from chronon_spark.operators.indexing import schedule_crawl

    frontier = q_crawl_priority(spark, sf_dir).select(
        "url", "domain", "priority_micro"
    )
    return schedule_crawl(
        frontier,
        per_slot=5,
        max_frontier_per_domain=20,
        salt_partitions=2,
    ).select("url", "domain", "priority_micro", "rank", "slot")


def _crawl_schedule_oracle() -> str:
    inner = _crawl_priority_oracle()
    return f"""
WITH pri AS MATERIALIZED ({inner}),
r AS (
  SELECT url, domain, priority_micro,
     row_number() OVER (PARTITION BY domain
                        ORDER BY priority_micro DESC, url ASC) AS rank
  FROM pri)
SELECT url, domain, priority_micro, CAST(rank AS BIGINT) AS rank,
   CAST((rank - 1) // 5 AS BIGINT) AS slot
FROM r WHERE rank <= 20
"""


def q_robots_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-delay politeness rates end-to-end: per-source robots bodies
    carry a '*'-group Crawl-delay of (k+1).5 seconds (ceil -> k+2), a
    shadowed fastbot group BEFORE it (the Crawl-delay line between the
    two User-agent lines must SEPARATE the groups), and every fourth
    source a non-numeric value (ignored -> scheduler default 7).
    parse_crawl_delay feeds schedule_crawl, whose not_before_sec =
    (rank-1)*delay. The oracle derives every delay arithmetically — it
    never parses."""
    from chronon_spark.operators.indexing import schedule_crawl
    from chronon_spark.operators.robots import parse_crawl_delay

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    k = F.substring("source", 4, 10).cast("int") % 4
    robots = docs.select("source").distinct().select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("domain"),
        F.concat(
            F.lit("User-agent: fastbot\nCrawl-delay: 0\nUser-agent: *\nCrawl-delay: "),
            F.when(k == 3, F.lit("soon")).otherwise(
                F.concat((k + 1).cast("string"), F.lit(".5"))
            ),
            F.lit("\nDisallow: /private/\n"),
        ).alias("robots_txt"),
    )
    frontier = docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/d"),
            F.col("doc_id"),
        ).alias("url"),
        F.concat(F.col("source"), F.lit(".example.com")).alias("domain"),
        (F.col("doc_id") % 11).cast("long").alias("priority_micro"),
    )
    delays = parse_crawl_delay(robots, agent="*")
    return schedule_crawl(
        frontier, per_slot=4, delays=delays, default_delay_sec=7
    ).select("url", "domain", "rank", "slot", "not_before_sec")


_ROBOTS_DELAY_ORACLE = """
WITH d AS (
  SELECT doc_id, source, CAST(substr(source, 4) AS INT) % 4 AS k
  FROM documents),
f AS (
  SELECT 'https://' || source || '.example.com/d' || CAST(doc_id AS VARCHAR) AS url,
         source || '.example.com' AS domain,
         doc_id % 11 AS priority_micro,
         CASE WHEN k = 3 THEN 7 ELSE k + 2 END AS delay
  FROM d),
r AS (
  SELECT url, domain, delay,
     row_number() OVER (PARTITION BY domain
                        ORDER BY priority_micro DESC, url ASC) AS rank
  FROM f)
SELECT url, domain, CAST(rank AS BIGINT) AS rank,
   CAST((rank - 1) // 4 AS BIGINT) AS slot,
   CAST((rank - 1) * delay AS BIGINT) AS not_before_sec
FROM r
"""


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt crawl gate (operators/robots): per-source synthetic
    robots bodies (a '*' group with Disallow /pK/ + Allow /pK/keep/, a
    wildcard rule the literal-prefix subset must DROP, and a shadowing
    badbot group that must not leak into '*') are PARSED from text and
    applied to one URL per document with longest-prefix/allow-wins
    semantics. The oracle is an independent formulation: it never
    parses — it derives the intended verdict arithmetic directly, so a
    parser bug cannot cancel out."""
    from chronon_spark.operators.robots import apply_robots, parse_robots

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    k = F.substring("source", 4, 10).cast("int") % 5
    robots = (
        docs.select("source").distinct().select(
            F.concat(F.col("source"), F.lit(".example.com")).alias("domain"),
            F.concat(
                F.lit("# policy\nUser-agent: *\nDisallow: /p"),
                k,
                F.lit("/\nAllow: /p"),
                k,
                F.lit("/keep/\nDisallow: /x*y\n\nUser-agent: badbot\nDisallow: /\n"),
            ).alias("robots_txt"),
        )
    )
    urls = docs.select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/p"),
            F.col("doc_id") % 7,
            F.when(F.col("doc_id") % 3 == 0, F.lit("/keep")).otherwise(F.lit("")),
            F.lit("/d"),
            F.col("doc_id"),
        ).alias("url")
    )
    rules = parse_robots(robots, agent="*")
    return apply_robots(urls, rules).select(
        "url", "allowed", "matched_rule", "matched_prefix"
    )


_ROBOTS_FILTER_ORACLE = """
WITH d AS (
  SELECT doc_id, source,
     CAST(substr(source, 4) AS INT) % 5 AS k,
     doc_id % 7 AS p,
     doc_id % 3 = 0 AS keep
  FROM documents)
SELECT
  'https://' || source || '.example.com/p' || CAST(p AS VARCHAR)
    || CASE WHEN keep THEN '/keep' ELSE '' END
    || '/d' || CAST(doc_id AS VARCHAR) AS url,
  (p <> k) OR keep AS allowed,
  CASE WHEN p = k AND keep THEN 'allow'
       WHEN p = k THEN 'disallow' END AS matched_rule,
  CASE WHEN p = k AND keep THEN '/p' || CAST(k AS VARCHAR) || '/keep/'
       WHEN p = k THEN '/p' || CAST(k AS VARCHAR) || '/' END AS matched_prefix
FROM d
"""


def q_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap crawl discovery (robots.parse_sitemap): per-source XML
    assembled from the documents table (lastmod on even ids, priority on
    %4 ids, one index entry per source), parsed back to entry rows. The
    oracle never parses XML — it derives each field arithmetically."""
    from chronon_spark.operators.robots import parse_sitemap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    el = F.concat(
        F.lit("<url>\n  <loc> https://"),
        F.col("source"),
        F.lit(".example.com/d"),
        F.col("doc_id"),
        F.lit(" </loc>\n"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("  <lastmod>2024-01-"),
                F.lpad((F.col("doc_id") % 28) + 1, 2, "0"),
                F.lit("</lastmod>\n"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("  <priority>0."), F.col("doc_id") % 10, F.lit("</priority>\n")
            ),
        ).otherwise(F.lit("")),
        F.lit("</url>"),
    )
    xml = (
        docs.select("source", el.alias("el"))
        .groupBy("source")
        .agg(F.concat_ws("\n", F.collect_list("el")).alias("body"))
        .select(
            F.concat(F.col("source"), F.lit(".example.com")).alias("domain"),
            F.concat(
                F.lit("<urlset>\n"),
                F.col("body"),
                F.lit("\n</urlset>\n<sitemapindex><sitemap><loc>https://"),
                F.col("source"),
                F.lit(".example.com/sitemap-2.xml</loc></sitemap></sitemapindex>"),
            ).alias("sitemap_xml"),
        )
    )
    return parse_sitemap(xml)


_SITEMAP_PARSE_ORACLE = """
SELECT source || '.example.com' AS domain,
       'url' AS kind,
       'https://' || source || '.example.com/d' || CAST(doc_id AS VARCHAR) AS loc,
       CASE WHEN doc_id % 2 = 0
            THEN '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') END AS lastmod,
       CAST(CASE WHEN doc_id % 4 = 0 THEN (doc_id % 10) * 100 ELSE 500 END AS BIGINT)
         AS priority_milli
FROM documents
UNION ALL
SELECT DISTINCT source || '.example.com',
       'sitemap',
       'https://' || source || '.example.com/sitemap-2.xml',
       NULL,
       CAST(500 AS BIGINT)
FROM documents
"""


def q_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus prior (linkgraph.domain_rollup): doc counts,
    corpus-wide duplicate-text counts, integer mean length, and the
    4-iteration integer PageRank of the synthetic link graph — the table
    a curation pipeline joins to weight a domain's contribution. One
    hash groupBy + join for dup flags, one per-domain aggregate, one
    broadcast join against the |domains|-row rank table."""
    from chronon_spark.operators.linkgraph import (
        domain_edges,
        domain_pagerank,
        domain_rollup,
        extract_links,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("domain"),
        "text",
        "n_chars",
    )
    ranks = domain_pagerank(
        domain_edges(extract_links(_linkgraph_html(sf_dir, spark))), iters=4
    )
    return domain_rollup(docs, ranks)


def _domain_rollup_oracle() -> str:
    from chronon_spark.operators.linkgraph import pagerank_oracle_sql

    edges_sql = (
        "WITH " + _LINKGRAPH_LINKS_SQL
        + "SELECT DISTINCT src_domain, dst_domain FROM links"
        + " WHERE src_domain <> dst_domain"
    )
    pr = pagerank_oracle_sql(edges_sql, iters=4, damping=85)
    return rf"""
WITH d AS (
  SELECT source || '.example.com' AS domain,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS hh,
         n_chars
  FROM documents),
dup AS (SELECT hh, count(*) AS c FROM d GROUP BY 1),
pd AS (
  SELECT domain, count(*) AS n_docs,
         sum(CASE WHEN dup.c > 1 THEN 1 ELSE 0 END) AS dup_docs,
         sum(n_chars) // count(*) AS mean_chars
  FROM d JOIN dup USING (hh) GROUP BY 1),
pr AS ({pr})
SELECT pd.domain,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(dup_docs AS BIGINT) AS dup_docs,
       CAST(mean_chars AS BIGINT) AS mean_chars,
       CAST(coalesce(pr.rank, 0) AS BIGINT) AS rank
FROM pd LEFT JOIN pr ON pd.domain = pr.domain
"""


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-5 retrieval (indexing.bm25_topk) for keyword
    queries drawn deterministically from the corpus (the distinct first-4
    tokens of every doc_id % 101 == 0 document). Scoring is integer
    micro/milli BM25 (k1=1.2, b=0.75; idf clamped at 0) so the DuckDB
    oracle is bit-exact; corpus scalars ride a broadcast single-row
    aggregate, postings are restricted to the query vocabulary BEFORE
    aggregation, and the ranking takes the SALTED two-phase top-k path
    (salt_partitions=4) — the oracle is a plain window, so the salted
    plan is verified against unsalted semantics."""
    from chronon_spark.operators.indexing import bm25_topk, tokenize

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = tokenize(docs)
    qdf = (
        toks.where((F.col("doc_id") % 101 == 0) & (F.col("pos") <= 4))
        .select(F.col("doc_id").alias("query_id"), "term")
        .distinct()
    )
    return bm25_topk(toks, qdf, k=5, salt_partitions=4)


# normalized token-list CTE shared by the index oracles; string_split on
# a trimmed collapsed string yields [''] for token-less docs — the WHERE
# term <> '' filter below restores the true empty stream
_INDEX_TOKENS_SQL = """
nt AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                      ' ') AS toks
  FROM documents),
tok AS (
  SELECT doc_id, t.term, t.pos
  FROM nt, LATERAL (
    SELECT unnest(toks) AS term, generate_subscripts(toks, 1) AS pos) t
  WHERE t.term <> '')
"""

_INVERTED_INDEX_ORACLE = (
    "WITH " + _INDEX_TOKENS_SQL
    + """, pd AS (
  SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2)
SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
FROM pd GROUP BY term"""
)

_BM25_ORACLE = (
    "WITH " + _INDEX_TOKENS_SQL
    + """, dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
corpus AS (SELECT count(*) AS n_docs, sum(dl) AS total_tokens FROM dl),
q AS (
  SELECT DISTINCT doc_id AS query_id, term
  FROM tok WHERE doc_id % 101 = 0 AND pos <= 4),
qv AS (SELECT DISTINCT term FROM q),
p AS (
  SELECT t.term, t.doc_id, count(*) AS tf
  FROM tok t JOIN qv USING (term) GROUP BY 1, 2),
dfr AS (SELECT term, count(*) AS df FROM p GROUP BY 1),
idf AS (
  SELECT term,
         greatest(0, CAST(floor(ln((2*n_docs - 2*df + 1) / (2*df + 1))
                                * 1000000 + 0.5) AS BIGINT)) AS idf_micro
  FROM dfr, corpus),
sc AS (
  SELECT q.query_id, p.doc_id,
         sum((idf.idf_micro * p.tf * 2200) // (
           p.tf * 1000 + (120 * (250
             + (750 * ((dl.dl * corpus.n_docs * 1000) // corpus.total_tokens))
               // 1000)) // 100)) AS score_micro
  FROM p
  JOIN idf USING (term)
  JOIN q USING (term)
  JOIN dl ON p.doc_id = dl.doc_id, corpus
  GROUP BY 1, 2),
r AS (
  SELECT query_id, doc_id, CAST(score_micro AS BIGINT) AS score_micro,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_micro DESC, doc_id ASC) AS rnk
  FROM sc)
SELECT query_id, doc_id, score_micro, CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= 5"""
)

_PHRASE_SEARCH_ORACLE = """
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents),
p AS (
  SELECT doc_id AS phrase_id,
         array_to_string(list_slice(string_split(norm, ' '), 1, 3), ' ') AS phrase
  FROM n WHERE doc_id % 31 = 0 AND norm <> '')
SELECT p.phrase_id, n.doc_id
FROM p JOIN n ON ' ' || n.norm || ' ' LIKE '% ' || p.phrase || ' %'
"""

_CRAWL_DIFF_ORACLE = """
WITH base AS (
  SELECT 'https://crawl.test/' || source || '/' || CAST(doc_id AS VARCHAR) AS url,
         doc_id, text
  FROM documents),
old AS (SELECT url, text FROM base),
new AS (
  SELECT url,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' updated section alpha beta gamma'
              ELSE text END AS text
  FROM base WHERE doc_id % 11 <> 0
  UNION ALL
  SELECT url || '/v2' AS url, substr(text, 1, 40) AS text
  FROM base WHERE doc_id % 13 = 0),
j AS (
  SELECT coalesce(o.url, n.url) AS url, o.text AS ta, n.text AS tb
  FROM old o FULL OUTER JOIN new n ON o.url = n.url),
w AS (
  SELECT url, ta, tb,
         list_filter(list_distinct(string_split(
           trim(regexp_replace(lower(coalesce(ta, '')), '[^a-z0-9]+', ' ', 'g')),
           ' ')), x -> x <> '') AS wa,
         list_filter(list_distinct(string_split(
           trim(regexp_replace(lower(coalesce(tb, '')), '[^a-z0-9]+', ' ', 'g')),
           ' ')), x -> x <> '') AS wb
  FROM j),
m AS (
  SELECT url, ta, tb,
         length(list_intersect(wa, wb)) AS ni,
         length(wa) + length(wb) - length(list_intersect(wa, wb)) AS nu
  FROM w)
SELECT url,
       CASE WHEN ta IS NULL THEN 'added'
            WHEN tb IS NULL THEN 'deleted'
            WHEN ta = tb THEN 'unchanged'
            ELSE 'changed' END AS status,
       CASE WHEN ta IS NULL OR tb IS NULL THEN NULL
            WHEN nu = 0 THEN CAST(1000000 AS BIGINT)
            ELSE CAST((1000000 * ni) // nu AS BIGINT) END AS jaccard_micro
FROM m
"""


# ---------------------------------------------------------------------------
# Driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: multi-part point-in-time join at sf0.001."""
    return _with_utc(q_asof_join_multipart)(spark, "/root/testdata/sf0.001")


def _with_utc(fn: Callable) -> Callable:
    """Timestamps in the testdata are naive (TIMESTAMP_NTZ); all oracles
    treat them as UTC (DuckDB epoch_ms semantics). The driver's session may
    not set spark.sql.session.timeZone, so every query pins it itself —
    it's a runtime-settable conf."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: _with_utc(v) for k, v in _raw_queries().items()}


def _driver_order(names: list[str], history_dir: Path) -> list[str]:
    """The driver's correctness run is budget-bounded and processes queries
    in dict order, so ``names`` (in definition order) are ranked from the
    ``CORRECTNESS_r<N>.json`` history in ``history_dir``: failed in the
    latest round first, then never checked, then least recently checked.
    Definition order breaks ties; with no history it is the order."""
    rounds = sorted(
        (int(m.group(1)), f)
        for f in history_dir.glob("CORRECTNESS_r*.json")
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f.name))
    )
    last_checked: dict[str, int] = {}
    failed: set[str] = set()
    for i, (_, f) in enumerate(rounds):
        for name, res in json.loads(f.read_text()).items():
            last_checked[name] = i
            ok = (res.get("rows_match") and res.get("schema_match")
                  and res.get("hash_match") and res.get("err") is None)
            if i == len(rounds) - 1 and not ok:
                failed.add(name)

    def rank(name: str) -> tuple[int, int]:
        if name in failed:
            return (0, 0)
        if name not in last_checked:
            return (1, 0)
        return (2, last_checked[name])

    return sorted(names, key=rank)


def _raw_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    defs = _query_defs()
    return {k: defs[k] for k in _DRIVER_ORDER}


def _query_defs() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Grouped by when each query was added; _DRIVER_ORDER is the order
    # the driver actually sees.
    return {
        # -- never driver-checked before round 4 ---------------------------
        "tile_compaction": q_tile_compaction,
        "percentile_serve": q_percentile_serve,
        "klist_serve": q_klist_serve,
        "freq_serve": q_freq_serve,
        "hist_serve": q_hist_serve,
        "noagg_snapshot": q_noagg_snapshot,
        "label_sawtooth": q_label_sawtooth,
        "label_snapshot": q_label_snapshot,
        "target_encode": q_target_encode,
        "training_set": q_training_set,
        "stupid_backoff": q_stupid_backoff,
        "kv_fetch": q_kv_fetch,
        "hits_rank": q_hits_rank,
        "tiled_fetch": q_tiled_fetch,
        "harmonic_rank": q_harmonic_rank,
        "crawl_priority": q_crawl_priority,
        "robots_filter": q_robots_filter,
        "sitemap_parse": q_sitemap_parse,
        "crawl_schedule": q_crawl_schedule,
        "inverted_index": q_inverted_index,
        "phrase_search": q_phrase_search,
        "crawl_diff": q_crawl_diff,
        "domain_rollup": q_domain_rollup,
        "bm25_topk": q_bm25_topk,
        "incremental_index": q_incremental_index,
        "stream_phrase_decontam": q_stream_phrase_decontam,
        "recrawl_stats": q_recrawl_stats,
        "warc_ingest": q_warc_ingest,
        "link_graph": q_link_graph,
        "domain_rank": q_domain_rank,
        "trust_rank": q_trust_rank,
        "url_traps": q_url_traps,
        "robots_delay": q_robots_delay,
        "redirect_resolve": q_redirect_resolve,
        "site_collapse": q_site_collapse,
        "temperature_mix_tokens": q_temperature_mix_tokens,
        "anchor_topk": q_anchor_topk,
        "eval_preflight": q_eval_preflight,
        "bpe_tokens": q_bpe_tokens,
        "model_transforms": q_model_transforms,
        "drift_dist": q_drift_dist,
        "bpe_train": q_bpe_train,
        "consistency": q_consistency,
        "quality_classifier": q_quality_classifier,
        "decayed_sum": q_decayed_sum,
        "scd2_intervals": q_scd2_intervals,
        "clustered_asof": q_clustered_asof,
        # -- green in r1/r2 but skipped by the round-3 budget --------------
        "url_canonical": q_url_canonical,
        "repetition_quality": q_repetition_quality,
        "cumulative_scan": q_cumulative_scan,
        "sketch_percentile": q_sketch_percentile,
        "asof_multisource": q_asof_multisource,
        "asof_firstk_uniquetopk": q_asof_firstk_uniquetopk,
        "skew_join": q_skew_join,
        "stream_tiles": q_stream_tiles,
        "kafka_tiles": q_kafka_tiles,
        "drift": q_drift,
        "mutation_replay": q_mutation_replay,
        "mutation_windowed": q_mutation_windowed,
        "mutation_fetch": q_mutation_fetch,
        "keymapped_join": q_keymapped_join,
        "derived_join": q_derived_join,
        "bootstrap_join": q_bootstrap_join,
        "backfill_resume": q_backfill_resume,
        # -- round-3 green, cheapest first ----------------------------------
        "blocklist": q_blocklist,
        "json_extract": q_json_extract,
        "entity_snapshot": q_entity_snapshot,
        "shard_shuffle": q_shard_shuffle,
        "lag_lead": q_lag_lead,
        "corpus_split": q_corpus_split,
        "tpch_q3": q_tpch_q3,
        "sessionize": q_sessionize,
        "profile": q_profile,
        "compare_job": q_compare_job,
        "compare_seq": q_compare_seq,
        "staging_q1": q_staging_q1,
        "doc_stats": q_doc_stats,
        "boilerplate_lines": q_boilerplate_lines,
        "tfidf_topk": q_tfidf_topk,
        "temperature_mix": q_temperature_mix,
        "asof_moments": q_asof_moments,
        "asof_histogram": q_asof_histogram,
        "feature_summary": q_feature_summary,
        "doc_sample": q_doc_sample,
        "stream_sessions": q_stream_sessions,
        "unigram_logprob": q_unigram_logprob,
        "snapshot_join": q_snapshot_join,
        "asof_lastk_topk": q_asof_lastk_topk,
        "ccnet_buckets": q_ccnet_buckets,
        "pack_sequences": q_pack_sequences,
        "asof_sawtooth": q_asof_sawtooth,
        "exact_dedup": q_exact_dedup,
        "pii_redact": q_pii_redact,
        "asof_percentile": q_asof_percentile,
        "chained_join": q_chained_join,
        "fetch_join": q_fetch_join,
        "external_fetch": q_external_fetch,
        "spj_merge": q_spj_merge,
        "webtext_flagship": q_webtext_flagship,
        "decontaminate": q_decontaminate,
        "duplicated_spans": q_duplicated_spans,
        "span_removal": q_span_removal,
        "asof_join_multipart": q_asof_join_multipart,
        "asof_bucketed": q_asof_bucketed,
        "snapshot_groupby": q_snapshot_groupby,
        "dedup_clusters": q_dedup_clusters,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_lsh": q_minhash_lsh,
        "incremental_dedup": q_incremental_dedup,
        "stream_curation": q_stream_curation,
        "simhash_near_dups": q_simhash_near_dups,
        "asof_groupby": q_asof_groupby,
    }


def oracle_sql() -> dict[str, str]:
    return {k: _fix_round6(v) for k, v in _raw_oracles().items()}


def _raw_oracles() -> dict[str, str]:
    return {
        "kv_fetch": _KV_FETCH_ORACLE,
        "hits_rank": _hits_rank_oracle(),
        "tiled_fetch": _TILED_FETCH_ORACLE,
        "tile_compaction": _TILED_FETCH_ORACLE,  # fetch ≡ regardless of
        # when compaction last ran — the invariant IS the oracle
        "percentile_serve": _percentile_serve_oracle(),
        "noagg_snapshot": _NOAGG_SNAPSHOT_ORACLE,
        "klist_serve": _KLIST_SERVE_ORACLE,
        "freq_serve": _FREQ_SERVE_ORACLE,
        "hist_serve": _HIST_SERVE_ORACLE,
        "harmonic_rank": _harmonic_rank_oracle(),
        "crawl_priority": _crawl_priority_oracle(),
        "robots_filter": _ROBOTS_FILTER_ORACLE,
        "sitemap_parse": _SITEMAP_PARSE_ORACLE,
        "crawl_schedule": _crawl_schedule_oracle(),
        "inverted_index": _INVERTED_INDEX_ORACLE,
        "phrase_search": _PHRASE_SEARCH_ORACLE,
        "crawl_diff": _CRAWL_DIFF_ORACLE,
        "domain_rollup": _domain_rollup_oracle(),
        "bm25_topk": _BM25_ORACLE,
        "incremental_index": _INVERTED_INDEX_ORACLE,
        "stream_phrase_decontam": _STREAM_PHRASE_ORACLE,
        "recrawl_stats": _RECRAWL_ORACLE,
        "asof_groupby": _ASOF_ORACLE,
        "asof_join_multipart": _ASOF_JOIN_ORACLE,
        "asof_bucketed": _ASOF_BUCKETED_ORACLE,
        "asof_percentile": _ASOF_PCT_ORACLE,
        "snapshot_groupby": _SNAPSHOT_ORACLE,
        "lag_lead": _LAG_LEAD_ORACLE,
        "decayed_sum": _DECAYED_SUM_ORACLE,
        "label_sawtooth": _LABEL_SAWTOOTH_ORACLE,
        "label_snapshot": _LABEL_SNAPSHOT_ORACLE,
        "target_encode": _TARGET_ENCODE_ORACLE,
        "training_set": _TRAINING_SET_ORACLE,
        "sessionize": _SESSIONIZE_ORACLE,
        "exact_dedup": _EXACT_DEDUP_ORACLE,
        "ngram_jaccard": _NGRAM_JACCARD_ORACLE,
        "minhash_lsh": _minhash_oracle(),
        "dedup_clusters": _dedup_clusters_oracle(),
        "doc_sample": _DOC_SAMPLE_ORACLE,
        "corpus_split": _CORPUS_SPLIT_ORACLE,
        "temperature_mix": _TEMPERATURE_MIX_ORACLE,
        "shard_shuffle": _SHARD_SHUFFLE_ORACLE,
        "pack_sequences": _PACK_ORACLE,
        "decontaminate": _DECONTAM_ORACLE,
        "duplicated_spans": _DUP_SPANS_ORACLE,
        "span_removal": _SPAN_REMOVAL_ORACLE,
        "ccnet_buckets": _CCNET_ORACLE,
        "stupid_backoff": _STUPID_BACKOFF_ORACLE,
        "incremental_dedup": _incremental_oracle(),
        "unigram_logprob": _UNIGRAM_ORACLE,
        "pii_redact": _pii_oracle(),
        "stream_curation": _stream_curation_oracle(),
        "simhash_near_dups": _SIMHASH_ORACLE,
        "webtext_flagship": _WEBTEXT_ORACLE,
        "doc_stats": _doc_stats_oracle(),
        "boilerplate_lines": _BOILERPLATE_ORACLE,
        "tfidf_topk": _TFIDF_ORACLE,
        "blocklist": _blocklist_oracle(),
        "asof_sawtooth": _SAWTOOTH_ORACLE,
        # same SQL on purpose: the clustered STORAGE layout must be
        # invisible in the results
        "clustered_asof": _SAWTOOTH_ORACLE,
        "scd2_intervals": _SCD2_ORACLE,
        "fetch_join": _FETCH_JOIN_ORACLE,
        "external_fetch": _EXTERNAL_FETCH_ORACLE,
        "spj_merge": _SPJ_MERGE_ORACLE,
        "chained_join": _CHAINED_ORACLE,
        "snapshot_join": _SNAPSHOT_JOIN_ORACLE,
        "entity_snapshot": _ENTITY_SNAPSHOT_ORACLE,
        "staging_q1": _STAGING_Q1_ORACLE,
        "tpch_q3": _TPCH_Q3_ORACLE,
        "stream_sessions": _STREAM_SESSIONS_ORACLE,
        "asof_moments": _MOMENTS_ORACLE,
        "asof_histogram": _HISTOGRAM_ORACLE,
        "asof_lastk_topk": _LASTK_ORACLE,
        "json_extract": _JSON_ORACLE,
        "profile": _PROFILE_ORACLE,
        "warc_ingest": _WARC_INGEST_ORACLE,
        "link_graph": _LINK_GRAPH_ORACLE,
        "domain_rank": _domain_rank_oracle(),
        "trust_rank": _trust_rank_oracle(),
        "url_traps": _URL_TRAPS_ORACLE,
        "robots_delay": _ROBOTS_DELAY_ORACLE,
        "redirect_resolve": _redirect_resolve_oracle(),
        "site_collapse": _SITE_COLLAPSE_ORACLE,
        "temperature_mix_tokens": _TEMPERATURE_MIX_TOKENS_ORACLE,
        "anchor_topk": _ANCHOR_TOPK_ORACLE,
        "eval_preflight": _EVAL_PREFLIGHT_ORACLE,
        "compare_job": _COMPARE_ORACLE,
        "compare_seq": _COMPARE_SEQ_ORACLE,
        "feature_summary": _summary_oracle(),
        "drift": _drift_oracle(),
        "drift_dist": _drift_dist_oracle(),
        "cumulative_scan": _CUMULATIVE_ORACLE,
        "backfill_resume": _BACKFILL_ORACLE,
        "asof_multisource": _MULTISOURCE_ORACLE,
        "asof_firstk_uniquetopk": _FIRSTK_ORACLE,
        "keymapped_join": _KEYMAPPED_ORACLE,
        "derived_join": _DERIVED_JOIN_ORACLE,
        "bootstrap_join": _BOOTSTRAP_ORACLE,
        "mutation_replay": _MUTATION_ORACLE,
        "mutation_windowed": _MUTATION_WINDOWED_ORACLE,
        "mutation_fetch": _mutation_fetch_oracle(),
        "sketch_percentile": _sketch_oracle(),
        "url_canonical": _URL_CANONICAL_ORACLE,
        "repetition_quality": _REPETITION_ORACLE,
        "stream_tiles": _STREAM_TILES_ORACLE,
        "kafka_tiles": _KAFKA_TILES_ORACLE,
        "skew_join": _SKEW_ORACLE,
        "consistency": _consistency_oracle(),
        "model_transforms": _MODEL_TRANSFORMS_ORACLE,
        "bpe_train": _bpe_train_oracle(),
        "bpe_tokens": _bpe_tokens_oracle(),
        "quality_classifier": _classifier_oracle(),
    }


_DRIVER_ORDER = _driver_order(list(_query_defs()), Path(__file__).resolve().parent)
