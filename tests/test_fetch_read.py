"""The request-driven serving read == the hopped backfill over full history.

``fetch_group_by`` merges, per request, its key's upload ⊕ fresh hop-IR
rows before its hop with its own hop's events up to its ts. It must
equal ``group_by_asof_hopped`` over the whole event history at the same
requests, for every hop-mergeable operation, windowed and unbounded, on
the edge cases of that read:

- requests spread over several hops after the batch end,
- a key whose only events are in the request's hop (head only),
- a key with no rows in the upload (events only after the batch end),
- a request whose hop holds only events after its ts (tail kept, head
  empty; with no tail either, it still gets its zero counts),
- a key with no events at all.

The semilattice fetches (sketch, k-list, frequency) run the same read
after ``slice_live_hop`` cuts their inputs to the one live hop.
"""

import re

import numpy as np
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
from chronon_spark.operators.asof_hopped import HOPPED_OPS, group_by_asof_hopped
from chronon_spark.plans.fetcher import fetch_group_by

DAY_MS = 86_400_000
T0 = 1_704_067_200_000  # 2024-01-01 UTC
BATCH_END = T0 + 6 * DAY_MS
HEAD_ONLY, NO_UPLOAD, LATER_ONLY, NO_EVENTS, ONLY_LATER = 100, 101, 102, 103, 104
OPS = sorted(HOPPED_OPS, key=lambda op: op.value)


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """Random integer events over 10 days on 8 keys (some null) plus the
    edge-case keys, and requests over days 6..9 (four hops)."""
    rng = np.random.RandomState(5)
    n = 600
    ev = pd.DataFrame({
        "k": rng.randint(0, 8, n),
        "v": rng.randint(-50, 200, n).astype(float),
        "ts": rng.randint(T0, T0 + 10 * DAY_MS, n),
    })
    ev.loc[rng.rand(n) < 0.05, "v"] = np.nan
    req_ts = rng.randint(BATCH_END, T0 + 10 * DAY_MS, 80)
    req = pd.DataFrame({"k": rng.randint(0, 8, len(req_ts)), "ts": req_ts})

    day8 = T0 + 8 * DAY_MS
    edge_ev = [
        # head only: two events in the request's hop, before its ts
        (HEAD_ONLY, 3.0, day8 + 1_000), (HEAD_ONLY, 7.0, day8 + 2_000),
        # no upload rows: events after the batch end, in earlier hops
        (NO_UPLOAD, 4.0, BATCH_END + 5_000), (NO_UPLOAD, 9.0, day8 - 5_000),
        # tail before the batch end, and events in the request's hop that
        # all come after the request's ts
        (LATER_ONLY, 2.0, T0 + 3 * DAY_MS), (LATER_ONLY, 5.0, BATCH_END + 1_000),
        (LATER_ONLY, 11.0, day8 + 50_000), (LATER_ONLY, 13.0, day8 + 60_000),
        # no history at all before the request: only later events in its hop
        (ONLY_LATER, 6.0, day8 + 50_000),
    ]
    edge_req = [
        (HEAD_ONLY, day8 + 3_000), (NO_UPLOAD, day8 + 10),
        (NO_UPLOAD, T0 + 9 * DAY_MS), (LATER_ONLY, day8 + 40_000),
        (NO_EVENTS, day8), (ONLY_LATER, day8 + 40_000),
    ]
    ev = pd.concat([ev, pd.DataFrame(edge_ev, columns=["k", "v", "ts"])])
    # integer values (APPROX_UNIQUE_COUNT sketches integers), NaN -> null
    rows = [(int(k), None if np.isnan(v) else int(v), int(t)) for k, v, t in ev.values]
    req = pd.concat([req, pd.DataFrame(edge_req, columns=["k", "ts"])])
    path = str(tmp_path_factory.mktemp("fetch_read") / "events")
    spark.createDataFrame(rows, "k long, v long, ts long").write.parquet(path)
    return path, spark.createDataFrame(req.reset_index(drop=True))


def _gb(path, windows) -> GroupBy:
    return GroupBy(
        sources=(EventSource(
            table=path, query=Query(selects={"k": "k", "v": "v"}, time_column="ts"),
        ),),
        key_columns=("k",),
        aggregations=tuple(Aggregation("v", op, windows=windows) for op in OPS),
        name="read",
    )


def _sorted(df) -> pd.DataFrame:
    return df.toPandas().sort_values(["k", "ts"]).reset_index(drop=True)


@pytest.mark.parametrize(
    "windows",
    [(Window.days(2),), (Window.days(1), Window.days(5)), None],
    ids=["windowed", "two-windows", "unbounded"],
)
def test_fetch_equals_full_history_backfill(spark, tables, windows):
    path, req = tables
    gb = _gb(path, windows)
    got = _sorted(fetch_group_by(spark, gb, req, BATCH_END, DAY_MS))
    exp = _sorted(group_by_asof_hopped(spark, gb, req, DAY_MS))
    assert len(got) == len(exp) == req.distinct().count()
    assert list(got.columns) == list(exp.columns)
    for col in got.columns:
        g, e = got[col], exp[col]
        if g.dtype.kind == "f" or e.dtype.kind == "f":
            ok = (g.isna() & e.isna()) | np.isclose(g, e, rtol=1e-9, atol=1e-9)
        else:
            ok = g.eq(e) | (g.isna() & e.isna())
        assert ok.all(), (col, got[~ok].head(), exp[~ok].head())

    by_key = got.set_index("k")
    for p in gb.unpack():
        col = p.output_column
        for key in (NO_EVENTS, ONLY_LATER):
            if p.operation in (Operation.COUNT, Operation.UNIQUE_COUNT,
                               Operation.APPROX_UNIQUE_COUNT):
                assert by_key.loc[key, col] == 0, (key, col)
            else:
                assert pd.isna(by_key.loc[key, col]), (key, col)
    count = [p.output_column for p in gb.unpack() if p.operation is Operation.COUNT]
    assert by_key.loc[HEAD_ONLY, count[-1]] == 2
    # its hop's events all follow its ts: the head is empty, and its tail
    # (hops 3 and 6, before its hop 8) is kept
    w = windows[-1].millis // DAY_MS if windows else 8
    assert by_key.loc[LATER_ONLY, count[-1]] == sum(h >= 8 - w for h in (3, 6))


def test_fetch_plan_has_no_window(spark, tables):
    """The read merges per request with one aggregation: no sliding
    frame, and no window at all unless a moment op needs the per-request
    offset, which is a whole-partition frame."""
    path, req = tables
    plain = GroupBy(
        sources=_gb(path, None).sources,
        key_columns=("k",),
        aggregations=(
            Aggregation("v", Operation.COUNT),
            Aggregation("v", Operation.AVERAGE, windows=(Window.days(3),)),
            Aggregation("v", Operation.LAST),
        ),
        name="plain",
    )

    def plan(gb) -> str:
        out = fetch_group_by(spark, gb, req, BATCH_END, DAY_MS)
        return out._jdf.queryExecution().executedPlan().toString()

    assert not re.search(r"\bWindow\b", plan(plain))
    moments = plan(_gb(path, (Window.days(2),)))
    assert "RangeFrame" not in moments


def test_slice_live_hop_cuts_inputs_to_the_live_hop(spark):
    """The semilattice fetches read one hop of events and at most
    ``n_hops`` tail rows per key: ``slice_live_hop`` cuts both inputs
    before the per-request join, and keeps its contract checks."""
    from chronon_spark.plans.upload import COLLAPSED_HOP, slice_live_hop

    hop = 10
    irs = spark.createDataFrame(
        [(1, h) for h in [COLLAPSED_HOP] + list(range(1, 8))], "k long, __hop long"
    )
    events = spark.createDataFrame([(1, t) for t in range(0, 100, 5)], "k long, ts long")
    req = spark.createDataFrame([(1, 81), (1, 89)], "k long, ts long")

    def hops(df, col="__hop"):
        return sorted(r[0] for r in df.select(col).collect())

    tail, live = slice_live_hop(req, irs, events, hop, 3, True)
    assert hops(tail) == [5, 6, 7]
    assert sorted(r[0] for r in live.select("ts").collect()) == [80, 85]
    tail, live = slice_live_hop(req, irs, events, hop, None, True)
    assert hops(tail) == [COLLAPSED_HOP] + list(range(1, 8))
    assert live.count() == 2

    empty = req.where("ts < 0")
    tail, live = slice_live_hop(empty, irs, events, hop, 3, True)
    assert tail.count() == live.count() == 0
    with pytest.raises(ValueError, match="one live hop"):
        slice_live_hop(req.union(req.selectExpr("k", "ts - 10")), irs, events, hop, 3, True)
    late = irs.union(spark.createDataFrame([(1, 8)], "k long, __hop long"))
    with pytest.raises(ValueError, match="at/after the live hop"):
        slice_live_hop(req, late, events, hop, 3, True)
    tail, _ = slice_live_hop(req, late, events, hop, 3, False)
    assert hops(tail) == [5, 6, 7]
