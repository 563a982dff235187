"""Property test for the compaction algebra: folding any prefix collapse
plus a tile slice must equal the one-shot collapse — i.e. collapse_irs
is associative over arbitrary batch-end splits, including the shifted
central-moment re-merge (2nd to 4th order: VARIANCE, SKEW, KURTOSIS) of
an already-collapsed row. Adversarial draws: duplicate timestamps, null
values, keys missing from one side of the split, empty slices."""

import numpy as np
from hypothesis import HealthCheck, given, settings, strategies as st

from chronon_spark.api.types import (
    Aggregation,
    EventSource,
    GroupBy,
    Operation,
    Query,
    Window,
)
from chronon_spark.operators.asof_hopped import hop_irs_for
from chronon_spark.plans.upload import _tail_start_hop, collapse_irs

HOP_MS = 3_600_000  # 1 hour
N_HOPS = 12


def _gb():
    return GroupBy(
        sources=(
            EventSource(table="unused", query=Query(selects={}, time_column="ts")),
        ),
        key_columns=("k",),
        aggregations=(
            Aggregation("v", Operation.SUM, windows=(Window.hours(4),)),
            Aggregation("v", Operation.COUNT),
            Aggregation("v", Operation.VARIANCE),
            Aggregation("v", Operation.SKEW, windows=(Window.hours(4),)),
            Aggregation("v", Operation.KURTOSIS),
            Aggregation("v", Operation.LAST),
            Aggregation("v", Operation.MIN),
            Aggregation("v", Operation.UNIQUE_COUNT, windows=(Window.hours(4),)),
        ),
        name="hyp_compaction",
    )


@st.composite
def scenario(draw):
    n = draw(st.integers(0, 25))
    rows = [
        (
            draw(st.sampled_from(["a", "b", "c"])),
            draw(st.integers(0, N_HOPS * HOP_MS - 1)),
            draw(st.one_of(st.none(), st.integers(-5, 5))),
        )
        for _ in range(n)
    ]
    t0 = draw(st.integers(1, N_HOPS - 1))
    t1 = draw(st.integers(t0, N_HOPS))
    return rows, t0 * HOP_MS, t1 * HOP_MS


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(scenario())
def test_split_collapse_equals_one_shot(spark, case):
    rows, t0_ms, t1_ms = case
    gb = _gb()
    parts = [p for p in gb.unpack() if p.bucket is None]
    keys = ["k"]
    ev = spark.createDataFrame(
        rows, schema="k string, ts long, v long"
    ).repartition(3)

    def upload_at(end_ms):
        irs = hop_irs_for(ev.where(f"ts < {end_ms}"), gb, HOP_MS)
        return collapse_irs(irs, keys, parts, _tail_start_hop(parts, end_ms, HOP_MS))

    tiles = hop_irs_for(
        ev.where(f"ts >= {t0_ms} AND ts < {t1_ms}"), gb, HOP_MS
    )
    got = collapse_irs(
        upload_at(t0_ms).unionByName(tiles),
        keys, parts, _tail_start_hop(parts, t1_ms, HOP_MS),
    )
    exp = upload_at(t1_ms)

    cols = sorted(got.columns)
    assert cols == sorted(exp.columns)
    g = got.select(cols).orderBy("k", "__hop").toPandas()
    e = exp.select(cols).orderBy("k", "__hop").toPandas()
    assert len(g) == len(e)
    for c in cols:
        if c.startswith("i_set"):
            assert (
                g[c].map(lambda s: tuple(sorted(s)))
                == e[c].map(lambda s: tuple(sorted(s)))
            ).all(), c
        elif c.startswith(("i_m2", "i_m3", "i_m4")):
            assert np.allclose(
                g[c].astype(float).fillna(-1), e[c].astype(float).fillna(-1)
            ), c
        else:
            assert (g[c].fillna(-1) == e[c].fillna(-1)).all(), c
