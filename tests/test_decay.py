"""decayed_sum_asof: brute-force oracle, leakage, and plan shape."""

import random

import pytest

from chronon_spark.operators.decay import decayed_sum_asof

HL = 1_000
SB = 20


def _brute(events, queries, horizon=SB):
    out = {}
    for qid, k, t in queries:
        bq = t // HL
        s = 0
        for ek, ets, evv in events:
            if ek != k:
                continue
            d = bq - ets // HL
            if d == 0 and ets <= t:
                s += evv << SB
            elif 1 <= d <= horizon:
                s += evv << (SB - d)
        out[qid] = s
    return out


@pytest.fixture(scope="module")
def planted(spark):
    rng = random.Random(11)
    events = [
        (rng.randint(0, 4), rng.randint(0, 20_000), rng.randint(-5, 50))
        for _ in range(500)
    ]
    # adversarial ties: events exactly AT several query timestamps
    queries = [(i, rng.randint(0, 4), rng.randint(0, 20_000)) for i in range(150)]
    for i, (qid, k, t) in enumerate(queries[:20]):
        events.append((k, t, 1000 + i))
    ev = spark.createDataFrame(events, "k long, ts long, v long")
    qr = spark.createDataFrame(queries, "qid long, k long, ts long")
    return events, queries, ev, qr


def test_matches_brute_force(spark, planted):
    events, queries, ev, qr = planted
    got = {
        r["qid"]: r["decayed_q"]
        for r in decayed_sum_asof(ev, qr, "k", "ts", "v", HL, "qid").collect()
    }
    assert got == _brute(events, queries)


def test_inclusive_head_and_zero_leakage(spark):
    # one event exactly at the query ts (counts, full weight), one event
    # 1 ms later in the SAME hop (must contribute nothing), one event a
    # hop earlier (half weight)
    ev = spark.createDataFrame(
        [(1, 5_500, 10), (1, 5_501, 7), (1, 4_900, 8)], "k long, ts long, v long"
    )
    qr = spark.createDataFrame([(0, 1, 5_500)], "qid long, k long, ts long")
    [row] = decayed_sum_asof(ev, qr, "k", "ts", "v", HL, "qid").collect()
    assert row["decayed_q"] == (10 << SB) + (8 << (SB - 1))


def test_horizon_cutoff(spark):
    # an event exactly `horizon` hops back still counts (weight 2^0 = one
    # quantum at horizon == scale_bits); one hop further is dropped
    ev = spark.createDataFrame(
        [(1, 0, 1), (1, HL, 1)], "k long, ts long, v long"
    )
    qr = spark.createDataFrame(
        [(0, 1, HL * (SB + 1) + 5)], "qid long, k long, ts long"
    )
    [row] = decayed_sum_asof(ev, qr, "k", "ts", "v", HL, "qid").collect()
    assert row["decayed_q"] == 1  # only the ts=HL event (d == SB) survives

    with pytest.raises(ValueError):
        decayed_sum_asof(ev, qr, "k", "ts", "v", HL, "qid", horizon=SB + 1)


def test_plan_has_no_python_stages(spark, planted):
    _, _, ev, qr = planted
    plan = decayed_sum_asof(ev, qr, "k", "ts", "v", HL, "qid")._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan  # pure JVM expressions end-to-end
