"""Correctness checks of the benchmark's outputs, run outside the timed region.

Event-GroupBy features are recomputed with ``tests/naive_oracle.py``'s
brute-force scan; entity features by replaying the mutation log over the
previous day's snapshot row by row; external features by a dictionary
lookup. Each check returns a list of mismatch descriptions (empty = correct).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from tests.naive_oracle import naive_asof_features


def same(got, want) -> bool:
    """Equality up to float rounding; None and NaN both mean 'no value'."""
    def empty(v):
        return v is None or (isinstance(v, float) and math.isnan(v))

    if empty(got) or empty(want):
        return empty(got) and empty(want)
    if isinstance(want, (int, float, np.integer, np.floating)):
        return abs(float(got) - float(want)) <= 1e-6 * max(1.0, abs(float(want)))
    return got == want


def compare(rows: pd.DataFrame, expected: dict, prefix: str, where: str) -> list:
    """``rows`` holds one output row per query (in query order);
    ``expected`` maps unprefixed feature name -> list of oracle values."""
    bad = []
    for name, want in expected.items():
        col = f"{prefix}_{name}"
        for got, w, ts in zip(rows[col], want, rows["ts"]):
            if not same(got, w):
                bad.append(f"{where} ts={ts} {col}: got {got!r}, want {w!r}")
    return bad


def check_event_part(out: pd.DataFrame, events: pd.DataFrame, key: str,
                     value, parts: list, prefix: str, hop_ms) -> list:
    """Rows of ``out`` with ``out[key] == value`` against the naive scan of
    that key's events (``ts``, inputs) — sawtooth tails when ``hop_ms``
    is set, exact windows otherwise."""
    rows = out[out[key] == value].sort_values("ts", kind="stable")
    if rows.empty:
        return [f"{key}={value}: no output rows"]
    ev = events[events[key] == value]
    want = naive_asof_features(ev, rows["ts"].to_numpy(), parts, tail_hop_ms=hop_ms)
    return compare(rows, want, prefix, f"{key}={value}")


def entity_expected(snapshot: pd.DataFrame, mutations: pd.DataFrame,
                    domain: str, ts: int) -> dict:
    """The entity part's SUM/COUNT/AVERAGE over the domain's budget rows
    live just before ``ts``: the previous day's snapshot, then that day's
    mutations with ``mutation_ts < ts`` applied in order (before rows
    remove, after rows set)."""
    day = pd.Timestamp(ts, unit="ms").normalize()
    prev_ds = (day - pd.Timedelta(days=1)).strftime("%Y-%m-%d")
    snap = snapshot[(snapshot["domain"] == domain) & (snapshot["ds"] == prev_ds)]
    live = dict(zip(snap["row_id"], snap["budget"]))
    m = mutations[
        (mutations["domain"] == domain)
        & (mutations["ds"] == day.strftime("%Y-%m-%d"))
        & (mutations["mutation_ts"] < ts)
    ].sort_values(["mutation_ts", "is_before"], ascending=[True, False], kind="stable")
    for row_id, budget, before in zip(m["row_id"], m["budget"], m["is_before"]):
        if before:
            live.pop(row_id, None)
        else:
            live[row_id] = budget
    vals = list(live.values())
    return {
        "entity_budget_sum": float(sum(vals)) if vals else None,
        "entity_budget_count": len(vals),
        "entity_budget_average": float(np.mean(vals)) if vals else None,
    }
