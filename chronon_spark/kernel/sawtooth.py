"""The point-in-time windowed-aggregation kernel (numpy-vectorized).

Computes, for one key group, every AggregationPart at every query timestamp.
Runs inside cogrouped ``applyInPandas`` — Arrow batches in, Arrow batches
out, no per-row Python in the Spark plan.

Semantics reproduced from the reference's sawtooth engine
(aggregator/.../windowing/SawtoothAggregator.scala:28-44,
HopsAggregator.scala:150-159, SawtoothMutationAggregator.scala:117-133),
re-expressed as vectorized prefix computations instead of per-row mutable
IRs:

Window-boundary convention (pinned; see SURVEY.md §7):
- head: event contributes iff ``event_ts <= query_ts`` (inclusive head, per
  the reference's batch ``cumulate`` exact-match branch,
  SawtoothAggregator.scala:129-137),
- tail, exact mode (``tail_hop=None``): ``event_ts > query_ts - window``
  (half-open (q-W, q]),
- tail, sawtooth mode: ``event_ts >= round_down(query_ts - window,
  tail_hop)`` — the reference's hopping tail
  (SawtoothMutationAggregator.scala:117-133, Resolution.scala:38-48).

Exact mode is the default: with full event history resident per key group,
exact sliding windows cost the same as sawtooth here (prefix aggregates
answer any [lo, hi) range in O(1)), so we keep the reference's sawtooth
rounding only as an opt-in compatibility mode.

The "IR" idea (§1.4 of SURVEY.md) appears as:
- prefix-sum arrays  == running merged IRs for subtractable ops
  (count/sum/average/variance/skew/kurtosis),
- sparse tables       == precomputed hop-merge trees for min/max,
- valid-index arrays  == (ts, value) IRs for first/last,
- slice + nlargest    == truncated-sorted-list IRs for *_k ops.

Null semantics follow the reference (DirectColumnAggregator.scala:48-59):
null inputs never update an IR; empty windows finalize to null (count: 0);
NaN/Inf finalize to null.
"""

from __future__ import annotations

from collections import Counter
from typing import Optional

import numpy as np
import pandas as pd

from chronon_spark.api.types import AggregationPart, Operation


def _round_down(ts: np.ndarray, hop: int) -> np.ndarray:
    return (ts // hop) * hop


def _bounds(
    e_ts: np.ndarray, q_ts: np.ndarray, window_ms: Optional[int], tail_hop: Optional[int]
) -> tuple[np.ndarray, np.ndarray]:
    """Per-query [lo, hi) index range into the ts-sorted event arrays."""
    hi = np.searchsorted(e_ts, q_ts, side="right")
    if window_ms is None:
        lo = np.zeros(len(q_ts), dtype=np.int64)
    elif tail_hop is None:
        lo = np.searchsorted(e_ts, q_ts - window_ms, side="right")
    else:
        lo = np.searchsorted(e_ts, _round_down(q_ts - window_ms, tail_hop), side="left")
    return lo, hi


class _SparseTable:
    """O(n log n) build, O(1) vectorized range min/max queries."""

    def __init__(self, vals: np.ndarray, is_max: bool):
        fill = -np.inf if is_max else np.inf
        v = np.where(np.isnan(vals), fill, vals)
        self.is_max = is_max
        self.levels = [v]
        n = len(v)
        size = 1
        op = np.maximum if is_max else np.minimum
        while 2 * size <= n:
            prev = self.levels[-1]
            self.levels.append(op(prev[: n - 2 * size + 1], prev[size : n - size + 1]))
            size *= 2

    def query(self, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
        """Range-reduce over [lo, hi); empty ranges -> nan."""
        out = np.full(len(lo), np.nan)
        length = hi - lo
        nonempty = length > 0
        if not nonempty.any():
            return out
        j = np.zeros(len(lo), dtype=np.int64)
        j[nonempty] = np.floor(np.log2(length[nonempty])).astype(np.int64)
        op = np.maximum if self.is_max else np.minimum
        for level in np.unique(j[nonempty]):
            mask = nonempty & (j == level)
            tbl = self.levels[level]
            a = tbl[lo[mask]]
            b = tbl[hi[mask] - (1 << int(level))]
            res = op(a, b)
            res = np.where(np.isinf(res), np.nan, res)
            out[mask] = res
        return out


def _prefix(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(prefix-sum with nulls as 0, prefix non-null count)."""
    notnull = ~np.isnan(vals)
    psum = np.concatenate([[0.0], np.cumsum(np.where(notnull, vals, 0.0))])
    pcnt = np.concatenate([[0], np.cumsum(notnull.astype(np.int64))])
    return psum, pcnt


def _numeric(col: pd.Series) -> np.ndarray:
    return pd.to_numeric(col, errors="coerce").astype(np.float64).to_numpy()


def _nan_to_none(arr: np.ndarray) -> list:
    return [None if (v is None or (isinstance(v, float) and np.isnan(v))) else float(v) for v in arr]


class _EventIndex:
    """Shared per-column precomputations over one key group's sorted events."""

    def __init__(self, events: pd.DataFrame):
        self.events = events
        self.e_ts = events["ts"].to_numpy(dtype=np.int64)
        self._numeric_cache: dict = {}
        self._prefix_cache: dict = {}
        self._sparse_cache: dict = {}
        self._valid_cache: dict = {}
        self._moment_cache: dict = {}
        self._shift_cache: dict = {}

    def numeric(self, col: str) -> np.ndarray:
        if col not in self._numeric_cache:
            self._numeric_cache[col] = _numeric(self.events[col])
        return self._numeric_cache[col]

    def prefix(self, col: str):
        if col not in self._prefix_cache:
            self._prefix_cache[col] = _prefix(self.numeric(col))
        return self._prefix_cache[col]

    def shift(self, col: str) -> float:
        """Per-group offset for moment computations: the column's minimum
        finite value. Central/standardized moments (variance, skew,
        kurtosis) are shift-invariant, and subtracting the minimum before
        powering avoids the catastrophic cancellation of sum(x^p) at
        mu >> sigma magnitudes. An integer offset (e.g. cents-quantized
        inputs) keeps shifted power sums exact in doubles."""
        if col not in self._shift_cache:
            v = self.numeric(col)
            m = np.nanmin(v) if (~np.isnan(v)).any() else 0.0
            self._shift_cache[col] = float(m)
        return self._shift_cache[col]

    def moments(self, col: str, power: int) -> np.ndarray:
        """Prefix sums of (x - shift)^power over non-null values."""
        key = (col, power)
        if key not in self._moment_cache:
            v = self.numeric(col) - self.shift(col)
            notnull = ~np.isnan(v)
            self._moment_cache[key] = np.concatenate(
                [[0.0], np.cumsum(np.where(notnull, v, 0.0) ** power)]
            )
        return self._moment_cache[key]

    def sparse(self, col: str, is_max: bool) -> _SparseTable:
        key = (col, is_max)
        if key not in self._sparse_cache:
            self._sparse_cache[key] = _SparseTable(self.numeric(col), is_max)
        return self._sparse_cache[key]

    def valid_idx(self, col: str) -> np.ndarray:
        """Sorted indices of non-null values in ``col``."""
        if col not in self._valid_cache:
            s = self.events[col]
            self._valid_cache[col] = np.flatnonzero(s.notna().to_numpy())
        return self._valid_cache[col]

    def objects(self, col: str) -> np.ndarray:
        return self.events[col].to_numpy(dtype=object)


def _distinct_counts(
    objs: np.ndarray, valid: np.ndarray, lo_p: np.ndarray, hi_p: np.ndarray
) -> list:
    """Distinct non-null values per [lo_p, hi_p) window slice.

    compute_asof_features sorts queries by ts, so both bounds are
    nondecreasing and a two-pointer sweep answers every query in O(n + q)
    dict operations total — vs the naive per-query set() rebuild that is
    O(n * q) (a hot key with 1e5 events x 1e4 queries is 1e9 set-inserts).
    Values are pre-factorized to int codes so the sweep touches numpy
    ints, never the (possibly unhashable-cost) objects themselves.
    """
    nq = len(lo_p)
    m = len(valid)
    if m == 0:
        return [0] * nq
    codes, _ = pd.factorize(pd.Series(objs[valid]), use_na_sentinel=False)
    mono = bool(np.all(np.diff(lo_p) >= 0) and np.all(np.diff(hi_p) >= 0))
    if not mono:  # defensive: callers pass ts-sorted queries
        return [int(len(set(codes[lo_p[i] : hi_p[i]].tolist()))) for i in range(nq)]
    # prev[k] = last position < k holding the same value (-1 if none):
    # stable-sort by code, then equal-code neighbors in sort order are
    # consecutive occurrences in position order.
    order = np.argsort(codes, kind="stable")
    sc = codes[order]
    prev = np.full(m, -1, dtype=np.int64)
    same = sc[1:] == sc[:-1]
    prev[order[1:][same]] = order[:-1][same]
    # distinct(lo, hi) counts positions k in [lo, hi) whose prev is outside
    # the window (prev[k] < lo). With lo_p and hi_p both nondecreasing, the
    # queries that count position k form ONE contiguous index run:
    #   k < hi_i        -> i >= first index with hi > k
    #   lo_i <= k       -> i <= last index with lo <= k
    #   prev[k] < lo_i  -> i >  last index with lo <= prev[k]
    # so each k adds +1 over [start_k, end_k], accumulated by a difference
    # array — fully vectorized, O((n + q) log q).
    ks = np.arange(m, dtype=np.int64)
    first_hi = np.searchsorted(hi_p, ks, side="right")
    last_lo = np.searchsorted(lo_p, ks, side="right") - 1
    last_prev = np.searchsorted(lo_p, prev, side="right") - 1
    start = np.maximum(first_hi, last_prev + 1)
    end = last_lo
    ok = start <= end
    diff = np.zeros(nq + 1, dtype=np.int64)
    np.add.at(diff, start[ok], 1)
    np.add.at(diff, end[ok] + 1, -1)
    return np.cumsum(diff)[:nq].tolist()


def _compute_unbucketed(
    idx: _EventIndex, part: AggregationPart, lo: np.ndarray, hi: np.ndarray
) -> list:
    """One part at every query; returns a python list (None = null)."""
    op = part.operation
    col = part.input_column
    nq = len(lo)

    if op in (Operation.COUNT, Operation.SUM, Operation.AVERAGE, Operation.VARIANCE):
        psum, pcnt = idx.prefix(col)
        c = pcnt[hi] - pcnt[lo]
        if op is Operation.COUNT:
            return c.tolist()
        s = psum[hi] - psum[lo]
        if op is Operation.SUM:
            return [float(x) if n > 0 else None for x, n in zip(s, c)]
        if op is Operation.AVERAGE:
            with np.errstate(invalid="ignore", divide="ignore"):
                return _nan_to_none(np.where(c > 0, s / np.maximum(c, 1), np.nan))
        # VARIANCE (population, matches Spark var_pop / reference Welford).
        # Shift-invariant: computed over (x - min) power sums (see
        # _EventIndex.moments) so large-magnitude low-variance columns
        # don't cancel catastrophically.
        p1 = idx.moments(col, 1)
        psq = idx.moments(col, 2)
        s_sh = p1[hi] - p1[lo]
        ssq = psq[hi] - psq[lo]
        with np.errstate(invalid="ignore", divide="ignore"):
            cc = np.maximum(c, 1)
            var = ssq / cc - (s_sh / cc) ** 2
            var = np.maximum(var, 0.0)  # clamp fp negatives
            return _nan_to_none(np.where(c > 0, var, np.nan))

    if op in (Operation.SKEW, Operation.KURTOSIS):
        # standardized central moments are shift-invariant — use the
        # shifted power sums throughout (same offset for s1..s4)
        _, pcnt = idx.prefix(col)
        p1, p2, p3 = idx.moments(col, 1), idx.moments(col, 2), idx.moments(col, 3)
        c = (pcnt[hi] - pcnt[lo]).astype(np.float64)
        s1 = p1[hi] - p1[lo]
        s2 = p2[hi] - p2[lo]
        s3 = p3[hi] - p3[lo]
        with np.errstate(invalid="ignore", divide="ignore"):
            cc = np.maximum(c, 1)
            mean = s1 / cc
            m2 = s2 / cc - mean**2
            m3 = s3 / cc - 3 * mean * s2 / cc + 2 * mean**3
            if op is Operation.SKEW:
                res = m3 / np.power(np.maximum(m2, 0), 1.5)
            else:
                p4 = idx.moments(col, 4)
                s4 = p4[hi] - p4[lo]
                m4 = s4 / cc - 4 * mean * s3 / cc + 6 * mean**2 * s2 / cc - 3 * mean**4
                res = m4 / np.maximum(m2, 0) ** 2 - 3.0
            res = np.where((c > 1) & (m2 > 0), res, np.nan)
            return _nan_to_none(res)

    if op in (Operation.MIN, Operation.MAX):
        st = idx.sparse(col, is_max=(op is Operation.MAX))
        return _nan_to_none(st.query(lo, hi))

    if op in (Operation.FIRST, Operation.LAST):
        valid = idx.valid_idx(col)
        objs = idx.objects(col)
        out = [None] * nq
        if op is Operation.LAST:
            pos = np.searchsorted(valid, hi, side="left") - 1
            for i in range(nq):
                if pos[i] >= 0 and valid[pos[i]] >= lo[i]:
                    out[i] = objs[valid[pos[i]]]
        else:
            pos = np.searchsorted(valid, lo, side="left")
            for i in range(nq):
                if pos[i] < len(valid) and valid[pos[i]] < hi[i]:
                    out[i] = objs[valid[pos[i]]]
        return out

    # Collection / per-window-slice ops below. These iterate per query but
    # each iteration is a numpy slice — this is the truncated-sorted-list IR.
    valid = idx.valid_idx(col)
    objs = idx.objects(col)
    lo_p = np.searchsorted(valid, lo, side="left")
    hi_p = np.searchsorted(valid, hi, side="left")
    k = part.k

    if op in (Operation.LAST_K, Operation.FIRST_K):
        out = []
        for i in range(len(lo)):
            w = valid[lo_p[i] : hi_p[i]]
            if len(w) == 0:
                out.append(None)
            elif op is Operation.LAST_K:
                out.append([objs[j] for j in w[-k:][::-1]])  # most-recent first
            else:
                out.append([objs[j] for j in w[:k]])
        return out

    if op in (Operation.TOP_K, Operation.BOTTOM_K):
        vals = idx.numeric(col)
        out = []
        for i in range(len(lo)):
            w = valid[lo_p[i] : hi_p[i]]
            if len(w) == 0:
                out.append(None)
                continue
            wv = vals[w]
            order = np.argsort(-wv if op is Operation.TOP_K else wv, kind="stable")[:k]
            out.append([float(x) for x in wv[order]])
        return out

    if op in (Operation.UNIQUE_COUNT, Operation.APPROX_UNIQUE_COUNT):
        return _distinct_counts(objs, valid, lo_p, hi_p)

    if op is Operation.APPROX_PERCENTILE:
        vals = idx.numeric(col)
        ps = part.percentiles
        out = []
        for i in range(len(lo)):
            w = valid[lo_p[i] : hi_p[i]]
            if len(w) == 0:
                out.append(None)
            else:
                q = np.quantile(vals[w], ps, method="linear")
                out.append([float(x) for x in q])
        return out

    if op is Operation.HISTOGRAM:
        trunc = part.arg_map.get("k")
        strs = np.array([str(objs[j]) for j in valid], dtype=object)
        codes, uniques = pd.factorize(pd.Series(strs), use_na_sentinel=False)
        V = len(uniques)
        # small categorical domain (the histogram norm): per-code prefix
        # counts answer any [lo, hi) window in O(V) instead of rebuilding
        # a Counter over the window slice (O(window)) — the HISTOGRAM
        # analogue of the UNIQUE_COUNT vectorization. Truncated (k)
        # histograms keep the Counter path: most_common's tie-break is
        # first-seen-IN-WINDOW order, which a global prefix cannot see.
        # The (n+1) x V prefix matrix is memory-bounded (<= ~64 MB).
        if trunc is None and 0 < V <= 256 and (len(valid) + 1) * V <= 16_000_000:
            onehot = np.zeros((len(codes), V), dtype=np.int32)
            onehot[np.arange(len(codes)), codes] = 1
            prefix = np.concatenate(
                [np.zeros((1, V), dtype=np.int32), np.cumsum(onehot, axis=0, dtype=np.int32)]
            )
            win_counts = prefix[hi_p] - prefix[lo_p]  # (nq, V)
            names = [str(u) for u in uniques]
            out = []
            for i in range(nq):
                row = win_counts[i]
                nz = np.flatnonzero(row)
                if len(nz) == 0:
                    out.append(None)
                    continue
                out.append({names[v]: int(row[v]) for v in nz})
            return out
        out = []
        for i in range(len(lo)):
            w = valid[lo_p[i] : hi_p[i]]
            if len(w) == 0:
                out.append(None)
                continue
            counts = Counter(str(objs[j]) for j in w)
            if trunc:
                counts = dict(counts.most_common(int(trunc)))
            out.append({s: int(n) for s, n in counts.items()})
        return out

    if op in (Operation.APPROX_FREQUENT_K, Operation.APPROX_HEAVY_HITTERS_K):
        out = []
        for i in range(len(lo)):
            w = valid[lo_p[i] : hi_p[i]]
            if len(w) == 0:
                out.append(None)
                continue
            counts = Counter(str(objs[j]) for j in w)
            if op is Operation.APPROX_HEAVY_HITTERS_K:
                thresh = len(w) / (k + 1)
                items = [(s, n) for s, n in counts.most_common(k) if n > thresh]
            else:
                items = counts.most_common(k)
            out.append({s: int(n) for s, n in items})
        return out

    if op is Operation.UNIQUE_TOP_K:
        vals = idx.numeric(col)
        out = []
        for i in range(len(lo)):
            w = valid[lo_p[i] : hi_p[i]]
            if len(w) == 0:
                out.append(None)
                continue
            uniq = np.unique(vals[w])[::-1][:k]
            out.append([float(x) for x in uniq])
        return out

    raise NotImplementedError(f"operation {op} not implemented in kernel")


def compute_asof_features(
    events: pd.DataFrame,
    query_ts: np.ndarray,
    parts: list[AggregationPart],
    tail_hop_ms: Optional[int] = None,
) -> dict[str, list]:
    """Compute every part at every query timestamp for ONE key group.

    ``events``: pandas DataFrame with ``ts`` (int64 epoch millis) + input
    columns, any order. ``query_ts``: int64 array, any order. Returns
    ``{output_column: list aligned to query_ts}``.
    """
    nq = len(query_ts)
    if nq == 0:
        return {}
    if events is None or len(events) == 0:
        # must match the empty-WINDOW semantics of the non-empty path:
        # counts are 0, everything else null (reference count IR starts at 0)
        def empty_value(p):
            if p.bucket is not None:
                return None
            if p.operation in (
                Operation.COUNT,
                Operation.UNIQUE_COUNT,
                Operation.APPROX_UNIQUE_COUNT,
            ):
                return 0
            return None

        return {p.output_column: [empty_value(p)] * nq for p in parts}

    ev = events.sort_values("ts", kind="stable").reset_index(drop=True)
    q_ts = np.asarray(query_ts, dtype=np.int64)
    q_order = np.argsort(q_ts, kind="stable")
    q_sorted = q_ts[q_order]
    inv = np.empty(nq, dtype=np.int64)
    inv[q_order] = np.arange(nq)

    # Group parts by bucket: bucketed parts re-run the kernel per bucket
    # value and assemble map outputs (reference: BucketedColumnAggregator).
    out: dict[str, list] = {}
    plain = [p for p in parts if p.bucket is None]
    bucketed = [p for p in parts if p.bucket is not None]

    if plain:
        idx = _EventIndex(ev)
        bounds_cache: dict = {}
        for p in plain:
            key = (p.window.millis if p.window else None,)
            if key not in bounds_cache:
                bounds_cache[key] = _bounds(idx.e_ts, q_sorted, key[0], tail_hop_ms)
            lo, hi = bounds_cache[key]
            res = _compute_unbucketed(idx, p, lo, hi)
            out[p.output_column] = [res[inv[i]] for i in range(nq)]

    for p in bucketed:
        bcol = p.bucket
        per_query_maps: list[dict] = [dict() for _ in range(nq)]
        for bval, grp in ev.groupby(bcol, dropna=True, sort=True):
            gidx = _EventIndex(grp.reset_index(drop=True))
            lo, hi = _bounds(gidx.e_ts, q_sorted, p.window.millis if p.window else None, tail_hop_ms)
            res = _compute_unbucketed(gidx, p, lo, hi)
            zero_is_empty = p.operation in (
                Operation.COUNT,
                Operation.UNIQUE_COUNT,
                Operation.APPROX_UNIQUE_COUNT,
            )
            for i in range(nq):
                v = res[inv[i]]
                if v is not None and not (zero_is_empty and v == 0):
                    per_query_maps[i][str(bval)] = v
        out[p.output_column] = [m if m else None for m in per_query_maps]

    return out
