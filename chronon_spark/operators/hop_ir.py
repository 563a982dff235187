"""The scalar hop-IR algebra: one (update, merge, shift/recenter) per
``Operation``, shared by the hopped backfill (hop IRs, tail windows,
head ⊕ tail finalize), the batch upload and tile compaction
(``plans.upload.collapse_irs``) and the streaming tiles
(``streaming.stream_groupby.stream_hop_irs``) — the reference's
``SimpleAggregators`` / ``RowAggregator`` written once.

An IR column is ``i_{kind}_{input}``; an operation's kinds are:

- COUNT/SUM/AVERAGE: ``cnt``, ``sum``; VARIANCE adds ``m2``, SKEW ``m2``
  and ``m3``, KURTOSIS ``m2``..``m4`` — central sums about the group's
  OWN mean (Welford-stable, no ``mu^2``-scale cancellation),
- MIN/MAX: ``min``/``max``; LAST/FIRST: ``last``/``first`` — a
  ``(t, v)`` struct ordered by event time,
- UNIQUE_COUNT: ``set`` (exact set union); APPROX_UNIQUE_COUNT: ``hll``.

Central sums of groups with different means do not add. They merge as
sums about a per-key offset ``K`` (column ``__k_{input}``, the key's
overall mean from :func:`with_offsets`): :func:`shift` moves one group's
sums to K, the merge SUMs them, :func:`recenter` moves the total back to
the merged group's own mean. Every term is O(n·sigma^2).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from chronon_spark.api.types import Operation
from chronon_spark.sources.scan import TS

# ops whose IRs are (count, sum[, higher central sums])
MOMENT_OPS = (
    Operation.COUNT,
    Operation.SUM,
    Operation.AVERAGE,
    Operation.VARIANCE,
    Operation.SKEW,
    Operation.KURTOSIS,
)
_ORDER = {Operation.VARIANCE: 2, Operation.SKEW: 3, Operation.KURTOSIS: 4}
MOMENTS = ("m2", "m3", "m4")
_KIND = {
    Operation.MIN: "min",
    Operation.MAX: "max",
    Operation.LAST: "last",
    Operation.FIRST: "first",
    Operation.UNIQUE_COUNT: "set",
    Operation.APPROX_UNIQUE_COUNT: "hll",
}


def kinds(op: Operation) -> tuple:
    """The IR column kinds of one operation, in update order."""
    if op in MOMENT_OPS:
        return ("cnt", "sum") + MOMENTS[: max(0, _ORDER.get(op, 0) - 1)]
    if op in _KIND:
        return (_KIND[op],)
    raise NotImplementedError(op)


def ir_columns(parts: list) -> list:
    """``(kind, input column)`` per IR column, deduped in part order."""
    return list(
        dict.fromkeys(
            (k, p.input_column) for p in parts for k in kinds(p.operation)
        )
    )


def moment_inputs(parts: list) -> list:
    """Input columns that carry central sums (need an offset K)."""
    return sorted({c for k, c in ir_columns(parts) if k == "m2"})


def _update(kind: str, c: str) -> Column:
    x = F.col(c).cast("double")
    if kind == "cnt":
        return F.count(c)
    if kind == "sum":
        return F.sum(x)
    if kind == "m2":
        # var_pop is Welford-based in Catalyst — numerically stable,
        # unlike raw sum(x^2)
        return F.var_pop(x) * F.count(c)
    if kind in ("m3", "m4"):
        # from Catalyst's stable central-moment aggregates:
        # M3 = skew * m2bar^1.5 * n, M4 = (excess_kurt + 3) * m2bar^2 * n;
        # both are exactly 0 for constant groups (m2bar = 0), where the
        # quotient forms go NaN — hence the guard
        m2bar = F.var_pop(x)
        val = (
            F.skewness(x) * F.pow(m2bar, 1.5)
            if kind == "m3"
            else (F.kurtosis(x) + 3.0) * F.pow(m2bar, 2.0)
        )
        return F.coalesce(F.when(m2bar > 0, val * F.count(c)), F.lit(0.0))
    if kind == "min":
        return F.min(x)
    if kind == "max":
        return F.max(x)
    if kind in ("last", "first"):
        by = F.max_by if kind == "last" else F.min_by
        return by(
            F.struct(F.col(TS).alias("t"), F.col(c).alias("v")),
            F.when(F.col(c).isNotNull(), F.col(TS)),
        )
    if kind == "set":
        return F.collect_set(c)
    return F.hll_sketch_agg(c)


def update_aggs(parts: list) -> list:
    """The update: partial-IR aggregate columns over raw events."""
    return [_update(k, c).alias(f"i_{k}_{c}") for k, c in ir_columns(parts)]


def shift(
    n: Column,
    s: Column,
    m2: Column,
    m3: Optional[Column],
    m4: Optional[Column],
    k: Column,
) -> tuple:
    """One group's central sums -> sums about the offset ``k``
    (d = mean - k; null for an empty group, so its terms drop out of a SUM):
    S2 = M2 + n d², S3 = M3 + 3 d M2 + n d³,
    S4 = M4 + 4 d M3 + 6 d² M2 + n d⁴. ``m3``/``m4`` may be None."""
    d = F.when(n > 0, s / n - k)
    s2 = m2 + n * F.pow(d, 2)
    s3 = None if m3 is None else m3 + 3 * d * m2 + n * F.pow(d, 3)
    s4 = (
        None
        if m4 is None
        else m4 + 4 * d * m3 + 6 * F.pow(d, 2) * m2 + n * F.pow(d, 4)
    )
    return s2, s3, s4


def recenter(
    n: Column,
    s: Column,
    s2: Column,
    s3: Optional[Column],
    s4: Optional[Column],
    k: Column,
) -> tuple:
    """Sums about ``k`` -> central sums about the group's own mean
    (delta = S/N - K): M2 = S2 - N δ², M3 = S3 - 3 δ S2 + 2 N δ³,
    M4 = S4 - 4 δ S3 + 6 δ² S2 - 3 N δ⁴. ``s3``/``s4`` may be None."""
    delta = s / n - k
    m2 = s2 - n * F.pow(delta, 2)
    m3 = None if s3 is None else s3 - 3 * delta * s2 + 2 * n * F.pow(delta, 3)
    m4 = (
        None
        if s4 is None
        else s4
        - 4 * delta * s3
        + 6 * F.pow(delta, 2) * s2
        - 3 * n * F.pow(delta, 4)
    )
    return m2, m3, m4


def with_offsets(df: DataFrame, keys: list, inputs: list) -> DataFrame:
    """``__k_{c}`` per input: the key's overall mean over the IR rows of
    ``df`` (a full-partition window — it rides the shuffle on ``keys``
    that the merge needs anyway)."""
    wk = W.partitionBy(*keys).rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    for c in inputs:
        df = df.withColumn(
            f"__k_{c}", F.sum(f"i_sum_{c}").over(wk) / F.sum(f"i_cnt_{c}").over(wk)
        )
    return df


def merge(kind: str, c: str, over: Optional[W] = None) -> Column:
    """The merge of IR column ``i_{kind}_{c}``: an aggregate, or with
    ``over`` the same merge as a window over that frame. Moment kinds
    merge to sums about ``__k_{c}`` (recenter them after)."""

    def agg(a: Column) -> Column:
        return a if over is None else a.over(over)

    ir = F.col(f"i_{kind}_{c}")
    if kind in ("cnt", "sum"):
        return agg(F.sum(ir))
    if kind in MOMENTS:
        i = MOMENTS.index(kind)
        ms = [F.col(f"i_{m}_{c}") if j <= i else None for j, m in enumerate(MOMENTS)]
        n, s = F.col(f"i_cnt_{c}"), F.col(f"i_sum_{c}")
        return agg(F.sum(shift(n, s, *ms, F.col(f"__k_{c}"))[i]))
    if kind in ("min", "first"):
        return agg(F.min(ir))
    if kind in ("max", "last"):
        return agg(F.max(ir))
    if kind == "set":
        return F.array_distinct(F.flatten(agg(F.collect_list(ir))))
    return agg(F.hll_union_agg(ir))
