"""The scalar hop-IR algebra: one (update, merge, shift/recenter,
finalize) per ``Operation`` — the reference's ``SimpleAggregators`` /
``RowAggregator`` written once. Its callers:

- the hopped backfill (``operators.asof_hopped``: hop IRs, tail windows,
  head ⊕ tail finalize),
- the batch upload and tile compaction (``plans.upload.collapse_irs``),
- the streaming tiles (``streaming.stream_groupby.stream_hop_irs`` and
  ``stream_tile_aggregate``),
- the serving read (``plans.fetcher``),
- the mutation replay (``operators.mutations``: snapshot and tail-hop
  updates, the signed same-day deltas, snapshot ⊕ tails ⊕ deltas),
- the SNAPSHOT GroupBy (``operators.snapshot_groupby``: day IRs merged
  over ROWS frames of day hops).

An IR column is ``i_{kind}_{input}``; an operation's kinds are:

- COUNT/SUM/AVERAGE: ``cnt``, ``sum``; VARIANCE adds ``m2``, SKEW ``m2``
  and ``m3``, KURTOSIS ``m2``..``m4`` — central sums about the group's
  OWN mean (Welford-stable, no ``mu^2``-scale cancellation),
- MIN/MAX: ``min``/``max``; LAST/FIRST: ``last``/``first`` — a
  ``(t, v)`` struct ordered by event time,
- UNIQUE_COUNT: ``set`` (exact set union); APPROX_UNIQUE_COUNT: ``hll``.

A merge over a window is named per (input, window in hops) by
:func:`window_suffix`; :func:`windowed_ir_columns` lists those merges.

Central sums of groups with different means do not add. They merge as
sums about a per-key offset ``K`` (column ``__k_{input}``, the key's
overall mean from :func:`with_offsets`): :func:`shift` moves one group's
sums to K, the merge SUMs them, :func:`recenter` moves the total back to
the merged group's own mean. Every term is O(n·sigma^2).

Deletable ops (COUNT/SUM/AVERAGE and the moments) also have a signed
update (``update_aggs(parts, sign)``): each row's contribution times a
sign, the central kinds written directly as sums about a K fixed before
the update (:func:`offset`) — the form the merge produces — so deleting
rows an update added cancels exactly.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from chronon_spark.api.types import Operation
from chronon_spark.sources.scan import TS

DAY_MS = 86_400_000

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


def window_hops(p, hop_ms: int) -> Optional[int]:
    """A part's window in hops (None: unwindowed)."""
    return p.window.millis // hop_ms if p.window is not None else None


def window_suffix(c: str, w_hops: Optional[int]) -> str:
    """Suffix of the IR columns merged over one (input, window in hops)."""
    return f"{c}_w{'all' if w_hops is None else w_hops}"


def windowed_ir_columns(parts: list, hop_ms: int) -> dict:
    """``(kind, window_suffix) -> (input column, window in hops)`` per IR
    column merged over a window, deduped across parts by (input, window)
    in part order: parts that share an input and a window
    (COUNT/SUM/AVERAGE, ...) share one merged IR instead of each merging
    its own. The backfill's tail frames and the serving read's windowed
    merge both iterate it."""
    out: dict = {}
    for p in parts:
        c, w = p.input_column, window_hops(p, hop_ms)
        for kind in kinds(p.operation):
            out.setdefault((kind, window_suffix(c, w)), (c, w))
    return out


def _hll_input(c: str, dtype: Optional[str]) -> Column:
    """The input of an ``hll`` update: ``hll_sketch_agg`` takes INT,
    BIGINT, STRING and BINARY only. Other types map one-to-one onto
    those, keeping the kernel's notion of distinct: -0.0 and 0.0 are one
    floating value, and a boolean counts as 0/1."""
    x = F.col(c)
    if dtype in ("double", "float"):
        return F.when(x == 0, F.lit(0.0).cast(dtype)).otherwise(x).cast("string")
    if dtype is not None and dtype.startswith("decimal"):
        return x.cast("string")
    if dtype in ("boolean", "tinyint", "smallint"):
        return x.cast("int")
    return x


def _update(kind: str, c: str, dtype: Optional[str] = None) -> Column:
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
    return F.hll_sketch_agg(_hll_input(c, dtype))


def update_aggs(
    parts: list, sign: Optional[Column] = None, frame: Optional[DataFrame] = None
) -> list:
    """The update: partial-IR aggregate columns over raw events (the rows
    of ``frame``, whose input types the ``hll`` update needs).

    With ``sign`` (+1 insert, -1 delete; deletable ops only) the update is
    written in offset form: every IR column is a sum of each row's
    contribution times ``sign``, the moment kinds sums about the offset
    ``__k_{input}`` (a column of the rows). Offset-form IRs merge by
    plain sums (``merge(..., offset_form=True)``, :func:`plus`), so a
    delete of rows an update added sums them back out: delete∘update = id.
    """
    if sign is None:
        cols = ir_columns(parts)
        hll = frame is not None and any(k == "hll" for k, _ in cols)
        types = dict(frame.dtypes) if hll else {}
        return [_update(k, c, types.get(c)).alias(f"i_{k}_{c}") for k, c in cols]
    out = []
    for kind, c in ir_columns(parts):
        x = F.col(c).cast("double")
        if kind == "cnt":
            col = F.sum(F.when(F.col(c).isNotNull(), sign).otherwise(F.lit(0)))
        elif kind == "sum":
            col = F.sum(x * sign)
        elif kind in MOMENTS:
            col = F.sum(sign * F.pow(x - F.col(f"__k_{c}"), MOMENTS.index(kind) + 2))
        else:
            raise NotImplementedError(f"the {kind} IR is not deletable")
        out.append(col.alias(f"i_{kind}_{c}"))
    return out


def offset(c: str, over: Optional[W] = None) -> Column:
    """The offset K of an offset-form update, as an aggregate over raw
    rows (with ``over``: as a window over that frame): the group's mean
    of ``c`` rounded to 20 significant bits (0 for a group without
    values). A short K keeps every ``(x - K)^p`` of integer-valued inputs
    exact, so offset-form sums — and a delete cancelling its insert — are
    exact there. K is within 2^-21·|mean| of the mean, so the sums stay
    O(n·sigma^2) while sigma is above ~1e-6 of the mean."""
    mean = F.avg(F.col(c).cast("double"))
    if over is not None:
        mean = mean.over(over)
    ulp = F.pow(F.lit(2.0), F.floor(F.log2(F.abs(mean))) - 20)
    return F.coalesce(F.round(mean / ulp) * ulp, F.lit(0.0))


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


def merge(
    kind: str, c: str, over: Optional[W] = None, offset_form: bool = False
) -> Column:
    """The merge of IR column ``i_{kind}_{c}``: an aggregate, or with
    ``over`` the same merge as a window over that frame. Moment kinds
    merge to sums about ``__k_{c}`` (recenter them after); offset-form
    IRs (a signed :func:`update_aggs`) already are, and just add."""

    def agg(a: Column) -> Column:
        return a if over is None else a.over(over)

    ir = F.col(f"i_{kind}_{c}")
    if kind in ("cnt", "sum") or (offset_form and kind in MOMENTS):
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


def plus(kind: str, a: Column, b: Column) -> Column:
    """Two IR values of one kind merged row-wise (null: empty side) —
    moment kinds must both be sums about the same offset K."""
    if kind in ("cnt", "sum") or kind in MOMENTS:
        zero = F.lit(0) if kind == "cnt" else F.lit(0.0)
        return F.coalesce(a, zero) + F.coalesce(b, zero)
    if kind in ("min", "first"):
        return F.least(a, b)
    if kind in ("max", "last"):
        return F.greatest(a, b)
    a, b = F.coalesce(a, b), F.coalesce(b, a)
    if kind == "set":
        return F.array_distinct(F.array_union(a, b))
    return F.hll_union(a, b, True)


def finalize(
    op: Operation, ir: Callable[[str], Column], k: Optional[Column] = None
) -> Column:
    """Merged IR -> feature value: the one finalize of the backfill's
    head ⊕ tail combine and the serving read. ``ir(kind)`` is the merged
    IR column of that kind (null: nothing merged); moment kinds hold sums
    about the offset ``k``, recentered here. Empty windows give 0 for the
    counting ops and null for everything else (the kernel's rule)."""
    if op in MOMENT_OPS:
        n = F.coalesce(ir("cnt"), F.lit(0))
        s = F.when(n > 0, ir("sum"))
        if op is Operation.COUNT:
            return n
        if op is Operation.SUM:
            return s
        if op is Operation.AVERAGE:
            return s / n
        own = kinds(op)
        m2, m3, m4 = recenter(
            n, s, *[ir(m) if m in own else None for m in MOMENTS], k
        )
        m2bar = m2 / n
        if op is Operation.VARIANCE:
            return F.when(n > 0, F.greatest(m2bar, F.lit(0.0)))
        val = (
            (m3 / n) / F.pow(m2bar, 1.5)
            if op is Operation.SKEW
            else (m4 / n) / F.pow(m2bar, 2.0) - 3.0
        )
        # population skew / excess kurtosis: defined for n > 1 and m2 > 0
        return F.when((n > 1) & (m2bar > 0), val)
    kind = _KIND[op]
    if kind in ("min", "max"):
        return ir(kind)
    if kind in ("last", "first"):
        return ir(kind)["v"]
    if kind == "set":
        return F.when(ir(kind).isNull(), F.lit(0)).otherwise(F.size(ir(kind))).cast("long")
    return F.coalesce(F.hll_sketch_estimate(ir(kind)), F.lit(0).cast("long"))
