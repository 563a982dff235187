"""SNAPSHOT-accuracy GroupBy: daily feature tables, pure DataFrame plan.

Reference semantics (spark/.../GroupBy.scala:155-179 ``snapshotEvents``):
for every day ``ds`` in the backfill range and every key, aggregate events
with ``ts <= end-of-day(ds)`` and (for windowed parts) within the window
ending at end-of-day. Daily resolution == sawtooth with a 1-day hop
(aggregator/.../windowing/Resolution.scala:50-63).

Spark-first plan (no RDDs, no UDFs — whole-stage codegen end to end):

1. daily partial IRs per (key, day): one ``groupBy(keys, day)`` of
   ``operators.hop_ir``'s update (LAST_K/FIRST_K: ``plans.klist_serving``'s
   k-bounded lists) — Spark does map-side partial aggregation
   automatically,
2. dense (key x day) grid for the backfill range (small dim cross join),
3. window-merge: ``hop_ir.merge`` over
   ``Window.partitionBy(keys).orderBy(day).rowsBetween(-(W-1), 0)`` on the
   dense grid merges day-hop IRs into each window (moments about the
   key's offset from ``hop_ir.with_offsets``) — the hop-reuse idea of the
   reference's HopsAggregator, expressed in Catalyst — and
   ``hop_ir.finalize`` turns them into features, as on the temporal path.

Scale: the only wide exchange is the (key, day) groupBy; the grid join is
broadcast; the window partition is (key), ordered by day — days-per-key is
bounded (range length), so no skew risk beyond the key distribution itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from chronon_spark.api.types import AggregationPart, GroupBy, Operation, TimeUnit
from chronon_spark.operators import hop_ir
from chronon_spark.operators.asof_join import events_df_for_group_by
from chronon_spark.operators.hop_ir import DAY_MS
from chronon_spark.plans.klist_serving import _asc, _entry, _merge
from chronon_spark.sources.scan import TS

# k-list ops ride klist_serving's exact k-bounded lists; the rest are
# hop_ir's scalar IRs
_KLIST_MODES = {Operation.LAST_K: "last_k", Operation.FIRST_K: "first_k"}


def _window_days(part: AggregationPart) -> int | None:
    if part.window is None:
        return None
    if part.window.time_unit is not TimeUnit.DAYS:
        raise ValueError(
            f"SNAPSHOT accuracy requires whole-day windows, got {part.window}"
            " (reference: DailyResolution, Resolution.scala:50-63)"
        )
    return part.window.length


def _day_frame(keys: list, days: int | None) -> W:
    w = W.partitionBy(*keys).orderBy("day_num")
    if days is None:
        return w.rowsBetween(W.unboundedPreceding, 0)
    return w.rowsBetween(-(days - 1), 0)


def _klist_column(p: AggregationPart) -> str:
    return f"__kl_{_KLIST_MODES[p.operation]}{p.k}_{p.input_column}"


def _klist_update(p: AggregationPart) -> Column:
    """A day's k-list of one LAST_K/FIRST_K part: ``klist_serving``'s
    ranked ``(ts, v)`` entries, top-k of the day. Null inputs never update
    the IR (reference DirectColumnAggregator)."""
    mode, v = _KLIST_MODES[p.operation], F.col(p.input_column)
    entries = F.collect_list(F.when(v.isNotNull(), _entry(mode, F.col(TS), v)))
    return _merge(F.array(entries), p.k, asc=_asc(mode))


def snapshot_group_by(
    spark: SparkSession,
    group_by: GroupBy,
    start_ds: str,
    end_ds: str,
) -> DataFrame:
    """One row per (keys, ds) for every ds in [start_ds, end_ds]."""
    if group_by.aggregations is None:
        raise ValueError(
            "no-agg GroupBys (aggregations=None) are SNAPSHOT entity "
            "passthroughs (snapshot_join.snapshot_entities); temporal "
            "accuracy needs explicit aggregations"
        )
    keys = list(group_by.key_columns)
    parts = group_by.unpack()
    if any(p.bucket for p in parts):
        raise NotImplementedError("bucketed snapshot parts: use asof path")

    max_w = max((d for d in (_window_days(p) for p in parts) if d is not None), default=None)

    events = events_df_for_group_by(spark, group_by, None, None)
    # scan narrowing: events after end-of-range never contribute
    end_day_ms = F.unix_date(F.lit(end_ds).cast("date")).cast("long") * DAY_MS + DAY_MS
    events = events.where(F.col(TS) < end_day_ms)
    if max_w is not None and all(p.window is not None for p in parts):
        start_day_ms = F.unix_date(F.lit(start_ds).cast("date")).cast("long") * DAY_MS
        events = events.where(F.col(TS) >= start_day_ms - max_w * DAY_MS)

    from chronon_spark.operators.asof_join import null_out_nans

    events = null_out_nans(events, list({p.input_column for p in parts}))
    ev = events.withColumn("day_num", (F.col(TS) / DAY_MS).cast("long"))

    # ---- level 1: daily partial IRs -------------------------------------
    scalar = [p for p in parts if p.operation not in _KLIST_MODES]
    klists = {_klist_column(p): p for p in parts if p.operation in _KLIST_MODES}
    daily = ev.groupBy(*keys, "day_num").agg(
        *hop_ir.update_aggs(scalar, frame=ev),
        *[_klist_update(p).alias(name) for name, p in klists.items()],
    )

    # ---- dense (key x day) grid ------------------------------------------
    # The grid must reach back far enough that every window frame ending in
    # [start_ds, end_ds] sees all its day-hops: maxW-1 days for windowed
    # parts, back to the first event day for unbounded ones. Output rows
    # before start_ds are dropped at the end.
    import datetime as _dt

    start_day = _dt.date.fromisoformat(start_ds).toordinal() - _dt.date(1970, 1, 1).toordinal()
    if all(p.window is not None for p in parts):
        grid_start = start_day - (max_w - 1)
        first_event_day = daily.agg(F.min("day_num")).first()[0]
        if first_event_day is not None:
            grid_start = max(grid_start, int(first_event_day))
    else:
        first_event_day = daily.agg(F.min("day_num")).first()[0]
        grid_start = min(start_day, int(first_event_day)) if first_event_day is not None else start_day
    days = (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.lit(grid_start).cast("long"),
                    F.unix_date(F.lit(end_ds).cast("date")).cast("long"),
                )
            ).alias("day_num")
        )
    )
    keys_df = daily.select(*keys).distinct()
    grid = keys_df.crossJoin(F.broadcast(days))
    dense = grid.join(daily, on=keys + ["day_num"], how="left")

    # ---- level 2: window-merge over day hops ------------------------------
    dense = hop_ir.with_offsets(dense, keys, hop_ir.moment_inputs(scalar))
    merged = dense.select(
        *keys,
        "day_num",
        *[F.col(f"__k_{c}") for c in hop_ir.moment_inputs(scalar)],
        *[
            hop_ir.merge(kind, c, over=_day_frame(keys, w)).alias(f"i_{kind}_{sfx}")
            for (kind, sfx), (c, w) in hop_ir.windowed_ir_columns(scalar, DAY_MS).items()
        ],
        *[
            _merge(
                F.collect_list(name).over(_day_frame(keys, _window_days(p))),
                p.k,
                asc=_asc(_KLIST_MODES[p.operation]),
            ).alias(name)
            for name, p in klists.items()
        ],
    )
    out_cols: list[Column] = []
    for p in parts:
        if p.operation in _KLIST_MODES:
            vals = F.transform(F.col(_klist_column(p)), lambda e: e["v"])
            out_cols.append(F.when(F.size(vals) > 0, vals).alias(p.output_column))
            continue
        c = p.input_column
        sfx = hop_ir.window_suffix(c, hop_ir.window_hops(p, DAY_MS))
        k = F.col(f"__k_{c}") if "m2" in hop_ir.kinds(p.operation) else None
        out_cols.append(
            hop_ir.finalize(
                p.operation, lambda kind, sfx=sfx: F.col(f"i_{kind}_{sfx}"), k
            ).alias(p.output_column)
        )

    ds_col = F.date_format(F.date_from_unix_date(F.col("day_num").cast("int")), "yyyy-MM-dd")
    return (
        merged.select(*keys, F.col("day_num"), ds_col.alias("ds"), *out_cols)
        .where(F.col("day_num") >= start_day)
        .drop("day_num")
    )
