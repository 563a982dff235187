"""K-list features (LAST_K / TOP_K) on the lambda/tiled serving path.

Reference parity: the reference serves its K-type operations online
because the GroupBy IRs carry bounded item sketches end-to-end
(aggregator TopK/LastK IRs; FetcherUniqueTopKTest exercises the read
path). This engine's exact Arrow kernel computes K-ops in batch, but
the hopped/upload path (``operators.asof_hopped.HOPPED_OPS``) is
scalar-only — without this module a LAST_K feature could not ride
upload ⊕ tiles ⊕ live-hop serving. The collapse, the tile guards and
the live-hop read are ``plans.upload``'s shared semilattice scaffolding;
this module supplies the lift, the merge and the finalize.

The IR is an exact k-bounded list — a semilattice, not an approximation:
every entry is ``struct(o1, o2, v)`` with ``(o1, o2)`` the DESCENDING
sort rank and ``v`` the emitted value, and the only operator is
``merge = slice(sort_desc(flatten(lists)), 1, k)``. Top-k of a union
equals top-k of per-part top-ks (any globally-ranked entry is ranked
within its own part), so tiles, compaction, and the fetch-time merge
all reuse ONE expression — and results are exactly what the batch
kernel computes on the same window.

Orders:
- ``last_k``: o1 = ts, o2 = v  (most-recent first; same-ts ties break
  by value DESC — deterministic in both engines),
- ``top_k``:  o1 = v, o2 = -ts (largest first; value ties break by ts
  ASC, the kernel/oracle rule).

Streaming production note: unlike ``sketch_serving``'s (bucket,count)
rows — which a single cumulative streaming aggregation emits directly —
a k-list is NOT produced incrementally by one streaming agg, and a
last-writer-wins upsert of per-micro-batch lists would drop earlier
batches' entries. Produce closed-hop tiles with a per-hop batch job
after the hop closes (the pattern the tests pin), or a foreachBatch
upsert that MERGES the stored list with the batch's (the same
``_merge`` expression) before writing.

Scale: per (key, hop) state is ≤ k entries after the salted two-phase
aggregation (phase 1 bounds per-task state at salt × k — the repo's
standard hot-key treatment, sampling.py's top-k pattern); every join is
a keyed equi-join, zero Python anywhere.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from chronon_spark.plans.upload import collapse, compaction_end_hop, fetch_live_hop
from chronon_spark.sources.scan import TS

_MODES = ("last_k", "top_k", "first_k", "bottom_k", "unique_top_k")


def _entry(mode: str, ts: Column, v: Column) -> Column:
    """Rank encoding per mode; the sort DIRECTION (``_asc``) carries the
    rest, so no value is ever arithmetically negated and every mode is
    generic over orderable value types (the reference's
    BottomK[T: Ordering] etc. — strings included), not just numerics:

    - ``last_k``  (DESC): o1 = ts, o2 = v  (most-recent first; ts ties v DESC)
    - ``top_k``   (DESC): o1 = v,  o2 = -ts (largest first; v ties ts ASC)
    - ``first_k`` (ASC):  o1 = ts, o2 = v  (earliest first; ts ties v ASC)
    - ``bottom_k``(ASC):  o1 = v,  o2 = ts (smallest first; v ties ts ASC)

    first_k/bottom_k under ASC order exactly as the previous
    (-ts, -v)/(-v, -ts) DESC encodings did for numerics. top_k keeps the
    one ts negation (ts is always numeric). The flipped modes are the
    reference's FirstK/BottomK aggregators (aggregator
    SimpleAggregators) riding the same semilattice."""
    if mode == "last_k":
        return F.struct(ts.alias("o1"), v.alias("o2"), v.alias("v"))
    if mode == "top_k":
        return F.struct(v.alias("o1"), (-ts).alias("o2"), v.alias("v"))
    if mode == "first_k":
        return F.struct(ts.alias("o1"), v.alias("o2"), v.alias("v"))
    if mode == "bottom_k":
        return F.struct(v.alias("o1"), ts.alias("o2"), v.alias("v"))
    if mode == "unique_top_k":
        # reference UniqueTopK (base/UniqueOrderByLimit.scala) with the
        # batch kernel's concrete rule: DISTINCT values, largest first —
        # id == order == value, so the entry is fully value-determined
        # and dedup is struct equality at every merge point
        return F.struct(v.alias("o1"), v.alias("o2"), v.alias("v"))
    raise ValueError(f"mode must be one of {_MODES}, got {mode!r}")


def _asc(mode: str) -> bool:
    """first_k/bottom_k rank smallest-(ts|value)-first: ascending sort."""
    return mode in ("first_k", "bottom_k")


def _merge(col: Column, k: int, unique: bool = False, asc: bool = False) -> Column:
    merged = F.sort_array(F.flatten(col), asc=asc)
    if unique:
        # identical entries collapse FIRST — a k-slice before dedup would
        # starve distinct values behind a hot duplicate
        merged = F.array_distinct(merged)
    return F.slice(merged, 1, k)


def _lift(rows: DataFrame, grain: list, mode: str, ts: Column, value_col: str) -> DataFrame:
    """(grain..., __e): one ranked entry per event; events missing the
    value or a rank drop out."""
    return rows.select(*grain, _entry(mode, ts, F.col(value_col)).alias("__e")).where(
        F.col("__e.v").isNotNull()
        & F.col("__e.o1").isNotNull()
        & F.col("__e.o2").isNotNull()
    )


def klist_hop_irs(
    events: DataFrame,
    keys: Sequence[str],
    value_col: str,
    hop_ms: int,
    k: int,
    mode: str = "last_k",
    salt: int = 8,
) -> DataFrame:
    """(keys..., __hop, entries) — per-hop exact k-bounded lists, built
    with the salted two-phase aggregation so no task ever holds more
    than salt × k entries per (key, hop)."""
    keys = list(keys)
    unique = mode == "unique_top_k"
    ev = _lift(
        events.withColumn("__hop", (F.col(TS) / F.lit(hop_ms)).cast("long")),
        keys + ["__hop"],
        mode,
        F.col(TS).cast("long"),
        value_col,
    )
    # salt on the full rank pair: (o1) alone would put a hot VALUE's
    # top_k entries in one bucket; (o1, o2) is unique per event
    phase1 = (
        ev.withColumn(
            "__salt",
            F.pmod(F.hash(F.col("__e.o1"), F.col("__e.o2")), F.lit(int(salt))),
        )
        .groupBy(*keys, "__hop", "__salt")
        .agg(
            _merge(
                F.array(F.collect_list("__e")), int(k), unique, _asc(mode)
            ).alias("__es")
        )
    )
    return (
        phase1.groupBy(*keys, "__hop")
        .agg(
            _merge(F.collect_list("__es"), int(k), unique, _asc(mode)).alias(
                "entries"
            )
        )
    )


def compact_klist_upload(
    upload: DataFrame,
    tile_irs: DataFrame,
    keys: Sequence[str],
    old_batch_end_ms: int,
    new_batch_end_ms: int,
    hop_ms: int,
    tail_hops: int,
    k: int,
    mode: str = "last_k",
) -> DataFrame:
    """Advance the k-list upload's batch end: closed tiles fold in, rows
    older than the retained tail merge into one COLLAPSED k-list per key
    (read only by unbounded fetches). Same guards as compact_tiles."""
    keys = list(keys)
    new_hop = compaction_end_hop(tile_irs, old_batch_end_ms, new_batch_end_ms, hop_ms)
    return collapse(
        upload.unionByName(tile_irs),
        keys,
        new_hop - int(tail_hops),
        lambda old: old.groupBy(*keys).agg(
            _merge(
                F.collect_list("entries"), int(k), mode == "unique_top_k", _asc(mode)
            ).alias("entries")
        ),
    )


def fetch_klist(
    spark: SparkSession,
    requests: DataFrame,
    irs: DataFrame,
    live_events: DataFrame,
    keys: Sequence[str],
    value_col: str,
    hop_ms: int,
    k: int,
    mode: str = "last_k",
    n_hops: Optional[int] = None,
    out_col: str = "values",
    verify_disjoint: bool = True,
) -> DataFrame:
    """Per-request exact k-lists from the serving state: sawtooth window
    (hop-rounded far edge ``n_hops`` back, exact ``ts <= request ts``
    head over live-hop events) or unbounded (``n_hops=None`` — collapsed
    ∪ tails ∪ head). Same live-hop contract and guards as
    ``fetch_percentile_sketch``. Output: keys + ts + ``out_col``
    (array of the value column's own type, rank order; NULL when nothing
    is in the window)."""
    keys = list(keys)
    unique, asc = mode == "unique_top_k", _asc(mode)

    def head(rows: DataFrame) -> DataFrame:
        return (
            _lift(rows, keys + ["__qts"], mode, F.col("__ets"), value_col)
            .groupBy(*keys, "__qts")
            .agg(
                _merge(F.array(F.collect_list("__e")), int(k), unique, asc).alias(
                    "entries"
                )
            )
        )

    def merge(contrib: DataFrame) -> DataFrame:
        merged = contrib.groupBy(*keys, "__qts").agg(
            _merge(F.collect_list("entries"), int(k), unique, asc).alias("__m")
        )
        return merged.withColumn(
            out_col, F.transform(F.col("__m"), lambda e: e["v"])
        ).drop("__m")

    value_type = live_events.schema[value_col].dataType.simpleString()
    return fetch_live_hop(
        requests, irs, live_events, keys, hop_ms, n_hops, verify_disjoint,
        head, merge, {out_col: f"array<{value_type}>"},
    )
