"""GroupByUpload: the batch-side IR table of the lambda architecture.

Reference (spark/.../GroupByUpload.scala:64-130; FinalBatchIr =
collapsed + tailHops, SawtoothOnlineAggregator.scala): for each key, the
batch job uploads
- one COLLAPSED row — every event older than the largest window's tail,
  pre-merged into a single IR (only unbounded windows read it), and
- one row per TAIL HOP inside [batch_end − maxWindow, batch_end) — the
  mergeable per-hop IRs that windowed features stitch at query time.

Here the "KV store" is a parquet/Iceberg table keyed by (keys, __hop),
with the collapsed row at ``__hop = COLLAPSED_HOP``. Serving reads it
request-first (:func:`fetch_live_hop`, the reference's per-request
FinalBatchIr ⊕ tiles merge): each request joins only its own key's rows
before its hop, and a window's merge keeps the rows with
``hop >= qhop - window`` — the collapsed row sits below every bounded
window, so only unbounded windows read it.

The tile-merge scaffolding lives here once, for the scalar IRs
(``operators.hop_ir``) and the serving semilattices
(``plans.sketch_serving``, ``klist_serving``, ``freq_serving``) alike:
the tile-range guard (:func:`check_tile_range`), the collapse of old rows
into the COLLAPSED row (:func:`collapse`) and the request-driven read
(:func:`fetch_live_hop`; the semilattices' one-live-hop contract, and
the static cut of their inputs to that hop, is :func:`slice_live_hop`).
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronon_spark.api.types import GroupBy
from chronon_spark.operators import hop_ir
from chronon_spark.operators.asof_hopped import hop_irs_for, supports_hopped
from chronon_spark.operators.asof_join import events_df_for_group_by, null_out_nans
from chronon_spark.sources.scan import TS

COLLAPSED_HOP = -(10**9)  # far below any real hop index


def check_tile_range(
    tile_irs: DataFrame,
    lo_hop: int,
    hi_hop: Optional[int] = None,
    hi_name: str = "the new batch end",
) -> tuple:
    """The double-count guard of every tile merge: tile hops must lie in
    ``[lo_hop, hi_hop)`` — a tile before ``lo_hop`` is already in the
    upload, one at/after ``hi_hop`` belongs to a later merge (no upper
    check when ``hi_hop`` is None). Returns the (min, max) tile hop,
    both None for no tiles."""
    lo, hi = tile_irs.agg(F.min("__hop"), F.max("__hop")).first()
    if lo is not None and int(lo) < lo_hop:
        raise ValueError(
            f"tile hop {lo} overlaps the batch range (< {lo_hop}): a tile "
            "inside the old batch range is already counted in the upload"
        )
    if hi is not None and hi_hop is not None and int(hi) >= hi_hop:
        raise ValueError(
            f"tile hop {hi} at/after {hi_name} ({hi_hop}): it belongs to a "
            "later merge"
        )
    return lo, hi


def compaction_end_hop(
    tile_irs: DataFrame, old_batch_end_ms: int, new_batch_end_ms: int, hop_ms: int
) -> int:
    """Check a compaction's batch ends and tile range (see
    :func:`check_tile_range`); returns the new batch end's hop."""
    if old_batch_end_ms % hop_ms or new_batch_end_ms % hop_ms:
        raise ValueError("batch ends must align to hop boundaries")
    if new_batch_end_ms < old_batch_end_ms:
        raise ValueError("batch end cannot move backward")
    new_hop = new_batch_end_ms // hop_ms
    check_tile_range(tile_irs, old_batch_end_ms // hop_ms, new_hop)
    return new_hop


def collapse(
    irs: DataFrame,
    keys: list,
    tail_start_hop: int,
    merge: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Fold every IR row older than ``tail_start_hop`` (including a prior
    COLLAPSED row — its hop sits below any real hop) into one COLLAPSED
    row per key; rows at/after the boundary pass through untouched.
    ``merge`` maps the old rows to one merged row per key (per key and
    bucket for the percentile sketch) with the IR columns — the shared
    step of GroupByUpload, tile compaction and the serving semilattices."""
    tails = irs.where(F.col("__hop") >= tail_start_hop)
    collapsed = (
        merge(irs.where(F.col("__hop") < tail_start_hop))
        .withColumn("__hop", F.lit(COLLAPSED_HOP))
        .select(*tails.columns)
    )
    return tails.unionByName(collapsed)


def slice_live_hop(
    requests: DataFrame,
    irs: DataFrame,
    live_events: DataFrame,
    hop_ms: int,
    n_hops: Optional[int],
    verify_disjoint: bool,
) -> tuple:
    """The tiled-accuracy contract of a serving semilattice's fetch, and
    its inputs cut to what that contract lets a fetch read. The requests
    sit in one live hop (a closed hop's raw events are compacted away)
    and, unless ``verify_disjoint`` is False (callers whose IRs are
    structurally pre-live), ``irs`` holds only hops before it.

    Returns ``(irs, live_events)`` for :func:`fetch_live_hop`: the live
    hop's events, and the IR rows in ``[live - n_hops, live)`` (every
    row, COLLAPSED included, when ``n_hops`` is None). The cut is static,
    so the head join reads one hop of events and each request joins at
    most ``n_hops`` tail rows of its key, however long the history."""
    qhop = (F.col(TS) / F.lit(hop_ms)).cast("long")
    lo, hi = requests.agg(F.min(qhop), F.max(qhop)).first()
    if lo is None:
        return irs.where(F.lit(False)), live_events.where(F.lit(False))
    if lo != hi:
        raise ValueError(
            f"requests span hops {lo}..{hi}: all requests must sit in one live hop"
        )
    if verify_disjoint:
        ir_max = irs.agg(
            F.max(F.when(F.col("__hop") != COLLAPSED_HOP, F.col("__hop")))
        ).first()[0]
        if ir_max is not None and int(ir_max) >= lo:
            raise ValueError(
                f"IR hop {ir_max} at/after the live hop {lo}: double count"
            )
    live = int(lo)
    if n_hops is not None:
        irs = irs.where(
            (F.col("__hop") >= live - int(n_hops)) & (F.col("__hop") < live)
        )
    return irs, live_events.where(qhop == live)


def fetch_live_hop(
    requests: DataFrame,
    irs: DataFrame,
    live_events: DataFrame,
    keys: list,
    hop_ms: int,
    n_hops: Optional[int],
    head: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """The request-driven serving read, shared by the scalar IRs
    (``plans.fetcher``) and the serving semilattices. Per request
    (keys, ts), with ``qhop = ts div hop_ms``:

    - head: ``live_events`` of ``qhop`` with ``ts <= request ts`` (the
      condition sits inside a LEFT join, so every request reaches
      ``head``),
    - tail: the key's ``irs`` rows with ``hop < qhop`` — also
      ``hop >= qhop - n_hops`` when ``n_hops`` is given, and every row
      incl. the COLLAPSED one when it is None,

    and the two merge in one aggregation per request. The hop conditions
    are per request, but Spark applies them after the key equi-join, so a
    request's work is every row of its key in ``irs`` and
    ``live_events``: callers pass inputs already bounded per key (the
    scalar fetch: a compacted upload, collapsed row + tail hops, and the
    fresh events from the batch end on; the semilattices: the live-hop
    cut of :func:`slice_live_hop`).

    The caller supplies:

    - ``head(rows)``: request rows LEFT-joined to their head events (keys,
      ``__qts``, ``__qhop`` + the event columns and ``__ets``, all null for
      a request without head events) -> head IR rows (keys, ``__qts``, IR
      columns),
    - ``merge(contrib)``: head ∪ tail IR rows (keys, ``__qts``,
      ``__qhop``, ``__hop`` + IR columns; a head row's ``__hop`` is its
      ``__qhop``) -> (keys, ``__qts``, output columns), one row per
      request.

    Output: keys + ts + the output columns, NULL where a request has no
    history."""
    if n_hops is not None and n_hops < 1:
        raise ValueError("n_hops must be >= 1 (the head alone is hop 0)")
    keys = list(keys)

    def hop_of(ts: str):
        return (F.col(ts) / F.lit(hop_ms)).cast("long")

    # distinct on (keys, ts) alone: its partitioning then serves the head
    # aggregation and the merge, which group by (keys, ts) too
    q = requests.select(*keys, F.col(TS).alias("__qts")).distinct()
    q = q.select("*", hop_of("__qts").alias("__qhop"))
    lv = live_events.withColumn("__ets", F.col(TS).cast("long"))
    cond = (F.col("__e.__ets") <= F.col("__q.__qts")) & (
        hop_of(f"__e.{TS}") == F.col("__q.__qhop")
    )
    for k in keys:
        cond = cond & (F.col(f"__q.{k}") == F.col(f"__e.{k}"))
    rows = q.alias("__q").join(lv.alias("__e"), on=cond, how="left").select(
        "__q.*", *[F.col(f"__e.{c}") for c in lv.columns if c not in keys]
    )
    qhop = hop_of("__qts")
    hd = head(rows).select("*", qhop.alias("__qhop"), qhop.alias("__hop"))

    in_range = F.col("__hop") < F.col("__qhop")
    if n_hops is not None:
        in_range = in_range & (F.col("__hop") >= F.col("__qhop") - int(n_hops))
    tail = irs.join(q, on=keys).where(in_range).select(*hd.columns)
    out = merge(hd.unionByName(tail))
    # left-join back so zero-history requests survive with NULL outputs.
    # ``out`` is grouped by (keys, ts), so it is already partitioned like
    # q: a sort-merge join needs no exchange, where a broadcast of ``out``
    # (chosen for a small request batch) adds a stage of its own
    values = [c for c in out.columns if c not in keys and c != "__qts"]
    served = q.join(out.hint("shuffle_merge"), on=keys + ["__qts"], how="left")
    return served.select(*keys, F.col("__qts").alias(TS), *values)


def upload_group_by(
    spark: SparkSession,
    group_by: GroupBy,
    batch_end_ms: int,
    hop_ms: int,
    output_path: Optional[str] = None,
) -> DataFrame:
    """Build (and optionally write) the FinalBatchIr table at a batch end
    aligned to a hop boundary."""
    if batch_end_ms % hop_ms:
        raise ValueError("batch end must align to a hop boundary")
    if not supports_hopped(group_by, hop_ms):
        raise ValueError(
            "upload serves hop-mergeable operations with hop-multiple windows "
            "only (see asof_hopped.HOPPED_OPS)"
        )
    keys = list(group_by.key_columns)
    parts = [p for p in group_by.unpack() if p.bucket is None]

    events = events_df_for_group_by(spark, group_by, None, batch_end_ms - 1)
    events = null_out_nans(events, list({p.input_column for p in parts}))
    events = events.where(F.col(TS) < batch_end_ms)
    irs = hop_irs_for(events, group_by, hop_ms)

    upload = collapse_irs(irs, keys, parts, _tail_start_hop(parts, batch_end_ms, hop_ms))
    if output_path:
        upload.write.mode("overwrite").parquet(output_path)
        upload = spark.read.parquet(output_path)
    return upload


def _tail_start_hop(parts: list, batch_end_ms: int, hop_ms: int) -> int:
    # tail region = the largest WINDOWED window; everything older collapses
    # into one row per key (read only by unbounded frames — its hop index
    # sits far below any windowed frame's range)
    windowed = [p.window.millis for p in parts if p.window is not None]
    mw_w = max(windowed) if windowed else 0
    return (batch_end_ms - mw_w) // hop_ms


def collapse_irs(
    irs: DataFrame, keys: list, parts: list, tail_start_hop: int
) -> DataFrame:
    """:func:`collapse` with the scalar IR merge (``hop_ir``): moment
    columns merge as sums about the per-key offset and re-center to the
    collapsed group's own mean, so the row is a regular hop-style IR."""
    cols = hop_ir.ir_columns(parts)
    moment_inputs = hop_ir.moment_inputs(parts)

    def merge(old: DataFrame) -> DataFrame:
        merged = (
            hop_ir.with_offsets(old, keys, moment_inputs)
            .groupBy(*keys)
            .agg(
                *[hop_ir.merge(k, c).alias(f"i_{k}_{c}") for k, c in cols],
                *[F.first(f"__k_{c}").alias(f"__k_{c}") for c in moment_inputs],
            )
        )
        recentered: dict = {}
        for c in moment_inputs:
            n = F.col(f"i_cnt_{c}")
            sums = [
                F.col(f"i_{m}_{c}") if (m, c) in cols else None
                for m in hop_ir.MOMENTS
            ]
            moments = hop_ir.recenter(n, F.col(f"i_sum_{c}"), *sums, F.col(f"__k_{c}"))
            for m, v in zip(hop_ir.MOMENTS, moments):
                if v is not None:
                    recentered[f"i_{m}_{c}"] = F.when(n > 0, v)
        return merged.withColumns(recentered)

    return collapse(irs, keys, tail_start_hop, merge)


def compact_tiles(
    spark: SparkSession,
    group_by: GroupBy,
    upload: DataFrame,
    tile_irs: DataFrame,
    old_batch_end_ms: int,
    new_batch_end_ms: int,
    hop_ms: int,
) -> DataFrame:
    """Advance the batch end by folding CLOSED streaming tiles into the
    batch IR table — the lambda architecture's compaction step.

    Reference: the steady-state online topology keeps the batch upload
    (GroupByUpload.scala) plus per-hop streaming tiles; without periodic
    compaction the tile range a fetch must merge grows without bound.
    The reference handles this by re-running the batch upload over raw
    events each day; at a 10^12-event table that is a full recompute.
    This job instead merges the EXISTING upload with the closed tiles
    covering ``[old_batch_end, new_batch_end)`` — IR algebra only, never
    touching raw events — and emits a new FinalBatchIr table whose rows
    are ≡ ``upload_group_by`` at ``new_batch_end_ms`` (pinned in tests;
    VARIANCE merges by the same shifted-moment algebra, allclose).

    Double-count guards: tiles must lie in ``[old_end_hop, new_end_hop)``
    — a tile inside the old batch range is already in the upload, a tile
    at/after the new end belongs to the next compaction — and the tile
    frame must not carry a collapsed row. Scale: one groupBy over
    (keys × tail hops) IR rows — input-size independent.
    """
    compaction_end_hop(tile_irs, old_batch_end_ms, new_batch_end_ms, hop_ms)
    keys = list(group_by.key_columns)
    parts = [p for p in group_by.unpack() if p.bucket is None]
    # STRICT union: a tile frame missing an IR column would silently
    # null-fill and corrupt the merge (e.g. a VARIANCE part's i_m2);
    # stream_hop_irs is pinned to the exact batch IR shape, so any
    # mismatch here is a bug that must fail loudly
    if set(upload.columns) != set(tile_irs.columns):
        raise ValueError(
            "tile IR columns != upload IR columns: "
            f"{sorted(set(upload.columns) ^ set(tile_irs.columns))}"
        )
    merged = upload.unionByName(tile_irs)
    return collapse_irs(
        merged, keys, parts, _tail_start_hop(parts, new_batch_end_ms, hop_ms)
    )
