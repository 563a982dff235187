"""GroupByUpload: the batch-side IR table of the lambda architecture.

Reference (spark/.../GroupByUpload.scala:64-130; FinalBatchIr =
collapsed + tailHops, SawtoothOnlineAggregator.scala): for each key, the
batch job uploads
- one COLLAPSED row — every event older than the largest window's tail,
  pre-merged into a single IR (only unbounded windows read it), and
- one row per TAIL HOP inside [batch_end − maxWindow, batch_end) — the
  mergeable per-hop IRs that windowed features stitch at query time.

Here the "KV store" is a parquet/Iceberg table keyed by (keys, __hop),
with the collapsed row at ``__hop = COLLAPSED_HOP``. Serving == the
batch lambda merge: ``group_by_asof_hopped(..., events_df=fresh rows,
extra_hop_irs=upload)`` — a RANGE window frame naturally reads the
collapsed row only for unbounded frames (its hop index is far below any
windowed frame's lower bound).

The tile-merge scaffolding lives here once, for the scalar IRs
(``operators.hop_ir``) and the serving semilattices
(``plans.sketch_serving``, ``klist_serving``, ``freq_serving``) alike:
the tile-range guard (:func:`check_tile_range`), the collapse of old rows
into the COLLAPSED row (:func:`collapse`) and the live-hop read
(:func:`fetch_live_hop`).
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
    assert old_batch_end_ms % hop_ms == 0 and new_batch_end_ms % hop_ms == 0, (
        "batch ends must align to hop boundaries"
    )
    assert new_batch_end_ms >= old_batch_end_ms, "batch end cannot move backward"
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


def fetch_live_hop(
    requests: DataFrame,
    irs: DataFrame,
    live_events: DataFrame,
    keys: list,
    hop_ms: int,
    n_hops: Optional[int],
    verify_disjoint: bool,
    head: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame], DataFrame],
    empty: dict,
) -> DataFrame:
    """The read path of a serving semilattice: per request, the exact
    ``ts <= request ts`` head over the live hop's raw events ⊕ the tail
    IR rows — the ``n_hops`` whole hops before the live hop, or with
    ``n_hops=None`` every row incl. the COLLAPSED one.

    Requests must all sit in one live hop (the tiled-accuracy contract —
    a closed hop's raw events are compacted away); ``irs`` holds upload ⊕
    closed-tile rows for hops BEFORE it (checked unless
    ``verify_disjoint`` is False, for callers whose IRs are structurally
    pre-live). The semilattice supplies:

    - ``head(rows)``: live-hop event rows joined to their requests
      (keys, ``__qts``, ``__ets`` + the event columns, ``__ets <= __qts``)
      -> head IR rows (keys, ``__qts``, IR columns),
    - ``merge(contrib)``: head ∪ tail IR rows -> (keys, ``__qts``, output
      columns), one row per request,
    - ``empty``: {output column: type} of the result when there are no
      requests.

    Output: keys + ts + the output columns, NULL where a request has no
    history."""
    keys = list(keys)
    q = requests.select(
        *keys, F.col(TS).alias("__qts"),
        (F.col(TS) / F.lit(hop_ms)).cast("long").alias("__qhop"),
    ).distinct()
    bounds = q.agg(F.min("__qhop"), F.max("__qhop")).first()
    if bounds[0] is None:
        return q.select(
            *keys, F.col("__qts").alias(TS),
            *[F.lit(None).cast(t).alias(c) for c, t in empty.items()],
        )
    assert bounds[0] == bounds[1], "all requests must sit in one live hop"
    live_hop = int(bounds[0])
    if verify_disjoint:
        ir_max = irs.agg(
            F.max(F.when(F.col("__hop") != COLLAPSED_HOP, F.col("__hop")))
        ).first()[0]
        if ir_max is not None and int(ir_max) >= live_hop:
            raise ValueError(
                f"IR hop {ir_max} at/after the live hop {live_hop}: double count"
            )

    # exact head: key-join then ts filter — fan-out bounded by ONE hop's
    # events per key, the same head bound as the main engine
    lv = live_events.where(
        (F.col(TS) / F.lit(hop_ms)).cast("long") == live_hop
    ).withColumn("__ets", F.col(TS).cast("long"))
    hd = head(q.join(lv, on=keys, how="inner").where(F.col("__ets") <= F.col("__qts")))

    if n_hops is not None:
        if n_hops < 1:
            raise ValueError("n_hops must be >= 1 (the head alone is hop 0)")
        # all requests share the live hop, so the window is a static hop
        # slice of the IR table — no per-request fan-out
        irs = irs.where(
            (F.col("__hop") != COLLAPSED_HOP)
            & (F.col("__hop") >= live_hop - int(n_hops))
            & (F.col("__hop") < live_hop)
        )
    tail = irs.join(q.select(*keys, "__qts").distinct(), on=keys, how="inner")
    out = merge(hd.unionByName(tail.select(*hd.columns)))
    # left-join back so zero-history requests survive with NULL outputs
    return q.select(*keys, "__qts").join(
        out, on=keys + ["__qts"], how="left"
    ).withColumnRenamed("__qts", TS)


def upload_group_by(
    spark: SparkSession,
    group_by: GroupBy,
    batch_end_ms: int,
    hop_ms: int,
    output_path: Optional[str] = None,
) -> DataFrame:
    """Build (and optionally write) the FinalBatchIr table at a batch end
    aligned to a hop boundary."""
    assert batch_end_ms % hop_ms == 0, "batch end must align to a hop boundary"
    assert supports_hopped(group_by, hop_ms)
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
