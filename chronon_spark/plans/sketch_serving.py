"""Percentile features in the lambda/tiled serving topology.

Reference parity: the reference serves APPROX_PERCENTILE features online
because its GroupBy IRs carry KLL sketches end-to-end — batch upload
rows, Flink tiles, and the fetcher's merge all speak sketch
(aggregator/.../ApproxPercentiles, GroupByUpload.scala,
FetcherBase merge). This engine's main hopped path keeps percentiles on
the exact Arrow kernel (batch-precise, but not a mergeable column), so
without this module a percentile feature could not ride the
upload ⊕ tiles ⊕ live-hop read path. Here the DDSketch row IR
(operators/ddsketch.py — (bucket, count), mergeable by SUM) becomes the
serving payload:

- ``sketch_hop_irs``: (keys, __hop, bucket, count) rows — the tile AND
  upload shape (identical, like ``stream_hop_irs`` vs ``hop_irs_for``).
  Works unchanged on a stream: it is one streaming-legal aggregation.
- ``compact_sketch_upload``: the batch-end advance — closed tiles fold
  into the upload by plain SUM per (keys, hop|collapsed, bucket); rows
  older than the retained tail collapse to one COLLAPSED row per
  (keys, bucket) for unbounded-window serving. The double-count guards
  and the collapse are ``plans.upload``'s, shared with ``compact_tiles``.
- ``fetch_percentile_sketch``: the read path (``plans.upload.
  fetch_live_hop``). Windowed (sawtooth: exact ``ts <= query_ts`` head
  over live-hop events, hop-rounded far edge ``n_hops`` back) or
  unbounded (collapsed ∪ tails ∪ head). The tail is a hop slice of the
  COMPACT IR table, never raw events, and the quantile walk is the
  shared higher-order-function fold (``quantiles_from_sketch``) — zero
  Python, zero driver collect.

Scale: per (key, hop) the IR is bounded by the distinct-bucket count
(~2·log_gamma(max/min), independent of event volume), so a hot key's
billion events tile down to a few hundred rows; every join here is
keyed equi-join on (keys[, hop]).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronon_spark.operators.ddsketch import (
    DEFAULT_ALPHA,
    bucket_expr,
    quantiles_from_sketch,
)
from chronon_spark.plans.upload import (
    collapse,
    compaction_end_hop,
    fetch_live_hop,
    slice_live_hop,
)
from chronon_spark.sources.scan import TS


def _lift(rows: DataFrame, grain: list, value_col: str, alpha: float) -> DataFrame:
    """(grain..., bucket, count): the value column's DDSketch bucket
    counts per grain — the IR of one hop (tiles) or one request's head."""
    return (
        rows.select(*grain, bucket_expr(value_col, alpha).alias("bucket"))
        .where(F.col("bucket").isNotNull())
        .groupBy(*grain, "bucket")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def _merge(rows: DataFrame, grain: list) -> DataFrame:
    """Merge sketch rows down to ``grain``: SUM counts per bucket."""
    return rows.groupBy(*grain, "bucket").agg(F.sum("count").alias("count"))


def sketch_hop_irs(
    events: DataFrame,
    keys: Sequence[str],
    value_col: str,
    hop_ms: int,
    alpha: float = DEFAULT_ALPHA,
) -> DataFrame:
    """(keys..., __hop, bucket, count) DDSketch IR rows — one aggregation,
    batch or streaming (the same duality as stream_hop_irs)."""
    return _lift(
        events.withColumn("__hop", (F.col(TS) / F.lit(hop_ms)).cast("long")),
        list(keys) + ["__hop"],
        value_col,
        alpha,
    )


def compact_sketch_upload(
    upload: DataFrame,
    tile_irs: DataFrame,
    keys: Sequence[str],
    old_batch_end_ms: int,
    new_batch_end_ms: int,
    hop_ms: int,
    tail_hops: int,
) -> DataFrame:
    """Advance the sketch upload's batch end by folding closed tiles in.

    ``tail_hops`` is the retained per-hop region (>= the largest serving
    window's hop count); older rows merge into the per-key COLLAPSED
    sketch, which only unbounded fetches read. Pure SUM algebra — the
    result is row-for-row what ``sketch_hop_irs`` over full history plus
    the same collapse would produce (pinned in tests).
    """
    keys = list(keys)
    new_hop = compaction_end_hop(tile_irs, old_batch_end_ms, new_batch_end_ms, hop_ms)
    return collapse(
        upload.unionByName(tile_irs),
        keys,
        new_hop - int(tail_hops),
        lambda old: _merge(old, keys),
    )


def fetch_percentile_sketch(
    spark: SparkSession,
    requests: DataFrame,
    irs: DataFrame,
    live_events: DataFrame,
    keys: Sequence[str],
    value_col: str,
    hop_ms: int,
    qs: Sequence[float],
    n_hops: Optional[int] = None,
    alpha: float = DEFAULT_ALPHA,
    prefix: str = "p",
    verify_disjoint: bool = True,
) -> DataFrame:
    """Per-request approximate percentiles from the serving state.

    ``requests`` carries ``keys`` + ``ts`` and must sit in the live hop
    (the tiled-accuracy contract — a closed hop's raw events are
    compacted away); ``irs`` holds upload ⊕ closed-tile rows for hops
    BEFORE the live hop. ``n_hops`` → sawtooth window (exact
    ``ts <= request ts`` head, far edge rounded ``n_hops`` whole hops
    back); ``None`` → unbounded (collapsed ∪ all tails ∪ head).
    Output: requests' columns + one ``{prefix}{q*100}`` per q.
    """
    keys = list(keys)

    def merge(contrib: DataFrame) -> DataFrame:
        return quantiles_from_sketch(
            _merge(contrib, keys + ["__qts"]),
            keys + ["__qts"],
            list(qs),
            alpha=alpha,
            prefix=prefix,
        )

    irs, live_events = slice_live_hop(
        requests, irs, live_events, hop_ms, n_hops, verify_disjoint
    )
    return fetch_live_hop(
        requests, irs, live_events, keys, hop_ms, n_hops,
        lambda rows: _lift(rows, keys + ["__qts"], value_col, alpha),
        merge,
    )
