"""Frequency top-k (heavy hitters) on the lambda/tiled serving path.

Reference parity: the reference's APPROX_FREQUENT_K / UNIQUE_TOP_K
operations serve online from mergeable ItemsSketch IRs
(FetcherUniqueTopKTest family). Sketch libraries are merge-order
dependent, which would break cross-engine oracling — so this module
uses the DETERMINISTIC truncated-count construction instead:

- per (keys, hop): EXACT per-item counts, keep the top ``m`` by
  ``(count DESC, item ASC)`` — a pure function of the hop's events,
- merge (tiles → compaction → fetch window): SUM counts per item across
  retained lists, re-truncate by the same order.

Approximation model (space-saving-style): an item's served count is
exact unless the item fell outside some hop's top-``m``; mass lost that
way is bounded by the dropped tail of each hop. With ``m`` a few times
``k`` the served top-``k`` matches the exact top-``k`` whenever hop
distributions are not adversarially flat — and every step is
deterministic, so the DuckDB oracle replays the algebra bit-for-bit
(the same honesty contract as the BPE / CCNet oracles).

Streaming production note: unlike ``sketch_serving``'s (bucket,count)
rows — which a single cumulative streaming aggregation emits directly —
a k-list is NOT produced incrementally by one streaming agg, and a
last-writer-wins upsert of per-micro-batch lists would drop earlier
batches' entries. Produce closed-hop tiles with a per-hop batch job
after the hop closes (the pattern the tests pin), or a foreachBatch
upsert that MERGES the stored list with the batch's (the same
``_remerge``) before writing. The collapse, the tile guards and the
live-hop read are ``plans.upload``'s shared semilattice scaffolding.

Entries are ``struct(negcnt=-count, v=item)`` sorted ASCENDING —
lexicographic (-count ASC, item ASC) = (count DESC, item ASC) — so the
item column can be ANY orderable Spark type (strings, longs). Scale:
per-(key,hop) IR state ≤ m entries; the per-hop count aggregation is
map-side combinable on (keys, hop, item); fetch fan-in per request is
≤ (window hops + 1) × m entries.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronon_spark.plans.upload import collapse, compaction_end_hop, fetch_live_hop
from chronon_spark.sources.scan import TS


def _entries_from_counts(df: DataFrame, grain: list, m: int) -> DataFrame:
    """(grain..., __cnt, __item) rows -> (grain..., entries) with the
    top-m (count DESC, item ASC) entries per grain."""
    e = F.struct(
        (-F.col("__cnt")).alias("negcnt"), F.col("__item").alias("v")
    )
    return (
        df.select(*grain, e.alias("__e"))
        .groupBy(*grain)
        .agg(
            F.slice(
                F.sort_array(F.collect_list("__e")), 1, int(m)
            ).alias("entries")
        )
    )


def _remerge(df: DataFrame, grain: list, m: int) -> DataFrame:
    """Merge entry lists across extra dimensions down to ``grain``: SUM
    counts per item, re-truncate. The one shared merge of tiles,
    compaction, and the fetch."""
    counts = (
        df.select(*grain, F.explode("entries").alias("__e"))
        .groupBy(*grain, F.col("__e.v").alias("__item"))
        .agg((-F.sum("__e.negcnt")).alias("__cnt"))
    )
    return _entries_from_counts(counts, grain, m)


def _lift(rows: DataFrame, grain: list, item_col: str, m: int) -> DataFrame:
    """(grain..., entries): exact item counts per grain truncated to the
    top ``m`` — the IR of one hop (tiles) or one request's head."""
    counts = (
        rows.select(*grain, F.col(item_col).alias("__item"))
        .where(F.col("__item").isNotNull())
        .groupBy(*grain, "__item")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    return _entries_from_counts(counts, grain, m)


def freq_hop_irs(
    events: DataFrame,
    keys: Sequence[str],
    item_col: str,
    hop_ms: int,
    m: int,
) -> DataFrame:
    """(keys..., __hop, entries): per-hop exact item counts truncated to
    the top ``m`` — the tile AND upload payload."""
    return _lift(
        events.withColumn("__hop", (F.col(TS) / F.lit(hop_ms)).cast("long")),
        list(keys) + ["__hop"],
        item_col,
        m,
    )


def compact_freq_upload(
    upload: DataFrame,
    tile_irs: DataFrame,
    keys: Sequence[str],
    old_batch_end_ms: int,
    new_batch_end_ms: int,
    hop_ms: int,
    tail_hops: int,
    m: int,
) -> DataFrame:
    """Advance the batch end; pre-tail rows merge into one COLLAPSED
    top-m list per key. Same double-count guards as compact_tiles."""
    keys = list(keys)
    new_hop = compaction_end_hop(tile_irs, old_batch_end_ms, new_batch_end_ms, hop_ms)
    return collapse(
        upload.unionByName(tile_irs),
        keys,
        new_hop - int(tail_hops),
        lambda old: _remerge(old, keys, m),
    )


def fetch_freq_topk(
    spark: SparkSession,
    requests: DataFrame,
    irs: DataFrame,
    live_events: DataFrame,
    keys: Sequence[str],
    item_col: str,
    hop_ms: int,
    k: int,
    m: Optional[int] = None,
    n_hops: Optional[int] = None,
    out_col: str = "top_items",
    verify_disjoint: bool = True,
    histogram: bool = False,
) -> DataFrame:
    """Per-request frequency top-k from the serving state: the exact
    ``ts <= request ts`` head over live-hop events ⊕ the window's (or
    all, when ``n_hops=None``) retained tile lists, merged by the shared
    SUM-and-retruncate. Live-hop contract and guards as the other
    serving fetches. Output: keys + ts + ``out_col`` (array<long>,
    most-frequent first, count ties broken by smaller item)."""
    keys = list(keys)
    m = int(m if m is not None else 4 * k)

    def merge(contrib: DataFrame) -> DataFrame:
        merged = _remerge(contrib, keys + ["__qts"], m)
        if histogram:
            # exact HISTOGRAM finalize: item -> count map, item-sorted for
            # deterministic rendering (exact when m covers every item)
            ent = F.sort_array(
                F.transform(
                    "entries",
                    lambda e: F.struct(
                        e["v"].alias("key"), (-e["negcnt"]).alias("value")
                    ),
                )
            )
            return merged.withColumn(out_col, F.map_from_entries(ent)).drop("entries")
        return merged.withColumn(
            out_col, F.slice(F.transform("entries", lambda e: e["v"]), 1, int(k))
        ).drop("entries")

    item_type = live_events.schema[item_col].dataType.simpleString()
    return fetch_live_hop(
        requests, irs, live_events, keys, hop_ms, n_hops, verify_disjoint,
        lambda rows: _lift(rows, keys + ["__qts"], item_col, m),
        merge,
        {out_col: f"array<{item_type}>"},
    )


def fetch_histogram(
    spark: SparkSession,
    requests: DataFrame,
    irs: DataFrame,
    live_events: DataFrame,
    keys: Sequence[str],
    item_col: str,
    hop_ms: int,
    n_hops: Optional[int] = None,
    out_col: str = "histogram",
    verify_disjoint: bool = True,
    m: Optional[int] = None,
) -> DataFrame:
    """Exact HISTOGRAM on the serving path (reference Operation.HISTOGRAM
    map IR; the 21-op batch kernel's map feature could not ride
    upload ⊕ tiles before): the same truncated-count semilattice with
    ``m`` unbounded by default, so per-hop entries are EXACT counts and
    the merge is a plain per-item SUM; finalize = item-sorted
    item → count map. Bounded-``m`` mode degrades exactly like
    ``fetch_freq_topk`` (per-hop tail mass dropped, deterministic).

    Scale note: an unbounded histogram's state is O(distinct items per
    key) — the reference's map IR has the same bound; pass ``m`` when
    item cardinality is adversarial."""
    return fetch_freq_topk(
        spark,
        requests,
        irs,
        live_events,
        keys,
        item_col,
        hop_ms,
        k=1,  # ignored in histogram mode
        m=m if m is not None else (1 << 31) - 1,
        n_hops=n_hops,
        out_col=out_col,
        verify_disjoint=verify_disjoint,
        histogram=True,
    )
