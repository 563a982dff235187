"""Pure-Catalyst sawtooth as-of GroupBy for mergeable operations.

The reference's classic temporal-events algorithm (GroupBy.scala:286-364:
cogroup of queries × hop-IRs × head events on (key, headStart bucket);
hop construction HopsAggregator.scala:150-159) re-expressed as DataFrame
ops with whole-stage codegen end to end — no Python anywhere:

1. **hop partials**: ``groupBy(keys, hop = ts div hop_ms)`` with the
   partial IRs of ``operators.hop_ir`` (the update). The hot-key
   problem dissolves here: a hot domain's events spread over its hops, and
   Spark's map-side partial aggregation absorbs per-partition repeats —
   this is "salting by time", the skew story the north rule asks for.
2. **tail merge**: per key, a RANGE window frame over hop index merges the
   ``w_hops`` hop IRs preceding the query's hop
   (``rangeBetween(-w_hops, -1)``) — ``hop_ir.merge`` as a window, the
   same merge the upload and compaction run as an aggregate. Rows per
   key = #hops (bounded by range/hop), so the per-key window partition is
   tiny regardless of how hot the key is. Query hops with no events get
   rows via union (null-padded), the same trick as the main union kernel.
3. **exact head**: events of the query's own hop with ``e.ts <= q.ts``,
   aggregated per query via a (keys, hop) equi-join — the join is balanced
   because a single hop of even the hottest key is |key events|/#hops.
   The head and the hop partials read one events exchange on (keys, hop),
   whatever the ops: the events are scanned and shuffled once.
4. **combine**: tail ⊕ head per IR kind, ``hop_ir.plus`` (sums add, min/max fold,
   last/first compare (ts, v) structs, central moments ``hop_ir.shift``
   to the per-key offset and add), then ``hop_ir.finalize`` — the same
   finalize as the serving read (``plans.fetcher``).

Window-boundary semantics = the kernel's sawtooth mode (pinned by tests
against chronon_spark.kernel.sawtooth with ``tail_hop_ms`` set): head
``e.ts <= q.ts`` inclusive, tail ``e.ts >= round_down(q.ts - W, hop)``
(SawtoothMutationAggregator.scala:117-133, Resolution.scala:38-48).

Supported ops: COUNT, SUM, AVERAGE, VARIANCE, SKEW, KURTOSIS (population,
excess — shifted central-moment merge to 4th order), MIN, MAX, LAST, FIRST,
UNIQUE_COUNT (exact via set union), APPROX_UNIQUE_COUNT (HLL sketches).
Non-mergeable ops (percentiles, *_K, histograms) use the Arrow kernel path
(operators.asof_join.group_by_asof) in batch, and the dedicated serving
semilattices (plans/sketch_serving, klist_serving, freq_serving) online;
``supports_hopped`` reports the split.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from chronon_spark.api.types import (
    AggregationPart,
    GroupBy,
    Operation,
    validate_identifier,
)
from chronon_spark.operators import hop_ir
from chronon_spark.operators.asof_join import (
    apply_derivations,
    events_df_for_group_by,
)
from chronon_spark.sources.scan import TS

HOPPED_OPS = {
    Operation.COUNT,
    Operation.SUM,
    Operation.AVERAGE,
    Operation.VARIANCE,
    Operation.SKEW,
    Operation.KURTOSIS,
    Operation.MIN,
    Operation.MAX,
    Operation.LAST,
    Operation.FIRST,
    Operation.UNIQUE_COUNT,
    Operation.APPROX_UNIQUE_COUNT,
}


# The per-part query-set checkpoints register in the shared plan-lifetime
# registry (chronon_spark.checkpoint): each lives as long as the join plan
# that reads it; sessions that build MANY joins (bench best-of-N loops,
# long notebooks) release superseded ones via release_query_checkpoints()
# — RDD-level cache is invisible to DataFrame.unpersist() and
# ContextCleaner GC timing is unbounded.
from chronon_spark.checkpoint import (  # noqa: E402
    register_plan_checkpoint,
    release_plan_checkpoints as release_query_checkpoints,
)


def supports_hopped(group_by: GroupBy, hop_ms: int) -> bool:
    for p in group_by.unpack():
        if p.operation not in HOPPED_OPS:
            return False
        if p.window is not None and p.window.millis % hop_ms != 0:
            return False
    return True


def _frame(keys: list, w_hops: Optional[int]) -> W:
    w = W.partitionBy(*keys).orderBy("__hop")
    if w_hops is None:
        return w.rangeBetween(W.unboundedPreceding, -1)
    return w.rangeBetween(-w_hops, -1)


def _tail_cols(parts: list, keys: list, hop_ms: int) -> list:
    """Tail-merged IR columns over the hop window frames, deduped across
    parts by (input, window): ``t_{kind}_{sfx}`` is the IR's merge
    (``hop_ir.merge``) as a window; moment kinds hold sums about the
    per-key offset ``__k_{c}``, which rides along for the finalize."""
    out: dict = {}
    for (kind, sfx), (c, w) in hop_ir.windowed_ir_columns(parts, hop_ms).items():
        out[f"t_{kind}_{sfx}"] = hop_ir.merge(kind, c, _frame(keys, w))
        if kind == "m2":
            out[f"__k_{c}"] = F.col(f"__k_{c}")
    return [col.alias(name) for name, col in out.items()]


_ZERO_IS_EMPTY = {
    Operation.COUNT,
    Operation.UNIQUE_COUNT,
    Operation.APPROX_UNIQUE_COUNT,
}


def _bucketed_maps(spark, group_by, queries, hop_ms, query_range, prune_keys):
    """Bucketed parts as map<bucket, value> columns, computed by RECURSION:
    the bucket column joins the key set, the unbucketed sub-plan runs, and
    the per-(key, bucket, ts) values pivot back to maps (reference
    BucketedColumnAggregator semantics: null values and zero counts leave
    no entry; an empty map finalizes to null). One extra narrow shuffle per
    bucket column — still zero Python."""
    from dataclasses import replace as _rp

    from chronon_spark.api.types import Aggregation

    keys = list(group_by.key_columns)
    q = (
        queries.select(*keys, F.col(TS).cast("long").alias(TS))
        .dropna(subset=keys)
        .distinct()
    )

    by_bcol: dict = {}
    for a in group_by.aggregations:
        if a.buckets:
            for b in a.buckets:
                by_bcol.setdefault(b, []).append(a)

    maps_df = None
    for bcol, aggs in by_bcol.items():
        sub_aggs = tuple(
            Aggregation(a.input_column, a.operation, dict(a.arg_map), a.windows, None)
            for a in aggs
        )
        sub_gb = _rp(
            group_by,
            key_columns=tuple(keys) + (bcol,),
            aggregations=sub_aggs,
            derivations=None,
        )
        ev = events_df_for_group_by(spark, sub_gb, *(query_range or (None, None))).where(
            F.col(bcol).isNotNull()
        )
        # queries per (key, bucket): every bucket the key has seen
        key_buckets = ev.select(*keys, bcol).distinct()
        q_b = q.join(key_buckets, on=keys, how="inner")
        sub_out = group_by_asof_hopped(
            spark, sub_gb, q_b, hop_ms, query_range, prune_keys, events_df=ev
        )

        entries = []
        for a, sub_a in zip(aggs, sub_aggs):
            for sp in sub_a.unpack():  # unbucketed sub part: the VALUE column
                # the original bucketed part name: the output MAP column
                orig = AggregationPart(
                    a.input_column, a.operation, dict(a.arg_map), sp.window, bcol
                )
                val = F.col(sp.output_column)
                valid = val.isNotNull()
                if a.operation in _ZERO_IS_EMPTY:
                    valid = valid & (val != 0)
                entry = F.when(valid, F.struct(F.col(bcol).cast("string"), val))
                entries.append((orig.output_column, entry))
        agg_cols = [
            F.map_from_entries(F.collect_list(e)).alias(name) for name, e in entries
        ]
        piv = sub_out.groupBy(*keys, TS).agg(*agg_cols)
        # empty maps -> null (kernel semantics)
        for name, _ in entries:
            piv = piv.withColumn(
                name, F.when(F.size(F.col(name)) > 0, F.col(name))
            )
        maps_df = piv if maps_df is None else maps_df.join(piv, on=keys + [TS], how="outer")
    return maps_df


def _head_plus_tail(p, hop_ms: int) -> tuple:
    """(kind -> tail ⊕ head IR, offset K) of one part, for
    ``hop_ir.finalize``: the tail's ``t_*`` merge with the head's ``h_*``
    IR by ``hop_ir.plus`` (the head's central moments shifted to the
    per-key offset K first)."""
    c = p.input_column
    sfx = hop_ir.window_suffix(c, hop_ir.window_hops(p, hop_ms))
    own = hop_ir.kinds(p.operation)
    k = F.col(f"__k_{c}") if "m2" in own else None

    def h(kind: str) -> Column:
        return F.col(f"h_{kind}_{c}")

    shifted = {}
    if k is not None:
        moments = hop_ir.shift(
            h("cnt"), h("sum"), *[h(m) if m in own else None for m in hop_ir.MOMENTS], k
        )
        shifted = dict(zip(hop_ir.MOMENTS, moments))

    def ir(kind: str) -> Column:
        return hop_ir.plus(kind, F.col(f"t_{kind}_{sfx}"), shifted.get(kind, h(kind)))

    return ir, k


def hop_irs_for(events: DataFrame, group_by: GroupBy, hop_ms: int) -> DataFrame:
    """(keys, __hop, i_* partial IRs) — the batch-side upload shape of the
    lambda architecture (reference GroupByUpload FinalBatchIr tail hops)."""
    keys = list(group_by.key_columns)
    ev = events.withColumn("__hop", (F.col(TS) / hop_ms).cast("long"))
    return ev.groupBy(*keys, "__hop").agg(
        *hop_ir.update_aggs(group_by.unpack(), frame=ev)
    )


def group_by_asof_hopped(
    spark: SparkSession,
    group_by: GroupBy,
    queries: DataFrame,
    hop_ms: int,
    query_range: Optional[tuple] = None,
    prune_keys: bool = False,
    events_df: Optional[DataFrame] = None,
    extra_hop_irs: Optional[DataFrame] = None,
    verify_disjoint: bool = True,
    events_clustered: bool = False,
) -> DataFrame:
    """Sawtooth as-of features at each distinct (keys, ts) query row —
    tail snapped to ``hop_ms`` boundaries, head exact (see module doc).

    Lambda merge (reference SawtoothOnlineAggregator.scala:84-165): pass
    precomputed batch-side hop IRs as ``extra_hop_irs`` (shape of
    ``hop_irs_for``) and only the fresh/streaming rows as ``events_df`` —
    tails merge the batch IRs with the fresh tiles zero-copy. The two IR
    sets must cover DISJOINT hop ranges (batch end aligned to a hop
    boundary, the reference's batchEndTs-at-midnight rule).
    """
    if group_by.aggregations is None:
        raise ValueError(
            "no-agg GroupBys (aggregations=None) are SNAPSHOT entity "
            "passthroughs (snapshot_join.snapshot_entities); temporal "
            "accuracy needs explicit aggregations"
        )
    keys = [validate_identifier(k) for k in group_by.key_columns]
    all_parts = group_by.unpack()
    if not supports_hopped(group_by, hop_ms):
        raise ValueError("unsupported op/window for hopped path")
    min_ts, max_ts = query_range if query_range else (None, None)

    bucketed = [p for p in all_parts if p.bucket is not None]
    parts = [p for p in all_parts if p.bucket is None]
    if bucketed:
        if events_df is not None or extra_hop_irs is not None:
            raise ValueError(
                "bucketed parts not supported with events_df/extra_hop_irs overrides"
            )
        if parts:
            from dataclasses import replace as _rp

            plain_gb = _rp(group_by, aggregations=tuple(
                a for a in group_by.aggregations if not a.buckets
            ), derivations=None)
            base = group_by_asof_hopped(
                spark, plain_gb, queries, hop_ms, query_range, prune_keys
            )
        else:
            base = (
                queries.select(*keys, F.col(TS).cast("long").alias(TS))
                .dropna(subset=keys)
                .distinct()
            )
        maps = _bucketed_maps(spark, group_by, queries, hop_ms, query_range, prune_keys)
        out = base.join(maps, on=keys + [TS], how="left")
        # keep the conf's declared column order
        out = out.select(*keys, TS, *[p.output_column for p in all_parts])
        if group_by.derivations:
            out = apply_derivations(out, group_by.derivations, keys + [TS])
        return out

    events = (
        events_df
        if events_df is not None
        else events_df_for_group_by(spark, group_by, min_ts, max_ts)
    )
    # Drop null keys/ts UPFRONT (they can never match: SQL join-on-null is
    # false, and a null ts has no hop) so every branch that re-derives q
    # pushes the SAME filter set into the scan. With identical subtrees,
    # exchange reuse collapses the three q consumers (hop grid, exact head,
    # final combine) onto ONE scan + ONE distinct shuffle — measured 11
    # FileScans -> 5 on the two-part flagship, the rest ReusedExchange.
    q = queries.select(*keys, F.col(TS).cast("long").alias(TS))
    for _c in list(keys) + [TS]:
        q = q.where(F.col(_c).isNotNull())
    q = q.distinct().withColumn("__hop", (F.col(TS) / hop_ms).cast("long"))
    # The query set is consumed THREE times below (hop grid, exact head,
    # final combine). Catalyst cannot share the subtree — per-branch column
    # pruning/filter pushdown specializes each copy, so without
    # materialization the left is scanned + distinct-shuffled once PER
    # CONSUMER (measured: 6 redundant left passes on a two-part join; at a
    # 10^12-row left that is the plan's single biggest waste). The
    # reference materializes part queries for the same reason
    # (spark/.../JoinPartJob.scala writes the part table before use).
    # Lazy local checkpoint: first consumer computes, BlockManager block
    # locks make races single-compute; the cached copy lives as long as the
    # returned plan (released by the session owner through
    # release_query_checkpoints, see chronon_spark/checkpoint.py).
    q = register_plan_checkpoint(q.localCheckpoint(eager=False))
    if prune_keys:
        from chronon_spark.operators.join_utils import prune_events_by_keys

        events = prune_events_by_keys(events, q, keys)
    from chronon_spark.operators.asof_join import null_out_nans

    events = null_out_nans(events, list({p.input_column for p in parts}))
    # Same upfront null-key/ts drop as q: a null-key event groups under a
    # key no query can match, a null-ts event has no hop — both contribute
    # nothing. The explicit ``hop IS NOT NULL`` is the predicate the
    # exact-head join would otherwise infer on its own branch only; stated
    # here, both branches push the same filters below the repartition.
    # The repartition hashes the hop expression over ts and ``__hop`` is
    # derived above it, so ts sits below the exchange on both branches
    # (the head reads it, the hop IRs of COUNT/SUM/MAX parts do not): the
    # subtrees match after column pruning for every op set, and the
    # exchange is planned once and REUSED.
    for _c in list(keys) + [TS]:
        events = events.where(F.col(_c).isNotNull())
    hop = (F.col(TS) / hop_ms).cast("long")
    events = events.where(hop.isNotNull())
    # ONE shuffle of the big side: repartition on (keys, hop) satisfies the
    # distribution requirement of BOTH consumers — the hop-IR aggregation
    # (map-side combine still applies within partitions) and the exact-head
    # sort-merge join — so events move across the network once, not twice.
    # events_clustered: the caller's frame is a bucketed-by-keys table
    # (plans/clustered.py) whose scan already reports HashPartitioning
    # (keys) — that satisfies both consumers' ClusteredDistribution (keys
    # is a subset of (keys, hop)), so skipping the repartition makes the
    # big side move ZERO times. Hint-only: if the frame is not actually
    # bucketed, EnsureRequirements re-inserts the exchange — results are
    # identical either way (pinned in tests/test_clustered.py).
    if not events_clustered:
        events = events.repartition(*keys, hop)
    events = events.withColumn("__hop", hop)

    # 1. hop partial IRs (+ precomputed batch IRs for the lambda merge)
    hop_irs = events.groupBy(*keys, "__hop").agg(
        *hop_ir.update_aggs(parts, frame=events)
    )
    if extra_hop_irs is not None:
        # enforce the disjointness contract loudly: overlapping hop ranges
        # would double-count (each (key, hop) must come from exactly one
        # side). Driver-side check on the hop boundaries — costs one agg
        # pass over EACH side, so callers that enforce disjointness
        # structurally (fresh rows filtered to ts >= a hop-aligned batch
        # end) pass verify_disjoint=False.
        if verify_disjoint:
            max_extra = extra_hop_irs.agg(F.max("__hop")).first()[0]
            min_fresh = events.agg(F.min("__hop")).first()[0]
            if max_extra is not None and min_fresh is not None and max_extra >= min_fresh:
                raise ValueError(
                    f"extra_hop_irs hops (max {max_extra}) overlap fresh events "
                    f"(min hop {min_fresh}); batch end must align to a hop "
                    "boundary with fresh rows strictly after it"
                )
        hop_irs = hop_irs.unionByName(extra_hop_irs)

    # 2. union query hops (null IRs) so every query hop has a tail row,
    #    then the per-key RANGE window merges preceding hops.
    ir_cols = [c for c in hop_irs.columns if c.startswith("i_")]
    q_hops = q.select(*keys, "__hop").distinct()
    # tag the query hops through the full join so the post-window filter to
    # query hops is a free predicate instead of a second (re-shuffling)
    # semi join of the whole tails set
    hop_grid = hop_irs.join(
        q_hops.withColumn("__isq", F.lit(1)), on=keys + ["__hop"], how="full"
    )
    # per-key moment offset K, from the hop IRs themselves (same shuffle as
    # the tail window, no extra pass over raw events)
    hop_grid = hop_ir.with_offsets(hop_grid, keys, hop_ir.moment_inputs(parts))
    tails = hop_grid.select(
        *keys, "__hop", F.col("__isq"), *_tail_cols(parts, keys, hop_ms)
    )
    # only query hops are needed downstream — the tag filter costs nothing
    tails = tails.where(F.col("__isq") == 1).drop("__isq")

    # 3. exact head: events of the query's own hop with e.ts <= q.ts.
    #    LEFT join (inequality inside the join condition) so every query
    #    row survives with one all-null event row when its hop is empty —
    #    the head aggregate then carries q's full grain and the final
    #    combine needs NO third pass over q (the old shape joined q a
    #    third time to assemble tails x heads).
    head_needed = list(dict.fromkeys(p.input_column for p in parts))
    ev_head = events.select(*keys, "__hop", F.col(TS).alias("__ets"), *head_needed)
    # string-qualified aliases: q and events can share lineage (the
    # GroupBy-as-query case), where expr-id column refs are ambiguous
    qh = q.alias("__q")
    eh = ev_head.alias("__e")
    cond = None
    for k in keys + ["__hop"]:
        c = F.col(f"__q.{k}") == F.col(f"__e.{k}")
        cond = c if cond is None else (cond & c)
    cond = cond & (F.col("__e.__ets") <= F.col(f"__q.{TS}"))
    head_join = qh.join(eh, on=cond, how="left").select(
        *[F.col(f"__q.{k}") for k in keys],
        F.col("__q.__hop"),
        F.col(f"__q.{TS}").alias("__qts"),
        F.col("__e.__ets").alias(TS),
        *[F.col(f"__e.{c}") for c in head_needed],
    )
    heads = head_join.groupBy(*keys, "__qts", "__hop").agg(
        F.count(F.col(TS)).alias("__h_n"), *hop_ir.update_aggs(parts, frame=head_join)
    )
    # no-event query rows must expose NULL head IRs (identical to the old
    # inner-join shape where the row was simply absent) — an empty
    # collect_set/hll sketch is NOT the same as null for UNIQUE_COUNT /
    # APPROX_UNIQUE_COUNT zero-event semantics
    heads = heads.select(
        *keys,
        "__hop",
        F.col("__qts").alias(TS),
        *[
            F.when(F.col("__h_n") > 0, F.col(c)).alias("h" + c[1:])
            for c in ir_cols
        ],
    )

    # 4. combine tail ⊕ head per part: heads carries one row per query row
    #    (keys, ts, hop), so a single left join against the per-hop tails
    #    completes the sawtooth — q itself is not consumed again.
    joined = heads.join(tails, on=keys + ["__hop"], how="left")

    out_cols = [
        hop_ir.finalize(p.operation, *_head_plus_tail(p, hop_ms)).alias(p.output_column)
        for p in parts
    ]
    out = joined.select(*keys, TS, *out_cols)
    if group_by.derivations:
        out = apply_derivations(out, group_by.derivations, keys + [TS])
    return out
