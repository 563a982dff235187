"""Pure-Catalyst sawtooth as-of GroupBy for mergeable operations.

The reference's classic temporal-events algorithm (GroupBy.scala:286-364:
cogroup of queries × hop-IRs × head events on (key, headStart bucket);
hop construction HopsAggregator.scala:150-159) re-expressed as DataFrame
ops with whole-stage codegen end to end — no Python anywhere:

1. **hop partials**: ``groupBy(keys, hop = ts div hop_ms)`` with partial
   IRs (count/sum/ssq/min/max/(ts,v)-last/first, collect_set). The hot-key
   problem dissolves here: a hot domain's events spread over its hops, and
   Spark's map-side partial aggregation absorbs per-partition repeats —
   this is "salting by time", the skew story the north rule asks for.
2. **tail merge**: per key, a RANGE window frame over hop index merges the
   ``w_hops`` hop IRs preceding the query's hop
   (``rangeBetween(-w_hops, -1)``). Rows per key = #hops (bounded by
   range/hop), so the per-key window partition is tiny regardless of how
   hot the key is. Query hops with no events get rows via union
   (null-padded), the same trick as the main union kernel.
3. **exact head**: events of the query's own hop with ``e.ts <= q.ts``,
   aggregated per query via a (keys, hop) equi-join — the join is balanced
   because a single hop of even the hottest key is |key events|/#hops.
4. **combine**: tail ⊕ head per op (sums add, min/max fold, last/first
   compare (ts, v) structs).

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

# ops whose IRs are (count, sum[, higher central sums]) — share the scalar
# merge spine in _ir_aggs/_tail_cols/finalize
_MOMENT_OPS = (
    Operation.COUNT,
    Operation.SUM,
    Operation.AVERAGE,
    Operation.VARIANCE,
    Operation.SKEW,
    Operation.KURTOSIS,
)


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


def _ir_aggs(parts: list) -> list:
    """Partial-IR aggregate columns, deduped across parts."""
    out: list[Column] = []
    seen: set = set()

    def add(name: str, col: Column):
        if name not in seen:
            seen.add(name)
            out.append(col.alias(name))

    for p in parts:
        c = p.input_column
        op = p.operation
        if op in _MOMENT_OPS:
            add(f"i_cnt_{c}", F.count(c))
            add(f"i_sum_{c}", F.sum(F.col(c).cast("double")))
            if op in (Operation.VARIANCE, Operation.SKEW, Operation.KURTOSIS):
                # m2 = sum of squared deviations about the GROUP's own mean
                # (var_pop is Welford-based in Catalyst — numerically stable,
                # unlike raw sum(x^2) which cancels catastrophically for
                # large-magnitude low-variance columns). Merged across hops
                # with the shifted-moments / Chan formula in _tail_cols +
                # finalize (reference uses a moments-based aggregator too).
                add(f"i_m2_{c}", F.var_pop(F.col(c).cast("double")) * F.count(c))
            if op in (Operation.SKEW, Operation.KURTOSIS):
                # 3rd/4th central sums about the group's own mean, from
                # Catalyst's stable skewness/kurtosis (central-moment
                # update aggregates): M3 = skew * m2bar^1.5 * n,
                # M4 = (excess_kurt + 3) * m2bar^2 * n; both are exactly 0
                # for constant groups (m2bar = 0), where the quotient
                # forms go NaN — hence the guard, not coalesce-blindness
                d = F.col(c).cast("double")
                m2bar = F.var_pop(d)
                add(
                    f"i_m3_{c}",
                    F.coalesce(
                        F.when(
                            m2bar > 0,
                            F.skewness(d) * F.pow(m2bar, 1.5) * F.count(c),
                        ),
                        F.lit(0.0),
                    ),
                )
                if op is Operation.KURTOSIS:
                    add(
                        f"i_m4_{c}",
                        F.coalesce(
                            F.when(
                                m2bar > 0,
                                (F.kurtosis(d) + 3.0)
                                * F.pow(m2bar, 2.0)
                                * F.count(c),
                            ),
                            F.lit(0.0),
                        ),
                    )
        elif op is Operation.MIN:
            add(f"i_min_{c}", F.min(F.col(c).cast("double")))
        elif op is Operation.MAX:
            add(f"i_max_{c}", F.max(F.col(c).cast("double")))
        elif op is Operation.LAST:
            add(f"i_last_{c}", F.max_by(F.struct(F.col(TS).alias("t"), F.col(c).alias("v")), F.when(F.col(c).isNotNull(), F.col(TS))))
        elif op is Operation.FIRST:
            add(f"i_first_{c}", F.min_by(F.struct(F.col(TS).alias("t"), F.col(c).alias("v")), F.when(F.col(c).isNotNull(), F.col(TS))))
        elif op is Operation.UNIQUE_COUNT:
            add(f"i_set_{c}", F.collect_set(c))
        elif op is Operation.APPROX_UNIQUE_COUNT:
            add(f"i_hll_{c}", F.hll_sketch_agg(c))
        else:  # pragma: no cover
            raise NotImplementedError(op)
    return out


def _frame(keys: list, w_hops: Optional[int]) -> W:
    w = W.partitionBy(*keys).orderBy("__hop")
    if w_hops is None:
        return w.rangeBetween(W.unboundedPreceding, -1)
    return w.rangeBetween(-w_hops, -1)


def _w_hops(p, hop_ms: int) -> Optional[int]:
    """A part's window in hops (None: unwindowed)."""
    return p.window.millis // hop_ms if p.window is not None else None


def _tail_sfx(c: str, w_hops: Optional[int]) -> str:
    """Tail IR column suffix: one set per (input, window in hops), so parts
    that share an input and a window (COUNT/SUM/AVERAGE, ...) share one
    sliding sum instead of each evaluating its own."""
    return f"{c}_w{'all' if w_hops is None else w_hops}"


def _tail_cols(parts: list, keys: list, hop_ms: int) -> list:
    """Tail-merged IR columns over the hop window frames, deduped across
    parts by (input, window)."""
    out: list[Column] = []
    seen: set = set()

    def add(name: str, col: Column):
        if name not in seen:
            seen.add(name)
            out.append(col.alias(name))

    for p in parts:
        c = p.input_column
        op = p.operation
        w_hops = _w_hops(p, hop_ms)
        fr = _frame(keys, w_hops)
        sfx = _tail_sfx(c, w_hops)
        if op in _MOMENT_OPS:
            add(f"t_cnt_{sfx}", F.sum(f"i_cnt_{c}").over(fr))
            add(f"t_sum_{sfx}", F.sum(f"i_sum_{c}").over(fr))
            if op in (Operation.VARIANCE, Operation.SKEW, Operation.KURTOSIS):
                # shifted-moments tail terms about the per-key offset
                # __k_{c} (added in group_by_asof_hopped): within-hop m2
                # plus each hop's n_h * (mean_h - K)^2 contribution — every
                # term is O(n * sigma^2), no mu^2-scale cancellation.
                add(f"t_m2_{sfx}", F.sum(f"i_m2_{c}").over(fr))
                k = F.col(f"__k_{c}")
                b_hop = F.when(
                    F.col(f"i_cnt_{c}") > 0,
                    F.pow(F.col(f"i_sum_{c}") - F.col(f"i_cnt_{c}") * k, 2)
                    / F.col(f"i_cnt_{c}"),
                )
                add(f"t_b_{sfx}", F.sum(b_hop).over(fr))
                add(f"__k_{c}", k)
            if op in (Operation.SKEW, Operation.KURTOSIS):
                # re-shift each hop's central sums from its own mean to K
                # (exact polynomial transform; d_h = mean_h - K is
                # O(sigma)-scale since K is the key's overall mean):
                # S3K_h = M3_h + 3 d M2_h + n d^3
                # S4K_h = M4_h + 4 d M3_h + 6 d^2 M2_h + n d^4
                n_h = F.col(f"i_cnt_{c}")
                d_h = F.when(n_h > 0, F.col(f"i_sum_{c}") / n_h - F.col(f"__k_{c}"))
                m2_h, m3_h = F.col(f"i_m2_{c}"), F.col(f"i_m3_{c}")
                s3k = m3_h + 3 * d_h * m2_h + n_h * F.pow(d_h, 3)
                add(f"t_s3_{sfx}", F.sum(s3k).over(fr))
                if op is Operation.KURTOSIS:
                    m4_h = F.col(f"i_m4_{c}")
                    s4k = (
                        m4_h
                        + 4 * d_h * m3_h
                        + 6 * F.pow(d_h, 2) * m2_h
                        + n_h * F.pow(d_h, 4)
                    )
                    add(f"t_s4_{sfx}", F.sum(s4k).over(fr))
        elif op is Operation.MIN:
            add(f"t_min_{sfx}", F.min(f"i_min_{c}").over(fr))
        elif op is Operation.MAX:
            add(f"t_max_{sfx}", F.max(f"i_max_{c}").over(fr))
        elif op is Operation.LAST:
            add(f"t_last_{sfx}", F.max(f"i_last_{c}").over(fr))
        elif op is Operation.FIRST:
            add(f"t_first_{sfx}", F.min(f"i_first_{c}").over(fr))
        elif op is Operation.UNIQUE_COUNT:
            add(
                f"t_set_{sfx}",
                F.array_distinct(F.flatten(F.collect_list(f"i_set_{c}").over(fr))),
            )
        elif op is Operation.APPROX_UNIQUE_COUNT:
            add(f"t_hll_{sfx}", F.hll_union_agg(F.col(f"i_hll_{c}")).over(fr))
    return out


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


def hop_irs_for(events: DataFrame, group_by: GroupBy, hop_ms: int) -> DataFrame:
    """(keys, __hop, i_* partial IRs) — the batch-side upload shape of the
    lambda architecture (reference GroupByUpload FinalBatchIr tail hops)."""
    keys = list(group_by.key_columns)
    ev = events.withColumn("__hop", (F.col(TS) / hop_ms).cast("long"))
    return ev.groupBy(*keys, "__hop").agg(*_ir_aggs(group_by.unpack()))


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
    assert supports_hopped(group_by, hop_ms), "unsupported op/window for hopped path"
    min_ts, max_ts = query_range if query_range else (None, None)

    bucketed = [p for p in all_parts if p.bucket is not None]
    parts = [p for p in all_parts if p.bucket is None]
    if bucketed:
        assert events_df is None and extra_hop_irs is None, (
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
    # returned plan (caller-release exempt, same contract as stage() in
    # examples/webtext_curation.py).
    q = register_plan_checkpoint(q.localCheckpoint(eager=False))
    if prune_keys:
        from chronon_spark.operators.join_utils import prune_events_by_keys

        events = prune_events_by_keys(events, q, keys)
    from chronon_spark.operators.asof_join import null_out_nans

    events = null_out_nans(events, list({p.input_column for p in parts}))
    # Same upfront null-key/ts drop as q: a null-key event groups under a
    # key no query can match, a null-ts event has no hop — both contribute
    # nothing. Filtering here equalizes the hop-IR and exact-head branches'
    # pushed filters so the shared repartition below is REUSED (one events
    # scan + one shuffle per part) instead of re-planned per consumer.
    for _c in list(keys) + [TS]:
        events = events.where(F.col(_c).isNotNull())
    events = events.withColumn("__hop", (F.col(TS) / hop_ms).cast("long"))
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
        events = events.repartition(*keys, "__hop")

    # 1. hop partial IRs (+ precomputed batch IRs for the lambda merge)
    hop_irs = events.groupBy(*keys, "__hop").agg(*_ir_aggs(parts))
    if extra_hop_irs is not None:
        # enforce the disjointness contract loudly: overlapping hop ranges
        # would double-count (each (key, hop) must come from exactly one
        # side). Driver-side check on the hop boundaries — costs one agg
        # pass over EACH side, so callers that enforce disjointness
        # structurally (plans/fetcher.py filters fresh rows to
        # ts >= batch_end before calling) pass verify_disjoint=False.
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
    # per-key variance offset K = overall mean of the key's events, computed
    # from the hop IRs themselves (full-partition window — same shuffle as
    # the tail window, no extra pass over raw events)
    var_inputs = sorted({
        p.input_column
        for p in parts
        if p.operation in (Operation.VARIANCE, Operation.SKEW, Operation.KURTOSIS)
    })
    if var_inputs:
        wk = W.partitionBy(*keys).rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing
        )
        for c in var_inputs:
            hop_grid = hop_grid.withColumn(
                f"__k_{c}", F.sum(f"i_sum_{c}").over(wk) / F.sum(f"i_cnt_{c}").over(wk)
            )
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
        F.count(F.col(TS)).alias("__h_n"), *_ir_aggs(parts)
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

    out_cols: list[Column] = []
    for p in parts:
        c = p.input_column
        op = p.operation
        sfx = _tail_sfx(c, _w_hops(p, hop_ms))
        name = p.output_column
        if op in _MOMENT_OPS:
            cnt = F.coalesce(F.col(f"t_cnt_{sfx}"), F.lit(0)) + F.coalesce(
                F.col(f"h_cnt_{c}"), F.lit(0)
            )
            s = F.when(
                cnt > 0,
                F.coalesce(F.col(f"t_sum_{sfx}"), F.lit(0.0))
                + F.coalesce(F.col(f"h_sum_{c}"), F.lit(0.0)),
            )
            if op is Operation.COUNT:
                out_cols.append(cnt.alias(name))
            elif op is Operation.SUM:
                out_cols.append(s.alias(name))
            elif op is Operation.AVERAGE:
                out_cols.append((s / cnt).alias(name))
            elif op in (Operation.SKEW, Operation.KURTOSIS):
                # shifted-moments merge extended to 3rd/4th order: all
                # sums are about the per-key offset K, then re-centered
                # to the window's own mean (delta = mean - K)
                k = F.col(f"__k_{c}")
                h_n = F.coalesce(F.col(f"h_cnt_{c}"), F.lit(0))
                d_hd = F.when(h_n > 0, F.col(f"h_sum_{c}") / h_n - k)
                h_m2 = F.coalesce(F.col(f"h_m2_{c}"), F.lit(0.0))
                h_m3 = F.coalesce(F.col(f"h_m3_{c}"), F.lit(0.0))
                s2k = (
                    F.coalesce(F.col(f"t_m2_{sfx}"), F.lit(0.0))
                    + F.coalesce(F.col(f"t_b_{sfx}"), F.lit(0.0))
                    + F.coalesce(h_m2 + h_n * F.pow(d_hd, 2), F.lit(0.0))
                )
                s3k = F.coalesce(F.col(f"t_s3_{sfx}"), F.lit(0.0)) + F.coalesce(
                    h_m3 + 3 * d_hd * h_m2 + h_n * F.pow(d_hd, 3), F.lit(0.0)
                )
                delta = s / cnt - k
                m2t = s2k - cnt * F.pow(delta, 2)
                m3t = s3k - 3 * delta * s2k + 2 * cnt * F.pow(delta, 3)
                m2bar = m2t / cnt
                if op is Operation.SKEW:
                    val = (m3t / cnt) / F.pow(m2bar, 1.5)
                else:
                    h_m4 = F.coalesce(F.col(f"h_m4_{c}"), F.lit(0.0))
                    s4k = F.coalesce(
                        F.col(f"t_s4_{sfx}"), F.lit(0.0)
                    ) + F.coalesce(
                        h_m4
                        + 4 * d_hd * h_m3
                        + 6 * F.pow(d_hd, 2) * h_m2
                        + h_n * F.pow(d_hd, 4),
                        F.lit(0.0),
                    )
                    m4t = (
                        s4k
                        - 4 * delta * s3k
                        + 6 * F.pow(delta, 2) * s2k
                        - 3 * cnt * F.pow(delta, 4)
                    )
                    val = (m4t / cnt) / F.pow(m2bar, 2.0) - 3.0
                # kernel null rule: defined only for n > 1 and m2 > 0
                out_cols.append(
                    F.when((cnt > 1) & (m2bar > 0), val).alias(name)
                )
            else:  # VARIANCE (population) — shifted-moments merge:
                # M2_total = sum(m2_g) + sum(n_g*(mean_g-K)^2) - A^2/N,
                # A = S - N*K (Chan's parallel variance about a per-key
                # offset K; all terms O(N*sigma^2), so no catastrophic
                # cancellation at mu >> sigma production magnitudes)
                k = F.col(f"__k_{c}")
                m2 = F.coalesce(F.col(f"t_m2_{sfx}"), F.lit(0.0)) + F.coalesce(
                    F.col(f"h_m2_{c}"), F.lit(0.0)
                )
                h_b = F.when(
                    F.col(f"h_cnt_{c}") > 0,
                    F.pow(F.col(f"h_sum_{c}") - F.col(f"h_cnt_{c}") * k, 2)
                    / F.col(f"h_cnt_{c}"),
                )
                b = F.coalesce(F.col(f"t_b_{sfx}"), F.lit(0.0)) + F.coalesce(
                    h_b, F.lit(0.0)
                )
                a = s - cnt * k
                var = (m2 + b - F.pow(a, 2) / cnt) / cnt
                out_cols.append(F.when(cnt > 0, F.greatest(var, F.lit(0.0))).alias(name))
        elif op is Operation.MIN:
            out_cols.append(F.least(f"t_min_{sfx}", f"h_min_{c}").alias(name))
        elif op is Operation.MAX:
            out_cols.append(F.greatest(f"t_max_{sfx}", f"h_max_{c}").alias(name))
        elif op is Operation.LAST:
            st = F.greatest(F.col(f"t_last_{sfx}"), F.col(f"h_last_{c}"))
            out_cols.append(st["v"].alias(name))
        elif op is Operation.FIRST:
            st = F.least(F.col(f"t_first_{sfx}"), F.col(f"h_first_{c}"))
            out_cols.append(st["v"].alias(name))
        elif op is Operation.UNIQUE_COUNT:
            t_set, h_set = F.col(f"t_set_{sfx}"), F.col(f"h_set_{c}")
            merged = F.array_distinct(
                F.array_union(F.coalesce(t_set, h_set), F.coalesce(h_set, t_set))
            )
            out_cols.append(
                F.when(t_set.isNull() & h_set.isNull(), F.lit(0))
                .otherwise(F.size(merged))
                .cast("long")
                .alias(name)
            )
        elif op is Operation.APPROX_UNIQUE_COUNT:
            est = F.hll_sketch_estimate(
                F.hll_union(F.col(f"t_hll_{sfx}"), F.col(f"h_hll_{c}"), True)
            )
            out_cols.append(est.alias(name))
    out = joined.select(*keys, TS, *out_cols)
    if group_by.derivations:
        out = apply_derivations(out, group_by.derivations, keys + [TS])
    return out
