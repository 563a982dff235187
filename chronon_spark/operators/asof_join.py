"""Point-in-time ("as-of") GroupBy and Join operators.

This is the engine's flagship — the reference's skew-free UnionJoin
(spark/src/main/scala/ai/chronon/spark/join/UnionJoin.scala:28-198,
kernel join/SawtoothUdf.scala:82-139) re-expressed Spark-first:

reference (RDD)                         this engine (DataFrame/Arrow)
--------------------------------------  --------------------------------------
null-pad structs + union + groupBy      cogrouped ``applyInPandas`` — queries
  (collect_list) + array_sort             and events shuffle once on the key
                                          and stream into the kernel as Arrow
                                          batches (no collect_list blowup)
mapPartitions + per-row JVM aggregators numpy-vectorized kernel
                                          (chronon_spark.kernel.sawtooth)

Scale properties:
- ONE shuffle per side, hash-partitioned on the entity key; Catalyst plans
  the cogroup as ``FlatMapCoGroupsInPandas`` over two sorted children.
- Narrow projection before the shuffle: only keys + ts + aggregation input
  columns move (reference does the same, UnionJoin.scala:124-132).
- Window-derived scan range: events outside [min_query_ts - max_window,
  max_query_ts] are filtered at the scan (GroupBy.scala:616-663) so the
  parquet/Iceberg reader prunes partitions.
- Skew: hot keys route to the time-hop plan (chronon_spark.operators.
  asof_hopped — per-task work bounded by (key, hop)) and/or explicit
  skew-key exclusion on the Join (reference JoinUtils.scala:330-382).
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from chronon_spark.api.types import (
    AggregationPart,
    GroupBy,
    Join,
    Operation,
    validate_identifier,
)
from chronon_spark.kernel.sawtooth import compute_asof_features
from chronon_spark.sources.scan import TS, scan_source

_DOUBLE_OPS = {
    Operation.SUM,
    Operation.AVERAGE,
    Operation.VARIANCE,
    Operation.SKEW,
    Operation.KURTOSIS,
    Operation.MIN,
    Operation.MAX,
}
_LONG_OPS = {Operation.COUNT, Operation.UNIQUE_COUNT, Operation.APPROX_UNIQUE_COUNT}
_MAP_LONG_OPS = {
    Operation.HISTOGRAM,
    Operation.APPROX_FREQUENT_K,
    Operation.APPROX_HEAVY_HITTERS_K,
}


def null_out_nans(df: DataFrame, cols: list) -> DataFrame:
    """Engine-wide convention: NaN inputs are treated as null (skipped by
    every aggregation). Rationale: Arrow float batches deliver nulls AS NaN
    to the Python kernel (indistinguishable), and the reference finalizes
    NaN to null anyway (DirectColumnAggregator.scala:75,85-89) — so the
    only consistent cross-plan semantics is NaN == null at the input."""
    for c in cols:
        if isinstance(df.schema[c].dataType, (T.DoubleType, T.FloatType)):
            df = df.withColumn(c, F.when(~F.isnan(F.col(c)), F.col(c)))
    return df


def apply_derivations(df, derivations: dict, base_cols: list):
    """Reference derivation semantics (Join.scala:401-462, derivationProjection;
    thrift Derivation): the derivation select list REPLACES the *value*
    columns; a "*" entry passes everything through. All non-value base
    columns (keys, left selects, ts) always survive — pass them as
    ``base_cols``. At GroupBy level that is keys+ts; at Join level it is
    every left/base column (the reference's derivationProjection retains
    baseValueNames' complement plus ensureKeys)."""
    exprs = [f"{e} AS {a}" for a, e in derivations.items() if a != "*"]
    named = set(derivations) - {"*"}
    if "*" in derivations:
        # expand the star MANUALLY, excluding columns a derivation alias
        # shadows — selectExpr("*", ...) would emit duplicate names when a
        # derivation renames/overrides a base column (reference
        # derivationProjection excludes shadowed base columns the same way)
        keep = [c for c in df.columns if c not in named]
        return df.selectExpr(*keep, *exprs)
    keep = [c for c in base_cols if c in df.columns and c not in named]
    return df.selectExpr(*keep, *exprs)


def part_value_type(part: AggregationPart, input_type: T.DataType) -> T.DataType:
    """Spark type of one part's (unbucketed) output value."""
    op = part.operation
    if op in _LONG_OPS:
        return T.LongType()
    if op in _DOUBLE_OPS:
        return T.DoubleType()
    if op in (Operation.FIRST, Operation.LAST):
        return input_type
    if op in (Operation.FIRST_K, Operation.LAST_K):
        return T.ArrayType(input_type)
    if op in (Operation.TOP_K, Operation.BOTTOM_K, Operation.UNIQUE_TOP_K):
        return T.ArrayType(T.DoubleType())
    if op is Operation.APPROX_PERCENTILE:
        return T.ArrayType(T.DoubleType())
    if op in _MAP_LONG_OPS:
        return T.MapType(T.StringType(), T.LongType())
    raise NotImplementedError(op)


def part_output_field(part: AggregationPart, events_schema: T.StructType) -> T.StructField:
    input_type = events_schema[part.input_column].dataType
    vtype = part_value_type(part, input_type)
    if part.bucket is not None:
        vtype = T.MapType(T.StringType(), vtype)
    return T.StructField(part.output_column, vtype, True)


def events_df_for_group_by(
    spark: SparkSession,
    group_by: GroupBy,
    min_ts: Optional[int] = None,
    max_ts: Optional[int] = None,
) -> DataFrame:
    """Scan + union all sources, narrow-project to keys + ts + inputs."""
    parts = group_by.unpack()
    need = list(
        dict.fromkeys(
            list(group_by.key_columns)
            + [TS]
            + [p.input_column for p in parts]
            + [p.bucket for p in parts if p.bucket]
        )
    )
    # Window-derived scan narrowing (reference GroupBy.scala:616-663).
    scan_min = None
    if min_ts is not None:
        mw = group_by.max_window_millis
        scan_min = (min_ts - mw) if mw is not None else None
    def one(s) -> DataFrame:
        # ModelTransforms sources score then feed the GroupBy like any
        # event scan (reference Source.ModelTransforms,
        # thrift/api.thrift:188-193; ModelTransformsJob feeds GroupBy
        # backfills the same way)
        from chronon_spark.api.types import JoinSource
        from chronon_spark.operators.model_transforms import (
            ModelTransforms,
            model_transforms_source,
        )

        if isinstance(s, ModelTransforms):
            return model_transforms_source(spark, s, min_ts=scan_min, max_ts=max_ts)
        if isinstance(s, JoinSource):
            # batch chaining (reference GroupBy.scala:412-477: the parent
            # Join is materialized then substituted as the source table).
            # A pre-backfilled table short-circuits; otherwise the parent
            # computes inline, bounded to the lookback-extended range.
            from dataclasses import replace as _rep

            from chronon_spark.sources.scan import apply_query, load_table

            q = s.query
            if q.selects and not q.time_column:
                # the parent output already carries ts — keep it through a
                # narrowing select unless the query rebinds time itself
                q = _rep(q, time_column=TS)
            if s.table is not None:
                return apply_query(load_table(spark, s.table), q)
            parent = join_asof(
                spark, s.join,
                left_ts_range=(scan_min, max_ts) if (scan_min or max_ts) else None,
            )
            return apply_query(parent, q)
        return scan_source(spark, s, min_ts=scan_min, max_ts=max_ts)

    dfs = [one(s).select(*need) for s in group_by.sources]
    df = dfs[0]
    for other in dfs[1:]:
        df = df.unionByName(other)
    # Null-key filter: keep rows where at least one key is non-null
    # (reference GroupBy.scala:516-517).
    cond = None
    for k in group_by.key_columns:
        c = F.col(k).isNotNull()
        cond = c if cond is None else (cond | c)
    return df.where(cond)


def group_by_asof(
    spark: SparkSession,
    group_by: GroupBy,
    queries: DataFrame,
    tail_hop_ms: Optional[int] = None,
    query_range: Optional[tuple] = None,
    num_groups: Optional[int] = None,
    prune_keys: bool = False,
) -> DataFrame:
    """Compute all of ``group_by``'s features at each distinct (keys, ts)
    row of ``queries``.

    ``queries`` must contain the GroupBy's key columns and a ``ts`` epoch-
    millis LONG column. Returns one row per distinct (keys, ts) with one
    feature column per AggregationPart.

    Plan shape (the reference's skew-free UnionJoin, UnionJoin.scala:28-198,
    with the per-key mapPartitions kernel replaced by a MULTI-key Arrow
    kernel):

    1. null-pad queries/events to a common narrow schema and ``unionByName``
       (reference UnionJoin.scala:61-83),
    2. ONE hash shuffle on ``pmod(hash(keys), G)`` — G bounded groups, each
       holding many keys, so per-key Python/Arrow invocation overhead is
       amortized G-fold (a per-KEY cogroup spends ~ms of Arrow round-trip
       per key; at millions of url keys that dominates wall time),
    3. inside each group: pandas groupby(keys) → vectorized sawtooth kernel
       per key (chronon_spark.kernel.sawtooth).

    ``num_groups`` bounds per-group memory at scale: a group materializes
    |events+queries|/G rows in pandas. Default 4× default parallelism.
    """
    if group_by.aggregations is None:
        raise ValueError(
            "no-agg GroupBys (aggregations=None) are SNAPSHOT entity "
            "passthroughs (snapshot_join.snapshot_entities); temporal "
            "accuracy needs explicit aggregations"
        )
    keys = [validate_identifier(k) for k in group_by.key_columns]
    parts = group_by.unpack()
    min_ts, max_ts = query_range if query_range else (None, None)

    events = events_df_for_group_by(spark, group_by, min_ts, max_ts)
    q = queries.select(*keys, TS).dropna(subset=keys).distinct()
    if prune_keys:
        from chronon_spark.operators.join_utils import prune_events_by_keys

        events = prune_events_by_keys(events, q, keys)

    input_cols = [c for c in events.columns if c not in keys + [TS]]
    ev_u = events.select(
        *keys, F.col(TS).cast("long").alias(TS), F.lit(1).alias("__side"), *input_cols
    )
    q_u = q.select(
        *keys,
        F.col(TS).cast("long").alias(TS),
        F.lit(0).alias("__side"),
        *[F.lit(None).cast(events.schema[c].dataType).alias(c) for c in input_cols],
    )
    unioned = ev_u.unionByName(q_u)

    G = num_groups or spark.sparkContext.defaultParallelism * 4
    unioned = unioned.withColumn("__g", F.pmod(F.hash(*keys), F.lit(G)))

    out_schema = T.StructType(
        [queries.schema[k] for k in keys]
        + [T.StructField(TS, T.LongType(), False)]
        + [part_output_field(p, events.schema) for p in parts]
    )
    part_cols = [p.output_column for p in parts]
    key_cols = list(keys)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        outs = []
        empty = pd.DataFrame({f.name: pd.Series(dtype=object) for f in out_schema.fields})
        for _, grp in pdf.groupby(key_cols, sort=False, dropna=False):
            side = grp["__side"].to_numpy()
            q_rows = grp[side == 0]
            if len(q_rows) == 0:
                continue
            ev_rows = grp[side == 1]
            q_ts = q_rows[TS].to_numpy(dtype=np.int64)
            feats = compute_asof_features(ev_rows, q_ts, parts, tail_hop_ms)
            out = q_rows[key_cols + [TS]].reset_index(drop=True)
            for c in part_cols:
                out[c] = pd.Series(
                    feats.get(c, [None] * len(q_ts)), index=out.index, dtype=object
                )
            outs.append(out)
        if not outs:
            return empty
        return pd.concat(outs, ignore_index=True)

    out = unioned.groupBy("__g").applyInPandas(kernel, schema=out_schema)
    if group_by.derivations:
        out = apply_derivations(out, group_by.derivations, keys + [TS])
    return out


def _max_key_volume(spark: SparkSession, gb: GroupBy, query_range) -> Optional[int]:
    """The mode="auto" skew pre-check: the max per-key event count over the
    part's (lookback-narrowed) scan. It runs once per fused part group
    (``_fuse_join_parts`` merges parts over one source into one call) and
    always reads the source as it is now."""
    events = events_df_for_group_by(spark, gb, *(query_range or (None, None)))
    return (
        events.groupBy(*gb.key_columns)
        .agg(F.count(F.lit(1)).alias("__c"))
        .agg(F.max("__c"))
        .first()[0]
    )


def compute_join_part(
    spark: SparkSession,
    gb: GroupBy,
    part_queries: DataFrame,
    mode: str = "exact",
    tail_hop_ms: Optional[int] = None,
    prune_keys: bool = False,
    query_range: Optional[tuple] = None,
    hot_key_bound: int = 2_000_000,
) -> DataFrame:
    """Dispatch one GroupBy's as-of computation to the best physical plan.

    - ``mode="sawtooth"`` (the reference's semantics, Resolution.scala:38-48
      auto hop): if every op is mergeable, the pure-Catalyst hopped plan
      (operators.asof_hopped — no Python, skew-free via time-hop spreading);
      otherwise the Arrow kernel with the hopping tail.
    - ``mode="exact"``: exact sliding windows via the Arrow kernel.
    - ``mode="auto"``: exact kernel by default, but a cheap skew pre-check
      (max per-key event count — one map-side-combined agg pass) routes to
      the skew-free hopped plan when any key's volume exceeds
      ``hot_key_bound`` and every op is hop-mergeable. A hot key would
      otherwise materialize all its events in ONE pandas group; the hopped
      plan spreads work across (key, hop). Trades exact tails for the
      reference's sawtooth tails only when skew demands it (the
      reference's Analyzer hot-key warning, made self-acting).
    - SNAPSHOT-accuracy GroupBys (regardless of mode) get the day-shift
      rule: features as of the previous midnight (JoinBase.scala:66-125),
      via the daily snapshot table joined on (keys, date(ts)-1).
    """
    from chronon_spark.api.types import Accuracy, EntitySource, tail_hop_millis
    from chronon_spark.operators.asof_hopped import group_by_asof_hopped, supports_hopped

    if gb.accuracy is Accuracy.SNAPSHOT:
        return _snapshot_part(spark, gb, part_queries)

    # EVENTS x ENTITIES TEMPORAL: mutating dimension -> deletable-IR replay
    # (reference JoinPartJob dispatch, batch/JoinPartJob.scala:216-246)
    src0 = gb.sources[0]
    if isinstance(src0, EntitySource) and src0.mutation_table:
        from chronon_spark.operators.mutations import temporal_entities

        return temporal_entities(spark, gb, part_queries)

    if mode == "auto":
        parts = gb.unpack()
        windows = [p.window for p in parts if p.window is not None]
        hop = tail_hop_ms or (min(tail_hop_millis(w) for w in windows) if windows else 86_400_000)
        if supports_hopped(gb, hop):
            mx = _max_key_volume(spark, gb, query_range)
            if mx is not None and mx > hot_key_bound:
                return group_by_asof_hopped(
                    spark, gb, part_queries, hop,
                    query_range=query_range, prune_keys=prune_keys,
                )
        return group_by_asof(
            spark, gb, part_queries, tail_hop_ms=tail_hop_ms,
            query_range=query_range, prune_keys=prune_keys,
        )

    if mode == "sawtooth":
        parts = gb.unpack()
        windows = [p.window for p in parts if p.window is not None]
        hop = tail_hop_ms or (min(tail_hop_millis(w) for w in windows) if windows else 86_400_000)
        if supports_hopped(gb, hop):
            return group_by_asof_hopped(
                spark, gb, part_queries, hop,
                query_range=query_range, prune_keys=prune_keys,
            )
        return group_by_asof(
            spark, gb, part_queries, tail_hop_ms=hop,
            query_range=query_range, prune_keys=prune_keys,
        )
    # exact mode; an explicit tail_hop_ms still selects the kernel's
    # sawtooth rounding (backward-compatible escape hatch)
    return group_by_asof(
        spark, gb, part_queries, tail_hop_ms=tail_hop_ms,
        query_range=query_range, prune_keys=prune_keys,
    )


def _agg_identity(agg) -> tuple:
    return (
        agg.input_column,
        agg.operation,
        tuple(sorted((k, repr(v)) for k, v in agg.arg_map.items())),
        agg.windows,
        agg.buckets,
    )


def _fuse_join_parts(join_conf: Join, fusable: bool) -> list:
    """Group join parts that can share ONE as-of computation: identical key
    mapping, sources, and accuracy (reference computes each part separately,
    JoinPartJob per part; fusing halves the shuffle count for the common
    same-entity multi-part case). Parts with GroupBy derivations or with
    output-column collisions under different aggregation identities stay
    solo; bootstrap mode disables fusion (per-part covering-set filters
    differ)."""
    if not fusable:
        return [[jp] for jp in join_conf.join_parts]
    groups: list[list] = []
    index: dict = {}
    outcols: dict = {}
    for jp in join_conf.join_parts:
        gb = jp.group_by
        mapping = jp.key_mapping or {k: k for k in gb.key_columns}
        key = (tuple(sorted(mapping.items())), repr(gb.sources), gb.accuracy)
        if gb.derivations:
            groups.append([jp])
            continue
        if key in index:
            gi = index[key]
            collision = any(
                outcols[gi].get(p.output_column) not in (None, _agg_identity(a))
                for a in gb.aggregations
                for p in a.unpack()
            )
            if not collision:
                groups[gi].append(jp)
                for a in gb.aggregations:
                    for p in a.unpack():
                        outcols[gi][p.output_column] = _agg_identity(a)
                continue
        groups.append([jp])
        index[key] = len(groups) - 1
        outcols[len(groups) - 1] = {
            p.output_column: _agg_identity(a) for a in gb.aggregations for p in a.unpack()
        }
    return groups


def _jp_out_cols(jp) -> list:
    """Unprefixed output column names a join part contributes (accounting
    for GroupBy derivations replace/passthrough semantics)."""
    gb = jp.group_by
    base = [p.output_column for p in gb.unpack()]
    if not gb.derivations:
        return base
    derived = [a for a in gb.derivations if a != "*"]
    return (base + derived) if "*" in gb.derivations else derived


def _merged_group_by(jps: list) -> GroupBy:
    """One GroupBy holding the deduped union of the fused parts' aggs."""
    gb0 = jps[0].group_by
    if len(jps) == 1:
        return gb0
    merged: dict = {}
    for jp in jps:
        for a in jp.group_by.aggregations:
            merged.setdefault(_agg_identity(a), a)
    return GroupBy(
        sources=gb0.sources,
        key_columns=gb0.key_columns,
        aggregations=tuple(merged.values()),
        accuracy=gb0.accuracy,
        name="+".join(jp.group_by.name for jp in jps),
    )


def _snapshot_part(spark: SparkSession, gb: GroupBy, part_queries: DataFrame) -> DataFrame:
    """SNAPSHOT-accuracy part: (keys, ts) -> features of the previous day's
    snapshot (PIT-at-midnight; reference MergeJob.scala:174-229)."""
    from chronon_spark.operators.snapshot_groupby import snapshot_group_by

    keys = list(gb.key_columns)
    q = part_queries.select(*keys, F.col(TS).cast("long").alias(TS)).dropna(
        subset=keys
    ).distinct()
    q = q.withColumn(
        "__prev_ds",
        F.date_format(F.date_sub(F.timestamp_millis(F.col(TS)).cast("date"), 1), "yyyy-MM-dd"),
    )
    bounds = q.agg(F.min("__prev_ds"), F.max("__prev_ds")).first()
    snap = snapshot_group_by(spark, gb, bounds[0], bounds[1]).withColumnRenamed(
        "ds", "__prev_ds"
    )
    return q.join(snap, on=keys + ["__prev_ds"], how="left").drop("__prev_ds")


def join_asof(
    spark: SparkSession,
    join_conf: Join,
    tail_hop_ms: Optional[int] = None,
    mode: str = "exact",
    bootstrap_df: Optional[DataFrame] = None,
    prune_keys: bool = False,
    left_ts_range: Optional[tuple] = None,
    hot_key_bound: int = 2_000_000,
) -> DataFrame:
    """Full point-in-time Join: left query rows x many GroupBys.

    Reproduces the reference Join lifecycle (JoinBase.computeJoinOpt,
    SURVEY.md §3) in one Spark plan: scan left, apply skew-key exclusion,
    compute each join part at the left's distinct (mapped-keys, ts), then
    fold the part outputs back with broadcast-aware left joins on
    (keys, ts).

    ``left_ts_range`` (min_ts, max_ts inclusive epoch millis) bounds the
    LEFT scan — a step-chunked backfill passes its step range so each step
    does only its own share of as-of work (the part event scans then apply
    the window lookback below the range's min, reference JoinBase step
    semantics). Without it an N-step backfill would redo the full-range
    join N times.
    """
    left = scan_source(
        spark, join_conf.left,
        min_ts=left_ts_range[0] if left_ts_range else None,
        max_ts=left_ts_range[1] if left_ts_range else None,
    )

    # Skew-key exclusion (reference JoinUtils.scala:330-382).
    if join_conf.skew_keys:
        for col, hot in join_conf.skew_keys.items():
            if col in left.columns:
                left = left.where(~F.col(col).isin(list(hot)) | F.col(col).isNull())

    result = left
    part_value_cols: list = []  # prefixed part outputs — the join's "value" columns
    if bootstrap_df is not None:
        from chronon_spark.operators.join_utils import bootstrap_join

        row_ids = list(join_conf.row_ids or [])
        assert row_ids, "bootstrap requires Join.row_ids"
        result = bootstrap_join(result, bootstrap_df, row_ids)

    for jps in _fuse_join_parts(join_conf, fusable=bootstrap_df is None):
        gb0 = jps[0].group_by
        mapping = jps[0].key_mapping or {k: k for k in gb0.key_columns}
        # left col -> right key rename for the part computation
        sel = [F.col(lc).alias(rk) for lc, rk in mapping.items()] + [F.col(TS)]
        part_queries = left.select(*sel)
        if join_conf.skew_keys:
            for col, hot in join_conf.skew_keys.items():
                mapped = mapping.get(col, col)
                if mapped in part_queries.columns:
                    part_queries = part_queries.where(
                        ~F.col(mapped).isin(list(hot)) | F.col(mapped).isNull()
                    )
        if bootstrap_df is not None:
            # rows the bootstrap fully covers skip this part's computation
            from chronon_spark.operators.join_utils import uncovered_rows

            part_out_cols = [
                f"{jps[0].full_prefix()}_{c}" for c in _jp_out_cols(jps[0])
            ]
            need = uncovered_rows(result, part_out_cols)
            sel2 = [F.col(lc).alias(rk) for lc, rk in mapping.items()] + [F.col(TS)]
            part_queries = need.select(*sel2)

        merged_gb = _merged_group_by(jps)
        feats = compute_join_part(
            spark,
            merged_gb,
            part_queries,
            mode=mode,
            tail_hop_ms=tail_hop_ms,
            prune_keys=prune_keys,
            query_range=left_ts_range,
            hot_key_bound=hot_key_bound,
        )
        # one select projects every fused part's columns with its prefix
        inv = {rk: lc for lc, rk in mapping.items()}
        key_cols = [F.col(rk).alias(inv.get(rk, rk)) for rk in merged_gb.key_columns]
        part_value_cols += [
            f"{jp.full_prefix()}_{c}" for jp in jps for c in _jp_out_cols(jp)
        ]
        out_cols = [
            F.col(c).alias(f"{jp.full_prefix()}_{c}")
            for jp in jps
            for c in _jp_out_cols(jp)
        ]
        feats = feats.select(*key_cols, F.col(TS), *out_cols)
        join_keys = list(mapping.keys()) + [TS]
        if bootstrap_df is not None:
            from chronon_spark.operators.join_utils import coalesced_join

            result = coalesced_join(result, feats, join_keys)
        else:
            result = result.join(feats, on=join_keys, how="left")

    if join_conf.derivations:
        # base = every non-value column (left schema survives; only the
        # prefixed part outputs are replaced) — Join.derivationProjection.
        value_set = set(part_value_cols)
        base_cols = [c for c in result.columns if c not in value_set]
        result = apply_derivations(result, join_conf.derivations, base_cols)
    return result
