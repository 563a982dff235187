"""Offline Fetcher: the serving-side lambda READ path, run as one batch plan.

Reference: ``online/fetcher/Fetcher.scala`` (fetchJoin → fetchGroupBys
fan-out, prefix/key-mapping/derivation application), ``FetcherUtil.scala``
(batch-IR ⊕ streaming-tile merge), ``GroupByServingInfoParsed.scala``
(batch end / schemas), ``JoinCodec.scala`` (key/value/derived schemas) and
``aggregator/.../SawtoothOnlineAggregator.scala:84-165`` (the lambda
merge math itself).

The reference serves point lookups from a KV store; this module is the
same read path expressed as a *batch* DataFrame plan over a REQUESTS
table — the shape used for bulk scoring, online/offline-consistency
checks (``stats/ConsistencyJob.scala``) and replaying a day of serving
traffic. The lambda contract is identical:

- batch side: the FinalBatchIr upload table (``plans/upload.py`` —
  collapsed row + tail hops at a hop-aligned ``batch_end_ms``),
- fresh side: only rows with ``ts >= batch_end_ms`` (streaming tiles),
- merge: request-first (``plans.upload.fetch_live_hop``, the reference's
  per-request FinalBatchIr ⊕ tiles merge). Each request reads its own
  key's upload ⊕ fresh hop-IR rows before its hop (the tail) and its own
  hop's events up to its ts (the exact head); one aggregation per request
  merges them, each window keeping the rows inside it, and
  ``hop_ir.finalize`` turns the merged IRs into features. Sawtooth
  accuracy, identical to ``group_by_asof_hopped`` over full history.

Scale: a request's tail is bounded by the upload's shape (one collapsed
row + the largest window's hops + the fresh hops per key), so the merge
grows with the requests and their keys' rows, not with the whole upload;
the fresh-event scan is bounded below by ``batch_end_ms``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from chronon_spark.api.types import Accuracy, GroupBy, Join, validate_identifier
from chronon_spark.operators import hop_ir
from chronon_spark.operators.asof_hopped import hop_irs_for, supports_hopped
from chronon_spark.operators.asof_join import (
    _jp_out_cols,
    apply_derivations,
    events_df_for_group_by,
    null_out_nans,
    part_output_field,
)
from chronon_spark.plans.upload import check_tile_range, fetch_live_hop, upload_group_by
from chronon_spark.sources.scan import TS


@dataclass(frozen=True)
class GroupByServingInfo:
    """What a fetcher needs to serve one GroupBy — the offline analogue of
    ``GroupByServingInfoParsed`` (batch end, hop resolution, schemas)."""

    group_by: GroupBy
    batch_end_ms: int
    hop_ms: int
    key_schema: T.StructType
    value_schema: T.StructType


def _check_servable(group_by: GroupBy, batch_end_ms: int, hop_ms: int) -> None:
    """The lambda merge's preconditions on a GroupBy and its batch end."""
    if batch_end_ms % hop_ms:
        raise ValueError("batch end must align to a hop boundary")
    if group_by.aggregations is None:
        raise ValueError(
            "no-agg GroupBys are SNAPSHOT entity passthroughs; the fetcher "
            "serves explicit aggregations"
        )
    if not supports_hopped(group_by, hop_ms):
        raise ValueError(
            "fetcher serves hop-mergeable operations only "
            "(reference serving set; see asof_hopped.HOPPED_OPS)"
        )
    if any(p.bucket is not None for p in group_by.unpack()):
        raise ValueError(
            "bucketed aggregations are not served by the lambda read path"
        )
    if group_by.accuracy is not Accuracy.TEMPORAL:
        raise ValueError(
            "SNAPSHOT GroupBys are served straight from the daily snapshot "
            "table (plans/snapshot path), not the lambda merge"
        )


def group_by_serving_info(
    spark: SparkSession, group_by: GroupBy, batch_end_ms: int, hop_ms: int
) -> GroupByServingInfo:
    _check_servable(group_by, batch_end_ms, hop_ms)
    ev_schema = events_df_for_group_by(spark, group_by, None, None).schema
    keys = T.StructType(
        [ev_schema[validate_identifier(k)] for k in group_by.key_columns]
    )
    vals = T.StructType([part_output_field(p, ev_schema) for p in group_by.unpack()])
    return GroupByServingInfo(group_by, batch_end_ms, hop_ms, keys, vals)


def join_codec(
    spark: SparkSession,
    join_conf: Join,
    served_names: Optional[set] = None,
) -> dict:
    """Key/value/derived schemas of a Join's serving response —
    ``JoinCodec.scala`` (keyCodec/baseValueSchema/outputSchema).

    Derived columns are typed by running the derivation expressions over
    an EMPTY frame with the base schema — Catalyst's analyzer is the
    type oracle, no re-implementation (CatalystUtil.scala does the same
    trick online).

    ``served_names``: restrict to join parts whose GroupBy is actually
    serving data — the reference's schema-evolution rule
    (SchemaEvolutionTest.scala:366-390): a newly added GroupBy with no
    uploaded data is invisible to the codec, so ``schema_hash`` is
    UNCHANGED until its upload lands, while removing a GroupBy from the
    conf changes the hash immediately."""
    import hashlib

    from chronon_spark.sources.scan import scan_source

    left_schema = scan_source(spark, join_conf.left).schema
    key_cols: list = []
    value_fields: list = []
    for jp in join_conf.join_parts:
        gb = jp.group_by
        if served_names is not None and gb.name not in served_names:
            continue
        mapping = jp.key_mapping or {k: k for k in gb.key_columns}
        key_cols += [lc for lc in mapping if lc not in key_cols]
        if _is_mutation_entity(gb):
            # entity parts type from the snapshot-side scan (mutation
            # meta columns never reach the value schema)
            from chronon_spark.operators.mutations import entity_snapshot_scan

            ev_schema = entity_snapshot_scan(spark, gb.sources[0]).schema
        else:
            ev_schema = events_df_for_group_by(spark, gb, None, None).schema
        part_fields = [part_output_field(p, ev_schema) for p in gb.unpack()]
        if gb.derivations:
            # derived part outputs: type them with the same empty-frame
            # Catalyst-analyzer trick, then keep only _jp_out_cols' names
            base = T.StructType(
                [T.StructField(k, ev_schema[k].dataType) for k in gb.key_columns]
                + [T.StructField(TS, T.LongType())]
                + part_fields
            )
            derived_schema = apply_derivations(
                spark.createDataFrame([], base),
                gb.derivations,
                list(gb.key_columns) + [TS],
            ).schema
            keep = set(_jp_out_cols(jp))
            part_fields = [f for f in derived_schema.fields if f.name in keep]
        for f in part_fields:
            value_fields.append(
                T.StructField(f"{jp.full_prefix()}_{f.name}", f.dataType, True)
            )
    for ep in getattr(join_conf, "online_external_parts", ()) or ():
        # external parts are always in the codec (the reference's
        # JoinCodec includes externalPart.valueSchema fields regardless
        # of upload state — Extensions.scala:830)
        for lc in (ep.key_mapping or {k: k for k in ep.source.key_columns}):
            if lc not in key_cols:
                key_cols.append(lc)
        for vc in ep.source.value_columns:
            dt = _external_value_type(spark, ep.source, vc, left_schema)
            value_fields.append(
                T.StructField(f"{ep.full_name}_{vc}", dt, True)
            )
    key_schema = T.StructType([left_schema[c] for c in key_cols])
    base = T.StructType(list(left_schema.fields) + value_fields)
    out_schema = base
    if join_conf.derivations:
        empty = spark.createDataFrame([], base)
        base_cols = [f.name for f in left_schema.fields]
        out_schema = apply_derivations(
            empty, join_conf.derivations, base_cols
        ).schema
    schema_hash = hashlib.md5(
        (key_schema.json() + "|" + out_schema.json()).encode()
    ).hexdigest()[:16]
    return {
        "key_schema": key_schema,
        "base_value_schema": T.StructType(value_fields),
        "output_schema": out_schema,
        "schema_hash": schema_hash,
    }


def _external_value_type(
    spark: SparkSession, src, vc: str, request_schema: T.StructType
) -> T.DataType:
    """The served type of external value column ``vc``, shared by the codec
    and the fetch: a contextual source echoes the request column when the
    request has it; a service value, or a context column the request lacks
    (served null), takes its ``value_types`` entry, default string."""
    if src.is_contextual and vc in request_schema.names:
        return request_schema[vc].dataType
    vt = src.value_types or {}
    if vc not in vt:
        return T.StringType()
    return spark.createDataFrame([], f"`{vc}` {vt[vc]}").schema[vc].dataType


def _is_mutation_entity(group_by: GroupBy) -> bool:
    """A GroupBy whose source is a mutating entity table — served by the
    mutation-replay route, not the event lambda merge."""
    from chronon_spark.api.types import EntitySource

    src = group_by.sources[0]
    return isinstance(src, EntitySource) and bool(src.mutation_table)


def _validate_requests(requests: DataFrame, batch_end_ms: int) -> tuple:
    """One agg pass: the lambda read path can only serve ts >= batch end
    (earlier heads live inside the pre-collapsed batch range). Returns the
    (min, max) request ts, both None for no requests."""
    min_req, max_req = requests.agg(F.min(TS), F.max(TS)).first()
    if min_req is not None and int(min_req) < batch_end_ms:
        raise ValueError(
            f"request ts {min_req} predates batch end {batch_end_ms}; "
            "the lambda read path serves ts >= batch end only"
        )
    return min_req, max_req


def fetch_group_by(
    spark: SparkSession,
    group_by: GroupBy,
    requests: DataFrame,
    batch_end_ms: int,
    hop_ms: int,
    upload: Optional[DataFrame] = None,
    fresh_events: Optional[DataFrame] = None,
    _requests_validated: bool = False,
) -> DataFrame:
    """Serve one GroupBy at each request (keys, ts) via the lambda merge.

    ``upload``: FinalBatchIr table (``upload_group_by`` output) — computed
    inline when absent (tests); production passes the materialized table.
    ``fresh_events``: rows at/after ``batch_end_ms`` (the streaming side);
    scanned from the conf's source when absent. Requests BEFORE the batch
    end are refused loudly: their head events live inside the batch
    range, which the upload pre-collapsed — the reference fetcher can
    only serve ts >= batchEndTs too (FetcherUtil lambda assumption).
    ``fetch_join`` validates the requests ONCE and passes
    ``_requests_validated=True`` so an N-part join doesn't re-aggregate
    the request table N times."""
    _check_servable(group_by, batch_end_ms, hop_ms)
    if not _requests_validated:
        _validate_requests(requests, batch_end_ms)
    if upload is None:
        upload = upload_group_by(spark, group_by, batch_end_ms, hop_ms)
    if fresh_events is None:
        fresh_events = events_df_for_group_by(spark, group_by, batch_end_ms, None)
    parts = group_by.unpack()
    fresh_events = null_out_nans(
        fresh_events, list({p.input_column for p in parts})
    ).where(F.col(TS) >= batch_end_ms)
    # disjointness holds structurally: fresh rows are filtered to
    # ts >= batch_end above, and upload_group_by only emits hops strictly
    # below the (hop-aligned) batch end
    return _serve_hop_irs(group_by, requests, upload, fresh_events, hop_ms)


def _serve_hop_irs(
    group_by: GroupBy,
    requests: DataFrame,
    batch_irs: DataFrame,
    events: DataFrame,
    hop_ms: int,
) -> DataFrame:
    """Scalar-IR features at each distinct request (keys, ts) through
    ``fetch_live_hop``: the tail reads ``batch_irs`` ∪ the hop IRs of
    ``events`` (all of whose hops come after ``batch_irs``'), the head
    reads ``events``. One aggregation per request merges each part's IR
    over the rows inside its window (``hop >= qhop - window``; every row
    for an unbounded window), moment IRs about the request's own offset K,
    and ``hop_ir.finalize`` turns them into features."""
    keys = [validate_identifier(k) for k in group_by.key_columns]
    parts = group_by.unpack()
    windows = {hop_ir.window_hops(p, hop_ms) for p in parts}
    n_hops = None if None in windows else max(windows)
    irs = batch_irs.unionByName(hop_irs_for(events, group_by, hop_ms))
    # null keys/ts can never match an event or an IR row
    requests = requests.select(*keys, F.col(TS).cast("long").alias(TS)).dropna()

    def head(rows: DataFrame) -> DataFrame:
        return rows.groupBy(*keys, "__qts").agg(*hop_ir.update_aggs(parts, frame=rows))

    def merge(contrib: DataFrame) -> DataFrame:
        contrib = hop_ir.with_offsets(
            contrib, keys + ["__qts"], hop_ir.moment_inputs(parts)
        )
        # a part's window is its own IR column set ``i_{kind}_{sfx}``: the
        # IR where the row lies inside the window, null elsewhere
        windowed: dict = {}
        for (kind, sfx), (c, w) in hop_ir.windowed_ir_columns(parts, hop_ms).items():
            ir = F.col(f"i_{kind}_{c}")
            windowed[(kind, sfx)] = (
                ir if w is None else F.when(F.col("__hop") >= F.col("__qhop") - w, ir)
            )
            if kind == "m2":
                windowed[("k", sfx)] = F.col(f"__k_{c}")
        merged = contrib.select(
            *keys,
            "__qts",
            *[
                v.alias(f"__k_{sfx}" if kind == "k" else f"i_{kind}_{sfx}")
                for (kind, sfx), v in windowed.items()
            ],
        ).groupBy(*keys, "__qts").agg(
            *[
                F.first(f"__k_{sfx}").alias(f"__k_{sfx}")
                if kind == "k"
                else hop_ir.merge(kind, sfx).alias(f"i_{kind}_{sfx}")
                for kind, sfx in windowed
            ]
        )
        feats = []
        for p in parts:
            sfx = hop_ir.window_suffix(p.input_column, hop_ir.window_hops(p, hop_ms))
            k = F.col(f"__k_{sfx}") if ("k", sfx) in windowed else None
            value = hop_ir.finalize(
                p.operation, lambda kind, sfx=sfx: F.col(f"i_{kind}_{sfx}"), k
            )
            feats.append(value.alias(p.output_column))
        return merged.select(*keys, "__qts", *feats)

    out = fetch_live_hop(requests, irs, events, keys, hop_ms, n_hops, head, merge)
    if group_by.derivations:
        out = apply_derivations(out, group_by.derivations, keys + [TS])
    return out


def fetch_join(
    spark: SparkSession,
    join_conf: Join,
    requests: DataFrame,
    batch_end_ms: int,
    hop_ms: int,
    uploads: Optional[dict] = None,
    fresh_events: Optional[dict] = None,
    missing: Optional[set] = None,
    on_part_failure: str = "raise",
    external_frames: Optional[dict] = None,
) -> DataFrame:
    """Serve a whole Join for a requests table — ``Fetcher.fetchJoin``:
    fan out to each join part's GroupBy fetch (key-mapped), fold the
    prefixed part outputs back onto the requests, apply derivations.

    ``external_frames``: {external source name -> DataFrame} offline
    stand-ins for ``join_conf.online_external_parts`` (the reference
    serves these from a live service and produces NOTHING offline —
    thrift/api.thrift:414-415; here a user-supplied replay/export frame
    of (key columns..., value columns...) fills the same slots).
    External frames are dimension-shaped: they broadcast-join on the
    mapped keys, outputs land as ``ext[_prefix]_<name>_<col>``
    (Extensions.scala:795-798,830). The CONTEXTUAL source echoes request
    columns back as features and needs no frame. A part whose frame is
    absent or whose plan breaks follows ``on_part_failure`` exactly like
    a GroupBy part (reference KeyMissingException soft-fail,
    Fetcher.scala:689).

    ``uploads`` / ``fresh_events``: optional per-GroupBy-name overrides
    of the batch-IR table and the streaming rows (production wiring);
    absent entries compute/scan inline.

    ``missing``: GroupBy names with NO serving data yet (a v2 conf adds
    a GroupBy before its upload lands) — those parts are skipped rather
    than failing the whole fetch, per the reference's schema-evolution
    behavior (SchemaEvolutionTest.scala:366-390; the online fetcher
    discovers this from the KV miss, the offline stand-in is told).
    A derivation referencing a skipped part's column still fails
    loudly — same as the reference's derived-join analyzer.

    ``on_part_failure``: ``"raise"`` (default) fails the fetch on the
    first broken part; ``"embed"`` isolates each part like the
    reference fetcher's KV partial-failure handling
    (FetcherFailureTest.scala:54-81) — a part whose plan cannot be
    built (missing table, bad column, corrupt upload) contributes a
    single ``{prefix}__exception`` string column carrying the error
    while every healthy part still serves. Only plan-construction
    failures are catchable offline (the reference catches per-request
    KV errors at runtime; Spark plans are lazy)."""
    uploads = uploads or {}
    fresh_events = fresh_events or {}
    missing = missing or set()
    req_range = _validate_requests(requests, batch_end_ms)
    result = requests
    part_value_cols: list = []
    for jp in join_conf.join_parts:
        gb = jp.group_by
        if gb.name in missing:
            continue
        mapping = jp.key_mapping or {k: k for k in gb.key_columns}
        try:
            sel = [F.col(lc).alias(rk) for lc, rk in mapping.items()] + [F.col(TS)]
            part_requests = requests.select(*sel)
            if _is_mutation_entity(gb):
                # entity-mutation part: the deletable-IR replay route
                # (plans/entity_serving / operators/mutations) — the
                # reference's GroupByUpload handles entities on the same
                # serving surface (GroupByUpload.scala:64-130). The
                # `uploads` override carries a prebuilt entity_batch_irs
                # dict (manifest-reloaded) rather than an event IR frame.
                feats = _fetch_entity_part(
                    spark, gb, part_requests, uploads.get(gb.name), req_range
                )
            else:
                feats = fetch_group_by(
                    spark,
                    gb,
                    part_requests,
                    batch_end_ms,
                    hop_ms,
                    upload=uploads.get(gb.name),
                    fresh_events=fresh_events.get(gb.name),
                    _requests_validated=True,
                )
            inv = {rk: lc for lc, rk in mapping.items()}
            key_cols = [F.col(rk).alias(inv.get(rk, rk)) for rk in gb.key_columns]
            # GroupBy-level derivations rename/replace the part's outputs
            # (reference GroupByDerivationsTest — served columns must be
            # the DERIVED ones, same as the batch join's _jp_out_cols)
            out_names = _jp_out_cols(jp)
            out_cols = [
                F.col(c).alias(f"{jp.full_prefix()}_{c}") for c in out_names
            ]
            feats = feats.select(*key_cols, F.col(TS), *out_cols)
        except Exception as e:  # noqa: BLE001 — part isolation is the point
            if on_part_failure != "embed":
                raise
            result = result.withColumn(
                f"{jp.full_prefix()}__exception", F.lit(str(e)[:512])
            )
            continue
        part_value_cols += [f"{jp.full_prefix()}_{c}" for c in out_names]
        result = result.join(feats, on=list(mapping.keys()) + [TS], how="left")
    for ep in getattr(join_conf, "online_external_parts", ()) or ():
        try:
            result, ext_cols = _serve_external_part(
                result, ep, (external_frames or {}).get(ep.source.name)
            )
        except Exception as e:  # noqa: BLE001 — part isolation, as above
            if on_part_failure != "embed":
                raise
            result = result.withColumn(
                f"{ep.full_name}__exception", F.lit(str(e)[:512])
            )
            continue
        part_value_cols += ext_cols
    if join_conf.derivations:
        value_set = set(part_value_cols)
        base_cols = [c for c in result.columns if c not in value_set]
        result = apply_derivations(result, join_conf.derivations, base_cols)
    return result


def _fetch_entity_part(
    spark: SparkSession,
    group_by: GroupBy,
    requests: DataFrame,
    batch_irs: Optional[dict],
    req_range: tuple,
) -> DataFrame:
    """Entity-mutation features at the request (keys, ts) rows, reading
    only the request days: a day-d request joins the day-(d-1) snapshot
    IRs and day-d mutations, so snapshot partitions outside
    [first day - 1, last day - 1] and mutation partitions outside
    [first day, last day] cannot contribute. Without ``batch_irs`` the
    snapshot IRs are built here from the pruned snapshot."""
    from chronon_spark.operators.mutations import (
        DAY_MS,
        ds_of,
        entity_batch_irs,
        entity_mutation_scan,
        entity_snapshot_scan,
        temporal_entities,
    )

    src = group_by.sources[0]
    muts = entity_mutation_scan(spark, src)
    snap = None if batch_irs is not None else entity_snapshot_scan(spark, src)
    lo, hi = req_range
    if lo is not None:
        pcol = F.col(src.query.partition_column).cast("string")
        muts = muts.where(pcol.between(ds_of(lo), ds_of(hi)))
        if snap is not None:
            snap = snap.where(
                pcol.between(ds_of(lo - DAY_MS), ds_of(hi - DAY_MS))
            )
    if batch_irs is None:
        batch_irs = entity_batch_irs(spark, group_by, snapshot_df=snap)
    return temporal_entities(
        spark, group_by, requests, batch_irs=batch_irs, mutations_df=muts
    )


def _serve_external_part(result: DataFrame, ep, frame: Optional[DataFrame]):
    """One external part onto the running fetch result. Returns
    (result, value column names). Contextual parts project request
    columns; service parts broadcast-join the replay frame on the mapped
    keys (dimension-shaped by contract — the online analogue is one RPC
    per request, so a frame that needs a shuffle join is mis-modeled)."""
    src = ep.source
    out_names = [f"{ep.full_name}_{c}" for c in src.value_columns]
    if src.is_contextual:
        # a context column the request lacks serves null, like the
        # reference's contextual fetch (Extensions.scala:804-808)
        for c, out in zip(src.value_columns, out_names):
            val = (
                F.col(c)
                if c in result.columns
                else F.lit(None).cast(
                    _external_value_type(
                        result.sparkSession, src, c, result.schema
                    )
                )
            )
            result = result.withColumn(out, val)
        return result, out_names
    if frame is None:
        raise ValueError(
            f"no offline frame registered for external source "
            f"'{src.name}' (pass external_frames={{'{src.name}': df}})"
        )
    mapping = ep.key_mapping or {k: k for k in src.key_columns}
    missing_keys = [lc for lc in mapping if lc not in result.columns]
    if missing_keys:
        # KeyMissingException analogue (Extensions.scala:806-807)
        raise ValueError(
            f"external source '{src.name}' key columns {missing_keys} "
            "missing from the request"
        )
    bad = [c for c in list(mapping.values()) + list(src.value_columns)
           if c not in frame.columns]
    if bad:
        raise ValueError(
            f"external frame for '{src.name}' lacks columns {bad}"
        )
    feats = frame.select(
        *[F.col(rk).alias(lc) for lc, rk in mapping.items()],
        *[F.col(c).alias(out) for c, out in zip(src.value_columns, out_names)],
    )
    result = result.join(F.broadcast(feats), on=list(mapping.keys()), how="left")
    return result, out_names


def fetch_group_by_tiled(
    spark: SparkSession,
    group_by: GroupBy,
    requests: DataFrame,
    batch_end_ms: int,
    hop_ms: int,
    upload: DataFrame,
    tile_irs: DataFrame,
    live_events: DataFrame,
    live_hop: Optional[int] = None,
) -> DataFrame:
    """The fully-tiled serving read path — the reference's steady-state
    online topology (FetcherUtil batch-IR ⊕ tile merge): batch upload for
    hops before the batch end, CLOSED streaming tiles
    (``streaming.stream_groupby.stream_hop_irs`` rows, e.g. resolved from
    the KV upsert log) for hops since, and only the LIVE hop's raw events
    for the exact sawtooth heads. History is never rescanned: the fresh
    scan is bounded by ONE hop.

    Contract (validated here, mirroring the reference's tiled-accuracy
    rule): requests must sit in the live hop — a query in an already
    CLOSED hop would need that hop's raw events for its head, which the
    tiled topology has compacted away. ``live_hop`` defaults to
    ``max(tile_irs.__hop) + 1``; tiles at/after it or at hops before the
    batch end are refused (double-count guard), and live events are
    clipped to ``ts >= live_hop * hop_ms``.
    """
    _check_servable(group_by, batch_end_ms, hop_ms)
    batch_end_hop = batch_end_ms // hop_ms
    _, max_tile = check_tile_range(tile_irs, batch_end_hop, live_hop, "the live hop")
    if live_hop is None:
        live_hop = (int(max_tile) + 1) if max_tile is not None else batch_end_hop
    min_req = requests.agg(F.min(TS)).first()[0]
    if min_req is not None and int(min_req) < live_hop * hop_ms:
        raise ValueError(
            f"request ts {min_req} is in a closed hop (< {live_hop * hop_ms}); "
            "tiled serving answers live-hop requests only"
        )
    parts = group_by.unpack()
    live = null_out_nans(live_events, list({p.input_column for p in parts})).where(
        F.col(TS) >= live_hop * hop_ms
    )
    # disjointness enforced structurally above: upload < batch end <= tiles
    # < live hop <= live events
    merged = upload.unionByName(tile_irs, allowMissingColumns=True)
    return _serve_hop_irs(group_by, requests, merged, live, hop_ms)
