"""The three workloads: their Join confs, set-up, measured operation and
correctness check.

- ``backfill_hopped``: ``plans.backfill_join.backfill_join`` in sawtooth
  mode; the pure-Catalyst ``operators.asof_hopped`` plan does the work.
- ``backfill_modular_exact``: the same Join and input through
  ``plans.modular`` nodes in exact mode; the ``applyInPandas`` kernel path
  does the work and ``asof_hopped`` none.
- ``serving_lambda``: a refresh (upload, one week of closed tiles,
  compaction) in set-up, then ``plans.fetcher.fetch_join`` calls over
  request batches from one closed-loop client.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from chronon_spark.api.types import (
    Aggregation,
    EntitySource,
    EventSource,
    ExternalPart,
    ExternalSource,
    GroupBy,
    Join,
    JoinPart,
    Operation,
    Query,
    Window,
)
from chronon_spark.checkpoint import release_plan_checkpoints
from chronon_spark.operators.asof_hopped import hop_irs_for
from chronon_spark.operators.asof_join import events_df_for_group_by
from chronon_spark.plans import modular
from chronon_spark.plans.backfill_join import backfill_join
from chronon_spark.plans.fetcher import fetch_join
from chronon_spark.plans.partition_range import PartitionRange
from chronon_spark.plans.upload import compact_tiles, upload_group_by

import inputs
import oracle

DAY_MS = inputs.DAY_MS
# one backfill step over the days the left table covers
BACKFILL_RANGE = PartitionRange(
    inputs.ds_of(inputs.day_ms(inputs.SPAN_DAYS - inputs.LEFT_DAYS)),
    inputs.ds_of(inputs.day_ms(inputs.SPAN_DAYS - 1)),
)
STEP_DAYS = 30
URL_HOP_MS = DAY_MS  # the url GroupBy's sawtooth hop (30d window)
DOM_HOP_MS = 5 * 60_000  # the domain GroupBy's hop (its 1h window)
DOM_WINDOWS = (Window.hours(1), Window.days(1), Window.days(7),
               Window.days(30), Window.days(90))


def _src(table: str, selects: dict) -> EventSource:
    return EventSource(table=table, query=Query(selects=selects, time_column="ts_ms"))


def url_group_by(narrow: str) -> GroupBy:
    """The flagship per-url part: COUNT, AVERAGE over 30 days, LAST."""
    return GroupBy(
        sources=(_src(narrow, {"url": "url", "text_len": "text_len"}),),
        key_columns=("url",),
        aggregations=(
            Aggregation("text_len", Operation.COUNT),
            Aggregation("text_len", Operation.AVERAGE, windows=(Window.days(30),)),
            Aggregation("text_len", Operation.LAST),
        ),
        name="url",
    )


def domain_group_by(narrow: str) -> GroupBy:
    """The per-domain multi-window part: 4 ops x {1h, 1d, 7d, 30d, 90d}."""
    return GroupBy(
        sources=(_src(narrow, {"domain": "domain", "text_len": "text_len"}),),
        key_columns=("domain",),
        aggregations=tuple(
            Aggregation("text_len", op, windows=DOM_WINDOWS)
            for op in (Operation.COUNT, Operation.SUM, Operation.AVERAGE, Operation.MAX)
        ),
        name="dom",
    )


def backfill_conf(p: inputs.Paths) -> Join:
    left = _src(p.left, {"url": "url", "domain": "domain", "lang": "lang",
                         "text_len": "text_len"})
    return Join(left=left, name="core", join_parts=(
        JoinPart(url_group_by(p.narrow)), JoinPart(domain_group_by(p.narrow))))


def entity_group_by(p: inputs.Paths) -> GroupBy:
    cols = ("domain", "budget", "ds", "mutation_ts", "is_before")
    return GroupBy(
        sources=(EntitySource(
            snapshot_table=p.snapshot, mutation_table=p.mutations,
            query=Query(selects={c: c for c in cols}, partition_column="ds"),
        ),),
        key_columns=("domain",),
        aggregations=tuple(Aggregation("budget", op) for op in
                           (Operation.SUM, Operation.COUNT, Operation.AVERAGE)),
        name="entity",
    )


EXTERNAL = ExternalSource(name="domain_rank", key_columns=("domain",),
                          value_columns=("rank", "tier"),
                          value_types={"rank": "int", "tier": "string"})


def serving_conf(p: inputs.Paths) -> Join:
    return Join(
        left=_src(p.narrow, {"url": "url", "domain": "domain"}),
        join_parts=(JoinPart(url_group_by(p.narrow)), JoinPart(entity_group_by(p))),
        online_external_parts=(ExternalPart(EXTERNAL),),
        name="serve",
    )


@dataclass
class Prepared:
    """One set-up pass: the written inputs plus the session-bound frames
    the operations read (rebuilt by ``bind`` in a new session)."""

    name: str
    dir: str
    paths: inputs.Paths
    join: Join
    request_rows: int
    refresh_dir: str = ""  # serving: upload, tiles and compacted tables
    expected_rows: int = 0  # rows one operation must produce
    ops_run: int = 0  # numbers the backfill outputs: each op writes a fresh path
    upload: object = None
    requests: list = None  # serving: one request frame per batch
    external: object = None


def prepare(name: str, spark, out_dir: str, seed: int, sizes, tracer) -> Prepared:
    """Write the seeded inputs (serving: and refresh the upload)."""
    serving = name == "serving_lambda"
    paths = inputs.write_inputs(spark, os.path.join(out_dir, "in"), seed, sizes, serving)
    prep = Prepared(name, out_dir, paths,
                    serving_conf(paths) if serving else backfill_conf(paths),
                    sizes.request_rows)
    if serving:
        refresh(spark, prep, tracer, "refresh")
    bind(spark, prep)
    return prep


def bind(spark, prep: Prepared) -> None:
    if prep.name != "serving_lambda":
        lo, hi = BACKFILL_RANGE.ts_range()
        prep.expected_rows = (
            spark.read.parquet(prep.paths.left)
            .where((F.col("ts_ms") >= lo) & (F.col("ts_ms") <= hi)).count()
        )
        return
    req = spark.read.parquet(prep.paths.requests).toPandas()
    prep.requests = [
        spark.createDataFrame(g.drop(columns="batch").reset_index(drop=True))
        for _, g in req.groupby("batch", sort=True)
    ]
    prep.expected_rows = prep.request_rows
    prep.external = spark.read.parquet(prep.paths.external)
    prep.upload = spark.read.parquet(f"{prep.refresh_dir}/compacted")


def refresh(spark, prep: Prepared, tracer, tag: str) -> None:
    """Upload at the old batch end, one week of closed tiles, compaction to
    the new batch end; the compacted upload feeds the fetches."""
    gb = prep.join.join_parts[0].group_by
    old_end, new_end = inputs.serving_batch_ends()
    base = os.path.join(prep.dir, tag)
    with tracer.span("plans.upload.upload_group_by"):
        upload_group_by(spark, gb, old_end, URL_HOP_MS, output_path=f"{base}/upload")
    with tracer.span("operators.asof_hopped.hop_irs_for"):
        events = events_df_for_group_by(spark, gb, old_end, new_end - 1).where(
            (F.col("ts") >= old_end) & (F.col("ts") < new_end))
        hop_irs_for(events, gb, URL_HOP_MS).write.parquet(f"{base}/tiles")
    with tracer.span("plans.upload.compact_tiles"):
        compact_tiles(
            spark, gb, spark.read.parquet(f"{base}/upload"),
            spark.read.parquet(f"{base}/tiles"), old_end, new_end, URL_HOP_MS,
        ).write.parquet(f"{base}/compacted")
    prep.refresh_dir = base


def node_label(node: dict) -> str:
    """source | part-<prefix> | merge."""
    if node["kind"] == "join_part":
        return "part-" + node["node_id"].split(":", 1)[1]
    return node["kind"]


def run_op(spark, prep: Prepared, tracer):
    """One operation; returns its output (a path or rows). A backfill
    writes to a fresh path: ``plans.backfill`` resumes checkpointed
    partitions, so a rerun into an old path would compute nothing."""
    name, i = prep.name, prep.ops_run
    prep.ops_run += 1
    if name == "serving_lambda":
        _, new_end = inputs.serving_batch_ends()
        req = prep.requests[i % len(prep.requests)]
        with tracer.span("plans.fetcher.fetch_join"):
            return fetch_join(
                spark, prep.join, req, new_end, URL_HOP_MS,
                uploads={"url": prep.upload},
                external_frames={EXTERNAL.name: prep.external},
            ).toPandas()
    out = os.path.join(prep.dir, f"out-{i}")
    if name == "backfill_hopped":
        with tracer.span("plans.backfill_join.backfill_join"):
            backfill_join(spark, prep.join, out, BACKFILL_RANGE,
                          step_days=STEP_DAYS, mode="sawtooth")
    else:
        for node in modular.plan_join_nodes(prep.join, out):
            with tracer.span(f"plans.modular.run_join_node.{node_label(node)}"):
                modular.run_join_node(spark, prep.join, node, out, BACKFILL_RANGE,
                                      step_days=STEP_DAYS, mode="exact")
    release_plan_checkpoints()
    return out


def output_frame(spark, out) -> pd.DataFrame:
    if isinstance(out, pd.DataFrame):
        return out
    return spark.read.parquet(out).drop("ds").toPandas()


def check(spark, prep: Prepared, outs: list, seed: int) -> list:
    """(operation index, mismatch) pairs over every output: the row count
    of each, and the naive oracle on the url and domain features of a
    seed-sampled key set of the last backfill (serving: of every fetched
    row) that always holds the hottest domain and the history-less key."""
    frames = [output_frame(spark, o) for o in outs]
    bad = [(i, f"{len(f)} rows, want {prep.expected_rows}")
           for i, f in enumerate(frames) if len(f) != prep.expected_rows]
    events = (spark.read.parquet(prep.paths.narrow)
              .withColumnRenamed("ts_ms", "ts").drop("lang").toPandas())
    url_parts = url_group_by(prep.paths.narrow).unpack()
    if prep.name == "serving_lambda":
        tables = {t: spark.read.parquet(getattr(prep.paths, t)).toPandas()
                  for t in ("snapshot", "mutations", "external")}
        for i, f in enumerate(frames):
            bad += [(i, m) for m in _check_fetch(f, events, url_parts, tables)]
        return bad
    rng = np.random.RandomState(seed)
    out, last = frames[-1], len(frames) - 1
    exact = prep.name == "backfill_modular_exact"
    urls = list(rng.choice(sorted(set(out["url"]) - {inputs.FRESH_URL}), 6, replace=False))
    for u in urls + [inputs.FRESH_URL]:
        bad += [(last, m) for m in oracle.check_event_part(
            out, events, "url", u, url_parts, "url", None if exact else URL_HOP_MS)]
    hot = events["domain"].value_counts().idxmax()
    others = sorted(set(out["domain"]) - {hot, inputs.FRESH_DOMAIN})
    hot_rows = out[out["domain"] == hot]
    keyed = [(out, inputs.FRESH_DOMAIN), (out, others[rng.randint(0, len(others))]),
             (hot_rows.iloc[rng.choice(len(hot_rows), 3, replace=False)], hot)]
    dom_parts = domain_group_by(prep.paths.narrow).unpack()
    for rows, d in keyed:
        bad += [(last, m) for m in oracle.check_event_part(
            rows, events, "domain", d, dom_parts, "dom", None if exact else DOM_HOP_MS)]
    return bad


def _check_fetch(out: pd.DataFrame, events, url_parts, tables: dict) -> list:
    bad = []
    for u in out["url"].unique():
        bad += oracle.check_event_part(out, events, "url", u, url_parts, "url", URL_HOP_MS)
    ext = tables["external"].set_index("domain")
    for r in out.to_dict("records"):
        want = oracle.entity_expected(tables["snapshot"], tables["mutations"],
                                      r["domain"], int(r["ts"]))
        want.update({f"ext_domain_rank_{c}": ext.at[r["domain"], c]
                     if r["domain"] in ext.index else None
                     for c in EXTERNAL.value_columns})
        bad += [f"domain={r['domain']} ts={r['ts']} {c}: got {r[c]!r}, want {w!r}"
                for c, w in want.items() if not oracle.same(r[c], w)]
    return bad


def kernel_qps(spark, prep: Prepared) -> float:
    """Queries per second of ``kernel.sawtooth.compute_asof_features`` called
    directly on the hottest domain's events and its left rows in the
    backfill range, with the domain part's exact windows (best of 3)."""
    from chronon_spark.kernel.sawtooth import compute_asof_features

    ev = (spark.read.parquet(prep.paths.narrow).withColumnRenamed("ts_ms", "ts")
          .select("domain", "ts", "text_len").toPandas())
    hot = ev[ev["domain"] == ev["domain"].value_counts().idxmax()].sort_values("ts")
    lo, hi = BACKFILL_RANGE.ts_range()
    q = hot["ts"][(hot["ts"] >= lo) & (hot["ts"] <= hi)].to_numpy()
    parts = domain_group_by(prep.paths.narrow).unpack()
    compute_asof_features(hot, q, parts)
    walls = []
    for _ in range(3):
        t = time.perf_counter()
        compute_asof_features(hot, q, parts)
        walls.append(time.perf_counter() - t)
    return len(q) / min(walls)
