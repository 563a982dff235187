"""Entity-mutation GroupBys on the serving path: upload + fetch.

Reference: ``GroupByUpload.scala:64-130`` builds FinalBatchIr KV uploads
for ENTITY sources too (snapshot collapsed IR + tail hops at the batch
end), and the fetcher replays the serving day's mutations on top. The
repo's lambda read path previously covered event sources only
(plans/fetcher.py / upload.py); this module closes the entity route
(r4 VERDICT Next #7):

- :func:`upload_temporal_entities` materializes the query-independent
  batch IR frames of :func:`~chronon_spark.operators.mutations.
  entity_batch_irs`, PRUNED to the one serving day a batch end defines —
  the "KV upload" as parquet tables,
- :func:`fetch_temporal_entities` serves request (keys, ts) rows on that
  day from the reloaded upload plus a partition-pruned scan of ONLY the
  serving day's mutations — history is never rescanned, exactly the
  lambda shape of the event-side fetcher.

Consistency guarantee (pytest-pinned): fetch through the materialized
upload ≡ ``temporal_entities`` full recompute at every (keys, ts) —
the entity analogue of ConsistencyJob's offline==online check.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronon_spark.api.types import GroupBy
from chronon_spark.operators.mutations import (
    DAY_MS,
    ds_of,
    entity_batch_irs,
    entity_mutation_scan,
    entity_snapshot_scan,
    temporal_entities,
)
from chronon_spark.sources.scan import TS


def upload_temporal_entities(
    spark: SparkSession,
    group_by: GroupBy,
    batch_end_ms: int,
    out_dir: str,
    tail_buffer_ms: int = 2 * DAY_MS,
) -> dict:
    """Materialize the entity batch IRs serving ``batch_end_ms``'s day.

    Each frame lands as a parquet table under ``out_dir`` with a
    manifest naming them — the offline stand-in for the reference's KV
    upload. Only the snapshot partition serving that day is scanned, so
    every frame's ``__prev_ds`` is that partition: the upload is ONE
    day's serving state, not all history."""
    assert batch_end_ms % DAY_MS == 0, "entity batch end must be a UTC midnight"
    ds = ds_of(batch_end_ms)
    # the frames' __prev_ds is the snapshot PARTITION (serving day - 1):
    # the end-of-day(d-1) state serves day d's queries
    snap_ds = ds_of(batch_end_ms - DAY_MS)
    src = group_by.sources[0]
    snap = entity_snapshot_scan(spark, src).where(
        F.col(src.query.partition_column).cast("string") == snap_ds
    )
    irs = entity_batch_irs(spark, group_by, tail_buffer_ms, snapshot_df=snap)
    manifest: dict = {"serving_ds": ds, "frames": {}}

    def _write(name: str, df: DataFrame):
        path = os.path.join(out_dir, name)
        df.write.mode("overwrite").parquet(path)
        manifest["frames"][name] = path

    if irs["scalar"] is not None:
        _write("scalar", irs["scalar"])
    for hop_ms, df in irs["hops"].items():
        _write(f"hops_{hop_ms}", df)
    for i, df in irs["hist"].items():
        _write(f"hist_{i}", df)
    for i, df in irs["hist_hops"].items():
        _write(f"hist_hops_{i}", df)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "_manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def load_entity_upload(spark: SparkSession, out_dir: str) -> dict:
    """Reload a materialized upload into the batch_irs dict shape."""
    with open(os.path.join(out_dir, "_manifest.json")) as f:
        manifest = json.load(f)
    out: dict = {"scalar": None, "hops": {}, "hist": {}, "hist_hops": {}}
    for name, path in manifest["frames"].items():
        df = spark.read.parquet(path)
        if name == "scalar":
            out["scalar"] = df
        elif name.startswith("hops_"):
            out["hops"][int(name.split("_", 1)[1])] = df
        elif name.startswith("hist_hops_"):
            out["hist_hops"][int(name.rsplit("_", 1)[1])] = df
        elif name.startswith("hist_"):
            out["hist"][int(name.rsplit("_", 1)[1])] = df
    return out, manifest["serving_ds"]


def fetch_temporal_entities(
    spark: SparkSession,
    group_by: GroupBy,
    requests: DataFrame,
    batch_end_ms: int,
    upload_dir: Optional[str] = None,
    batch_irs: Optional[dict] = None,
    tail_buffer_ms: int = 2 * DAY_MS,
) -> DataFrame:
    """Serve entity-mutation features at request (keys, ts) rows on the
    serving day from the upload + the day's mutations only.

    Requests outside ``[batch_end, batch_end + 1 day)`` are refused
    loudly — their state lives in a different day's upload (the same
    contract as the event-side fetcher's batch-end check)."""
    assert batch_end_ms % DAY_MS == 0, "entity batch end must be a UTC midnight"
    lo = requests.agg(F.min(TS), F.max(TS)).first()
    if lo[0] is not None and (
        int(lo[0]) < batch_end_ms or int(lo[1]) >= batch_end_ms + DAY_MS
    ):
        raise ValueError(
            f"request ts range [{lo[0]}, {lo[1]}] outside the serving day "
            f"[{batch_end_ms}, {batch_end_ms + DAY_MS}); fetch uses the "
            "upload for exactly one day"
        )
    if batch_irs is None:
        assert upload_dir is not None, "pass upload_dir or batch_irs"
        batch_irs, ds = load_entity_upload(spark, upload_dir)
    else:
        ds = ds_of(batch_end_ms)

    # partition-pruned fresh side: ONLY the serving day's mutations
    src = group_by.sources[0]
    pc = src.query.partition_column
    fresh = entity_mutation_scan(spark, src).where(F.col(pc).cast("string") == ds)
    return temporal_entities(
        spark,
        group_by,
        requests,
        tail_buffer_ms=tail_buffer_ms,
        batch_irs=batch_irs,
        mutations_df=fresh,
    )
