"""GDPR-style tombstone purge: partition-pruned delete with lineage.

Deleting a handful of ids from a 100 TB day-partitioned corpus must not
rewrite 100 TB. The plan:

1. **Probe** — one column-pruned scan of (id, partition) only (the
   parquet reader materializes two columns, nothing else), broadcast
   semi-joined against the (small) tombstone set → the AFFECTED
   partition list. Partitions with no tombstoned row are never read
   again and their files are left byte-identical on disk.
2. **Rewrite** — a partition-pruned read of ONLY the affected
   partitions (`ds IN (...)` reaches the scan as a partition filter),
   broadcast ANTI-join against the tombstones, written to a sibling
   temp directory, then swapped in with per-partition filesystem
   renames (metadata ops, no second data pass). Writing to a temp dir
   instead of dynamic-overwriting in place avoids Spark's
   read-overwrite-same-path hazard without materializing the survivors
   in cluster storage.
3. **Lineage** — one row per affected partition appended to the same
   ``<path>__lineage`` sidecar `plans/backfill.py` maintains
   (job_name="purge", rows = surviving count), so resume/audit tooling
   sees purges exactly like backfills. The returned report carries
   rows_before/rows_after per partition.

The reference has no purge job (its tables are append/overwrite-only,
spark/.../catalog/TableUtils — closest is partition drop); this is the
right-to-be-forgotten primitive a webtext corpus operator actually
needs, built on the repo's partitioned-storage conventions.

Scale notes: tombstones are broadcast (deletion requests are ~1e3-1e6
ids — tiny next to the corpus); the probe scan is the only full pass
and reads two columns; the rewrite touches only affected partitions.
Crash mid-swap leaves a partition either old or new, never half — each
rename is atomic per partition; re-running the purge converges (the
probe finds any remaining tombstoned rows).
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronon_spark.plans.backfill import DS, _hadoop_fs, partition_bytes, write_lineage

__all__ = ["purge", "PurgeResult"]


@dataclass
class PurgeResult:
    partitions_affected: list
    rows_deleted: int
    report: dict = field(default_factory=dict)  # ds -> (rows_before, rows_after)


def purge(
    spark: SparkSession,
    corpus_path: str,
    tombstones: DataFrame,
    id_col: str,
    partition_col: str = DS,
    job_name: str = "purge",
) -> PurgeResult:
    """Remove every row whose ``id_col`` appears in ``tombstones`` from
    the partitioned parquet corpus at ``corpus_path``, rewriting ONLY
    the partitions that contain a tombstoned row."""
    tomb = tombstones.select(id_col).distinct()
    corpus = spark.read.parquet(corpus_path)

    # 1. probe: column-pruned (id, partition) scan, broadcast semi-join
    probe = (
        corpus.select(partition_col, id_col)
        .join(F.broadcast(tomb), id_col, "left_semi")
        .groupBy(F.col(partition_col).cast("string").alias("ds"))
        .count()
        .collect()
    )
    doomed = {r["ds"]: r["count"] for r in probe}
    if not doomed:
        return PurgeResult([], 0, {})
    affected = sorted(doomed)

    before = {
        r["ds"]: r["count"]
        for r in corpus.where(
            F.col(partition_col).cast("string").isin(affected)
        )
        .groupBy(F.col(partition_col).cast("string").alias("ds"))
        .count()
        .collect()
    }

    # 2. rewrite affected partitions into a temp sibling, then swap
    tmp_path = f"{corpus_path.rstrip('/')}__purge_{uuid.uuid4().hex[:8]}"
    kept = (
        corpus.where(F.col(partition_col).cast("string").isin(affected))
        .join(F.broadcast(tomb), id_col, "left_anti")
        .repartitionByRange(max(len(affected), 1), partition_col)
    )
    kept.write.mode("overwrite").partitionBy(partition_col).parquet(tmp_path)

    fs, _, jvm = _hadoop_fs(spark, corpus_path)
    Path = jvm.org.apache.hadoop.fs.Path
    t0 = time.time()
    for ds in affected:
        old = Path(f"{corpus_path}/{partition_col}={ds}")
        new = Path(f"{tmp_path}/{partition_col}={ds}")
        fs.delete(old, True)
        if fs.exists(new):  # a fully-purged partition has no survivors
            fs.rename(new, old)
        else:
            fs.mkdirs(old)  # keep the (now empty) partition registered
    fs.delete(Path(tmp_path), True)
    wall = time.time() - t0

    after = {
        r["ds"]: r["count"]
        for r in spark.read.parquet(corpus_path)
        .where(F.col(partition_col).cast("string").isin(affected))
        .groupBy(F.col(partition_col).cast("string").alias("ds"))
        .count()
        .collect()
    }

    # 3. lineage rows, same sidecar schema as backfill
    now = time.time()
    write_lineage(
        spark,
        corpus_path,
        [
            {
                "ds": ds,
                "job_name": job_name,
                "rows": int(after.get(ds, 0)),
                "bytes": partition_bytes(spark, corpus_path, ds, partition_col),
                "wall_sec_step": round(wall, 3),
                "step_start": ds,
                "step_end": ds,
                "conf_hash": "",
                "written_at": now,
            }
            for ds in affected
        ],
    )

    report = {ds: (before.get(ds, 0), after.get(ds, 0)) for ds in affected}
    deleted = sum(b - a for b, a in report.values())
    return PurgeResult(affected, deleted, report)
