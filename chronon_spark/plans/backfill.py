"""Resumable partitioned backfill with per-partition lineage + metrics.

North-rule requirements implemented here:
- jobs are **resumable from per-partition checkpoints**: the output table's
  existing ``ds`` partitions are the checkpoint state; a re-run computes
  only the missing ranges (reference unfilledRanges semantics,
  spark/.../catalog/TableUtils.scala:347-431),
- **step-day chunking** bounds per-job shuffle size
  (JoinBase.scala:344-365),
- **lineage + row-count/byte metrics emitted per partition** to a sidecar
  ``<output>__lineage`` table,
- **semantic conf-hash**: a changed conf invalidates the checkpoint state
  (reference semantic-hash archive behavior, JoinUtils.scala:292-328,
  simplified to whole-conf granularity).

Storage: partitioned parquet with dynamic partition overwrite — the same
write semantics as Iceberg ``overwritePartitions()``; on a cluster with the
Iceberg runtime the writer switches to ``writeTo(t).overwritePartitions()``
(`use_iceberg=True`). The checkpoint/lineage logic is identical either way.
"""

from __future__ import annotations

import hashlib
import re
import time
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from chronon_spark.plans.partition_range import PartitionRange, missing_ranges

DS = "ds"


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf), p, jvm


def require_utc_session(spark: SparkSession) -> None:
    """Backfill date math derives ``ds`` via session-timezone date_format
    while PartitionRange.ts_range computes UTC bounds; a non-UTC session
    would drop left rows near midnight between the two. Fail fast instead
    (chronon_spark.session.build_session sets UTC)."""
    tz = spark.conf.get("spark.sql.session.timeZone", "")
    if tz not in ("UTC", "Etc/UTC", "GMT", "Z"):
        raise ValueError(
            f"backfill requires spark.sql.session.timeZone=UTC (got {tz!r}); "
            "ds partition strings and ts_range bounds must agree"
        )


_DOTTED_TABLE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)+$")


def is_table_name(output: str) -> bool:
    """catalog table vs filesystem path. Paths contain '/' or end in
    .parquet; tables must be DOTTED identifiers (db.tbl) — a bare name
    like 'out' is ambiguous (it would silently become a warehouse table
    when a relative directory was intended) and raises."""
    if "/" in output or output.endswith(".parquet"):
        return False
    if _DOTTED_TABLE.match(output):
        return True
    raise ValueError(
        f"ambiguous output {output!r}: use a dotted db.table identifier "
        "for catalog tables or a path containing '/' for directories"
    )


def existing_partitions(spark: SparkSession, output_path: str, partition_col: str = DS) -> set:
    """ds values already present in a partitioned output (directory or
    catalog table).

    Paths: Hadoop FileSystem listing (works for file://, hdfs://, s3a://).
    Tables: the format provider's partition listing (SHOW PARTITIONS /
    Iceberg .partitions metadata). Either way this is metadata-only —
    partition discovery never reads data files.
    """
    if is_table_name(output_path):
        from chronon_spark.catalog.format import resolve_format

        if not spark.catalog.tableExists(output_path):
            return set()
        fmt = resolve_format(spark, output_path)
        return set(fmt.primary_partitions(spark, output_path, partition_col))
    fs, p, jvm = _hadoop_fs(spark, output_path)
    if not fs.exists(p):
        return set()
    out = set()
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(f"{partition_col}="):
            out.add(name.split("=", 1)[1])
    return out


def partition_bytes(spark: SparkSession, output_path: str, ds: str, partition_col: str = DS) -> int:
    """On-disk bytes of one output partition. Paths: filesystem content
    summary. Catalog tables: resolve the table's storage location via the
    format provider and probe the same ds=... layout under it (0 when the
    format's layout is not hive-style, e.g. Iceberg data files — those
    carry sizes in snapshot metadata, runtime-gated)."""
    if is_table_name(output_path):
        from chronon_spark.catalog.format import resolve_format

        base = resolve_format(spark, output_path).table_location(spark, output_path)
        if not base:
            return 0
        output_path = base
    fs, _, jvm = _hadoop_fs(spark, output_path)
    p = jvm.org.apache.hadoop.fs.Path(f"{output_path}/{partition_col}={ds}")
    if not fs.exists(p):
        return 0
    return fs.getContentSummary(p).getLength()


def conf_hash(conf) -> str:
    """Stable hash of a conf object (dataclass reprs are deterministic)."""
    return hashlib.md5(repr(conf).encode()).hexdigest()[:16]


@dataclass
class BackfillResult:
    computed: list  # list[PartitionRange] actually computed this run
    skipped_partitions: int  # checkpointed partitions left untouched
    lineage_rows: int


def lineage_path(output_path: str) -> str:
    return output_path.rstrip("/") + "__lineage"


def read_lineage(spark: SparkSession, output_path: str) -> Optional[DataFrame]:
    lp = lineage_path(output_path)
    if is_table_name(output_path):
        return spark.table(lp) if spark.catalog.tableExists(lp) else None
    fs, p, _ = _hadoop_fs(spark, lp)
    return spark.read.parquet(lp) if fs.exists(p) else None


LINEAGE_SCHEMA = (
    "ds string, job_name string, rows long, bytes long, wall_sec_step double,"
    " step_start string, step_end string, conf_hash string, written_at double"
)


def write_lineage(spark: SparkSession, output_path: str, rows: list) -> None:
    """Append lineage rows (dicts in ``LINEAGE_SCHEMA`` order) to the
    ``<output>__lineage`` side table. The rows go in as one pandas frame,
    which ``createDataFrame`` ships through Arrow: no Python RDD."""
    import pandas as pd

    names = [f.split()[0] for f in LINEAGE_SCHEMA.split(",")]
    lin_df = spark.createDataFrame(
        pd.DataFrame(rows, columns=names), schema=LINEAGE_SCHEMA
    )
    if is_table_name(output_path):
        lin_df.write.mode("append").saveAsTable(lineage_path(output_path))
    else:
        lin_df.write.mode("append").parquet(lineage_path(output_path))


def _stored_conf_hash(spark: SparkSession, output_path: str) -> Optional[str]:
    lin = read_lineage(spark, output_path)
    if lin is None:
        return None
    row = lin.orderBy(F.col("written_at").desc()).select("conf_hash").first()
    return row[0] if row else None


def backfill(
    spark: SparkSession,
    compute: Callable[[SparkSession, PartitionRange], DataFrame],
    output_path: str,
    date_range: PartitionRange,
    step_days: int = 30,
    partition_col: str = DS,
    job_name: str = "backfill",
    conf=None,
    repartition_by_range: bool = True,
    recompute_days: int = 0,
) -> BackfillResult:
    """Fill ``output_path`` for ``date_range``, skipping checkpointed
    partitions; each step-range computes, writes with dynamic partition
    overwrite, and appends one lineage row per written partition, its row
    count observed by the write itself (no read-back job).

    ``compute(spark, sub_range)`` must return a DataFrame containing
    ``partition_col``. With ``repartition_by_range`` the output is
    range-partitioned on ``partition_col`` before the write so each task
    writes one output partition's files (no small-file explosion; the
    north rule's explicit ``repartitionByRange`` before materialization).
    """
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    chash = conf_hash(conf) if conf is not None else ""

    existing = existing_partitions(spark, output_path, partition_col)
    if is_table_name(output_path):
        # Format-agnostic empty-day markers: dynamic overwrite registers
        # partitions only for days WITH rows; Hive gets ADD PARTITION below
        # but Iceberg/Delta have no empty-partition concept, so the lineage
        # table (one row per ds, written even for empty days) is the
        # durable checkpoint record for them.
        lin = read_lineage(spark, output_path)
        if lin is not None:
            # only days whose LATEST lineage record says rows == 0 count as
            # checkpointed-via-lineage: non-empty days must keep resuming
            # from the physical partition listing (so a DROPped partition
            # recomputes), while empty days have no physical partition to
            # list on Iceberg/Delta and would otherwise recompute forever
            from pyspark.sql import Window as _W

            latest = (
                lin.where(F.col("job_name") == job_name)
                .withColumn(
                    "__rn",
                    F.row_number().over(
                        _W.partitionBy("ds").orderBy(F.col("written_at").desc())
                    ),
                )
                .where((F.col("__rn") == 1) & (F.col("rows") == 0))
            )
            existing |= {r[0] for r in latest.select("ds").collect()}
    if existing and chash:
        stored = _stored_conf_hash(spark, output_path)
        if stored is not None and stored != chash:
            # conf changed -> checkpoint state is invalid; recompute all
            existing = set()

    if recompute_days > 0:
        # label-recompute semantics (reference StagingQuery recomputeDays,
        # thrift/api.thrift:66-107): the trailing N partitions of the range
        # are always recomputed even if checkpointed - labels/late data
        # near the range end may have changed.
        tail = set()
        ds_list = list(date_range.partitions())
        for ds in ds_list[-recompute_days:]:
            tail.add(ds)
        existing = existing - tail

    holes = missing_ranges(date_range, existing)
    skipped = date_range.days - sum(h.days for h in holes)

    computed, lineage_rows = [], []
    for hole in holes:
        for step in hole.steps(step_days):
            t0 = time.time()
            df = compute(spark, step)
            if partition_col not in df.columns:
                raise ValueError(f"compute() must emit {partition_col}")
            df = df.where(
                (F.col(partition_col) >= step.start) & (F.col(partition_col) <= step.end)
            )
            if repartition_by_range:
                df = df.repartitionByRange(max(step.days, 1), partition_col)
            # per-partition row counts, observed by the write itself (above
            # the range exchange, so its sampling pass is not counted)
            days = list(step.partitions())
            seen = Observation(f"{job_name}:{step.start}")
            df = df.observe(
                seen,
                *[
                    F.count_if(F.col(partition_col) == ds).alias(f"rows_{i}")
                    for i, ds in enumerate(days)
                ],
            )
            as_table = is_table_name(output_path)
            if as_table:
                from chronon_spark.catalog.format import write_partitioned

                write_partitioned(df, output_path, partition_col)
            else:
                (
                    df.write.mode("overwrite")
                    .partitionBy(partition_col)
                    .parquet(output_path)
                )
            wall = time.time() - t0
            # Checkpoint marker for EMPTY partitions: dynamic overwrite only
            # creates partitions for days that had rows, so a day with no
            # data would look "missing" forever and be recomputed on every
            # resume. Paths get an empty ds=... directory; Hive tables get
            # ADD IF NOT EXISTS PARTITION (the warehouse's registered-but-
            # empty partition).
            if as_table:
                from chronon_spark.catalog.format import HiveFormat, resolve_format

                if isinstance(resolve_format(spark, output_path), HiveFormat):
                    for ds in days:
                        spark.sql(
                            f"ALTER TABLE {output_path} ADD IF NOT EXISTS "
                            f"PARTITION ({partition_col}='{ds}')"
                        )
            else:
                fs, _, jvm = _hadoop_fs(spark, output_path)
                for ds in days:
                    pdir = jvm.org.apache.hadoop.fs.Path(
                        f"{output_path}/{partition_col}={ds}"
                    )
                    if not fs.exists(pdir):
                        fs.mkdirs(pdir)
            # one lineage row per partition of the step, empty ones too;
            # bytes from the filesystem
            counts = seen.get
            now = time.time()
            for i, ds in enumerate(days):
                lineage_rows.append(
                    {
                        "ds": ds,
                        "job_name": job_name,
                        "rows": int(counts.get(f"rows_{i}") or 0),
                        "bytes": partition_bytes(spark, output_path, ds, partition_col),
                        "wall_sec_step": round(wall, 3),
                        "step_start": step.start,
                        "step_end": step.end,
                        "conf_hash": chash,
                        "written_at": now,
                    }
                )
            computed.append(step)

    if lineage_rows:
        write_lineage(spark, output_path, lineage_rows)

    return BackfillResult(computed, skipped, len(lineage_rows))
