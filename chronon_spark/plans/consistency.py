"""ConsistencyJob: online-vs-offline consistency (OOC) metrics.

Reference: spark/.../stats/ConsistencyJob.scala:34-201 —
1. ``buildComparisonJoin`` replaces the Join's left side with the LOGGED
   serving table (same key columns, logged ``ts``, optional row sampling
   via ``consistencySamplePercent``) and re-runs the Join offline, so the
   comparison table holds the OFFLINE value of every feature at exactly
   the (keys, ts) points the online fetcher served,
2. ``buildConsistencyMetrics`` compares that table against the logged
   values themselves via CompareBaseJob.compare, keyed by ``rowIds`` or
   (time fields + left key columns), and emits per-partition per-column
   consistency metrics (mismatch/null-alignment/drift).

Spark-first shape: step (1) is one ordinary :func:`join_asof` over the
flattened log scan (the skew-free as-of plan — no extra machinery); step
(2) is the repo's single-shuffle :func:`compare_job` grouped by ds, so
the metrics output is |partitions| x |columns| x |metrics| rows
regardless of log volume.
"""

from __future__ import annotations

from dataclasses import replace
from typing import Optional

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from chronon_spark.api.types import EventSource, Join, Query
from chronon_spark.operators.asof_join import join_asof
from chronon_spark.plans.compare import compare_job
from chronon_spark.sources.scan import TS, load_table


def left_key_columns(join_conf: Join) -> list:
    """Union of LEFT-side key columns across join parts (reference
    ``joinConf.leftKeyCols``): each part's key_mapping domain, or the
    GroupBy's own key columns when unmapped."""
    out: list = []
    for jp in join_conf.join_parts:
        mapping = jp.key_mapping or {k: k for k in jp.group_by.key_columns}
        for lc in mapping:
            if lc not in out:
                out.append(lc)
    return out


def build_comparison_join(
    join_conf: Join,
    logged_table: str,
    sample_percent: float = 100.0,
    time_column: str = "ts_millis",
) -> Join:
    """The Join re-targeted at the logged table (reference
    buildComparisonJoin: selects = left keys, timeColumn = log ts,
    RAND() sampling below 100%)."""
    assert sample_percent > 0, (
        f"consistency sample_percent = {sample_percent} disables the job "
        "(reference ConsistencyJob throws the same way)"
    )
    keys = left_key_columns(join_conf)
    wheres = () if sample_percent >= 100 else (f"RAND() <= {sample_percent / 100}",)
    left = EventSource(
        table=logged_table,
        query=Query(
            selects={k: k for k in keys},
            wheres=wheres,
            time_column=time_column,
        ),
    )
    return replace(join_conf, left=left, name=f"{join_conf.name}_comparison")


def consistency_job(
    spark: SparkSession,
    join_conf: Join,
    logged_table: str,
    sample_percent: float = 100.0,
    time_column: str = "ts_millis",
    mode: str = "auto",
    by_ds: bool = True,
    tail_hop_ms: Optional[int] = None,
) -> tuple:
    """(comparison_df, metrics_df) — the ConsistencyJob.run equivalent.

    ``logged_table``: the flattened serving log (plans/log_flattener.py
    output): left key columns + ``time_column`` + one column per served
    feature, named exactly like the Join's output columns.

    Join keys for the comparison follow the reference: ``Join.row_ids``
    when set, else time field + left key columns. External columns logged
    online but absent from the offline Join are dropped before comparing
    (reference ``loggedDfNoExternalCols``).
    """
    # ``tail_hop_ms`` + mode="sawtooth": recompute offline with the SAME
    # hop resolution the fetcher served (plans/fetcher.py) — required for
    # a zero-drift comparison against lambda-served logs.
    comparison = join_asof(spark, build_comparison_join(
        join_conf, logged_table, sample_percent, time_column
    ), mode=mode, tail_hop_ms=tail_hop_ms)

    logged = load_table(spark, logged_table).withColumn(
        TS, F.col(time_column).cast("long")
    )
    # only columns the offline join also produces participate
    shared = [c for c in comparison.columns if c in logged.columns]
    logged = logged.select(*shared)
    comparison = comparison.select(*shared)

    join_keys = list(join_conf.row_ids) if join_conf.row_ids else (
        [TS] + left_key_columns(join_conf)
    )
    by: Optional[list] = None
    if by_ds:
        dcol = F.date_format(F.timestamp_millis(F.col(TS)), "yyyy-MM-dd").alias("ds")
        comparison = comparison.withColumn("ds", dcol)
        logged = logged.withColumn("ds", dcol)
        join_keys = join_keys + ["ds"]
        by = ["ds"]
    cdf, metrics = compare_job(comparison, logged, keys=join_keys, by=by)
    return cdf, metrics
