"""SparkSession factory with the engine's required/recommended configs."""

from __future__ import annotations

from pyspark.sql import SparkSession


def build_session(
    master: str = "local[*]",
    app_name: str = "chronon_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """The configs below are semantic requirements (UTC timestamps, Arrow
    for the kernel) or scale defaults (AQE incl. skew-join handling,
    dynamic partition overwrite for idempotent backfills).

    PySpark's per-call origin capture is off: with it on, every
    ``functions.*`` and DataFrame method call makes about five extra JVM
    round trips to record its Python call site for error contexts, a large
    share of the driver time of the many-column plans built here. Pass
    ``{"spark.python.sql.dataFrameDebugging.enabled": "true"}`` in
    ``extra_conf`` to get the call sites back.

    The generated-code cache holds 2000 classes instead of Spark's 100:
    one hopped backfill step alone compiles 115-120 whole-stage and
    expression classes, so at 100 a repeated step (the next day's
    partition, the next backfill) evicts and recompiles them all, ~10 ms
    each. The setting is static: it applies when this call creates the
    session."""
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
