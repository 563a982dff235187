"""Analyzer: derive a conf's output schema + basic stats WITHOUT running it.

Reference: spark/.../Analyzer.scala:160-229 and batch/Eval.scala:147-220 —
runs the query against sampled/empty data to compute output schemas and
catch conf errors before launching a backfill. Here the schema is derived
directly from the conf + the source's Spark schema (no job, no sampling —
Catalyst resolves the select expressions against an empty frame).

Also: CREATE TABLE DDL rendering for the output (reference
catalog/CreationUtils.scala) — parquet or Iceberg syntax.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from chronon_spark.api.types import GroupBy, Join
from chronon_spark.operators.asof_join import part_output_field
from chronon_spark.sources.scan import TS, load_table, apply_query


def _source_schema(spark: SparkSession, source) -> T.StructType:
    """Schema of a rendered source WITHOUT scanning data: apply the query
    to an empty frame with the table's/derived schema (Catalyst analysis
    only — the reference Analyzer/Eval's no-job schema derivation)."""
    from dataclasses import replace

    from chronon_spark.api.types import EventSource, JoinSource
    from chronon_spark.operators.model_transforms import ModelTransforms

    if isinstance(source, JoinSource):
        # chained source: the parent join's DERIVED schema is the table
        raw_schema = analyze_join(spark, source.join)
        q = source.query
        if q.selects and not q.time_column:
            q = replace(q, time_column=TS)
        empty = spark.createDataFrame([], raw_schema)
        return apply_query(empty, q).schema
    if isinstance(source, ModelTransforms):
        # inner-source schema + one typed field per model output (the
        # reference's determineInferenceOutputSchema, no inference run)
        inner = _source_schema(spark, source.sources[0])
        fields = [f for f in inner.fields if f.name in set(source.passthrough_fields) | {TS, "ds"}]
        for m in source.models:
            # raw value-schema fields; output-mapped expression types
            # resolve at runtime (the reference also derives from the
            # model's declared valueSchema here)
            fields += [
                T.StructField(f"{m.name}__{f.name}", f.dataType, True)
                for f in m.value_fields()
            ]
        return T.StructType(fields)
    table = source.table if isinstance(source, EventSource) else source.snapshot_table
    raw_schema = load_table(spark, table).schema
    empty = spark.createDataFrame([], raw_schema)
    return apply_query(empty, source.query).schema


def analyze_group_by(spark: SparkSession, group_by: GroupBy) -> T.StructType:
    """Output schema of the as-of GroupBy: keys + ts + one field per part
    (+ derivations resolved by Catalyst)."""
    src_schema = _source_schema(spark, group_by.sources[0])
    fields = [src_schema[k] for k in group_by.key_columns]
    fields.append(T.StructField(TS, T.LongType(), False))
    fields += [part_output_field(p, src_schema) for p in group_by.unpack()]
    schema = T.StructType(fields)
    if group_by.derivations:
        from chronon_spark.operators.asof_join import apply_derivations

        empty = spark.createDataFrame([], schema)
        schema = apply_derivations(
            empty, group_by.derivations, list(group_by.key_columns) + [TS]
        ).schema
    return schema


def analyze_join(spark: SparkSession, join_conf: Join) -> T.StructType:
    """Output schema of the full join: left columns + prefixed part fields."""
    left_schema = _source_schema(spark, join_conf.left)
    fields = list(left_schema.fields)
    for jp in join_conf.join_parts:
        gb = jp.group_by
        src_schema = _source_schema(spark, gb.sources[0])
        prefix = jp.full_prefix()
        for p in gb.unpack():
            f = part_output_field(p, src_schema)
            fields.append(T.StructField(f"{prefix}_{f.name}", f.dataType, True))
    schema = T.StructType(fields)
    if join_conf.derivations:
        from chronon_spark.operators.asof_join import apply_derivations

        empty = spark.createDataFrame([], schema)
        base_cols = [f.name for f in left_schema.fields] + [TS]  # non-value columns
        schema = apply_derivations(
            empty, join_conf.derivations, base_cols
        ).schema
    return schema


def create_table_ddl(
    table_name: str,
    schema: T.StructType,
    partition_cols: tuple = ("ds",),
    fmt: str = "parquet",
    location: str | None = None,
    table_properties: dict | None = None,
) -> str:
    """CREATE TABLE DDL (reference catalog/CreationUtils.scala shape)."""
    cols = ",\n  ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in schema.fields
        if f.name not in partition_cols
    )
    parts = ", ".join(
        f"{f.name}" for f in schema.fields if f.name in partition_cols
    )
    part_types = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in schema.fields
        if f.name in partition_cols
    )
    using = "iceberg" if fmt == "iceberg" else "parquet"
    ddl = f"CREATE TABLE IF NOT EXISTS {table_name} (\n  {cols}"
    if fmt != "iceberg" and part_types:
        ddl += f",\n  {part_types}"
    ddl += f"\n) USING {using}"
    if parts:
        ddl += f"\nPARTITIONED BY ({parts})"
    if location:
        ddl += f"\nLOCATION '{location}'"
    if table_properties:
        props = ", ".join(f"'{k}'='{v}'" for k, v in sorted(table_properties.items()))
        ddl += f"\nTBLPROPERTIES ({props})"
    return ddl
