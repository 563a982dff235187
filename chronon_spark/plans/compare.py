"""CompareJob: row-level diff between two feature tables.

Reference: spark/.../stats/CompareJob.scala:41-115 + CompareBaseJob.scala
(checkConsistency/compare) + CompareMetrics.scala:55-130 (buildMetrics) —
how users validate a migration: full-outer-join the two tables on the
keys, then per value column compute null-alignment, mismatch counts and
numeric drift metrics.

Spark-first shape: ONE full outer join (shuffle on keys both sides — the
only shuffle), then ONE aggregation pass computes every metric for every
column (map-side combined; no per-column jobs). The long-format metrics
table is a handful of rows regardless of input size.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

LEFT_SUFFIX = "_left"
RIGHT_SUFFIX = "_right"

_NUMERIC = (T.LongType, T.IntegerType, T.ShortType, T.ByteType, T.DoubleType, T.FloatType, T.DecimalType)

_EDIT_SCHEMA = T.StructType(
    [T.StructField("insert", T.LongType()), T.StructField("delete", T.LongType())]
)


def _edit_distance_pair(lv, rv) -> tuple:
    """Insert/delete-only edit distance between two sequences — reference
    aggregator/stats/EditDistance.between (EditDistance.scala:54-123):
    no replacement; inserts and deletes are into right to make it like
    left; null and empty are equivalent. With only insert/delete the
    distance factors through the LCS: insert = len(left) - lcs,
    delete = len(right) - lcs."""
    le = lv is None or len(lv) == 0
    re_ = rv is None or len(rv) == 0
    if le and re_:
        return 0, 0
    if le:
        return 0, len(rv)
    if re_:
        return len(lv), 0
    lv, rv = list(lv), list(rv)
    # strip common prefix/suffix: pure LCS mass, shrinks the DP grid
    i = 0
    while i < len(lv) and i < len(rv) and lv[i] == rv[i]:
        i += 1
    j = 0
    while (
        j < len(lv) - i and j < len(rv) - i and lv[len(lv) - 1 - j] == rv[len(rv) - 1 - j]
    ):
        j += 1
    core_l = lv[i : len(lv) - j]
    core_r = rv[i : len(rv) - j]
    if not core_l or not core_r:
        return len(core_l), len(core_r)
    # single-row LCS DP over the stripped cores
    prev = [0] * (len(core_r) + 1)
    for a in core_l:
        cur = [0] * (len(core_r) + 1)
        for y, b in enumerate(core_r, 1):
            cur[y] = prev[y - 1] + 1 if a == b else max(prev[y], cur[y - 1])
        prev = cur
    lcs = prev[-1]
    return len(core_l) - lcs, len(core_r) - lcs


def _edit_distance_udf():
    """Arrow-batched struct<insert,delete> edit distance (the DP kernel is
    not expressible in built-ins; batches keep the Python boundary
    vectorized like packing/model inference)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def ed(l, r):
        out = [_edit_distance_pair(a, b) for a, b in zip(l, r)]
        return pd.DataFrame(out, columns=["insert", "delete"])

    # explicit annotations (module-scope pandas) so the type-hint based
    # eval-type inference resolves on any PySpark 4.x
    ed.__annotations__ = {"l": pd.Series, "r": pd.Series, "return": pd.DataFrame}
    return pandas_udf(ed, _EDIT_SCHEMA)


def _contains_map(dt: T.DataType) -> bool:
    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def check_consistency(
    left: DataFrame,
    right: DataFrame,
    keys: list,
    mapping: Optional[dict] = None,
    migration_check: bool = False,
) -> list:
    """Schema consistency errors (reference CompareBaseJob.checkConsistency:
    size parity — left may be a superset under migration_check — dtype
    equality per mapped column, keys present on both sides)."""
    mapping = mapping or {}
    lf = {f.name: f.dataType for f in left.schema.fields}
    rf = {f.name: f.dataType for f in right.schema.fields}
    errors = []
    size_ok = len(lf) >= len(rf) if migration_check else len(lf) == len(rf)
    if not size_ok:
        errors.append(f"inconsistent field counts: left {len(lf)}, right {len(rf)}")
    reverse = {v: k for k, v in mapping.items()}
    if len(reverse) != len(mapping):
        errors.append(f"mapping values contain duplicates: {mapping}")
    for rname, rtype in rf.items():
        lname = reverse.get(rname, rname)
        if lname not in lf:
            errors.append(f"left side missing column {lname}")
        elif lf[lname] != rtype:
            errors.append(f"dtype mismatch for {lname}: left {lf[lname]}, right {rtype}")
    for side, fields in (("left", lf), ("right", rf)):
        missing = [k for k in keys if k not in fields]
        if missing:
            errors.append(f"{side} side missing key columns {missing}")
    return errors


def compare_join(
    left: DataFrame,
    right: DataFrame,
    keys: list,
    mapping: Optional[dict] = None,
    migration_check: bool = False,
) -> DataFrame:
    """The comparison table: full outer join on ``keys`` with every value
    column suffixed _left/_right (reference CompareBaseJob.compare steps
    2-4, including left-superset pruning under migration_check)."""
    mapping = mapping or {}
    rf = {f.name for f in right.schema.fields}
    pruned = left
    if migration_check:
        for f in list(left.columns):
            if f not in keys and mapping.get(f, f) not in rf:
                pruned = pruned.drop(f)
    lren = pruned
    for f in pruned.columns:
        if f not in keys:
            lren = lren.withColumnRenamed(f, f + LEFT_SUFFIX)
    rren = right
    for f in right.columns:
        if f not in keys:
            rren = rren.withColumnRenamed(f, f + RIGHT_SUFFIX)
    return lren.join(rren, on=keys, how="full")


def compare_metrics(
    compare_df: DataFrame,
    value_cols: list,
    mapping: Optional[dict] = None,
    types: Optional[dict] = None,
    by: Optional[list] = None,
    approx_median: bool = False,
) -> DataFrame:
    """Long-format metrics (column, metric, value) from the comparison
    table — reference CompareMetrics.buildMetrics, computed in ONE agg:

    per column: total, both_null, left_null (left null, right set),
    right_null, mismatch (both set, unequal); numeric columns add
    smape (mean of 2|l-r|/(|l|+|r|), 0 when both 0) and
    max_abs_diff / median_diff (exact percentile — order-independent,
    unlike a sketch, so results are engine-portable).
    """
    mapping = mapping or {}
    if types is None:
        # direct callers may omit `types` (compare_job always passes
        # them): infer from the comparison frame itself so array columns
        # get the sequence metrics instead of a doomed double cast
        # (r4 ADVICE #4)
        schema = {f.name: f.dataType for f in compare_df.schema.fields}
        types = {
            c: schema[c + LEFT_SUFFIX]
            for c in value_cols
            if c + LEFT_SUFFIX in schema
        }
    aggs: list = [F.count(F.lit(1)).alias("__total")]
    per_col: dict = {}
    pre_cols: dict = {}
    ed_udf = None
    pctl = "approx_percentile" if approx_median else "percentile"
    for c in value_cols:
        l = F.col(c + LEFT_SUFFIX)
        r = F.col(mapping.get(c, c) + RIGHT_SUFFIX)
        dt = (types or {}).get(c)
        is_num = isinstance(dt, _NUMERIC) if dt is not None else True
        is_seq = isinstance(dt, T.ArrayType)
        # Spark's EqualTo does not support map types (bucketed GroupBy
        # features are maps) — compare maps via sorted-entries JSON, which
        # is key-order independent; nested maps (map values containing
        # maps) are not orderable either, so fall back to a raw to_json
        # compare, documented as order-sensitive only for pathological
        # engines (Spark renders map entries deterministically per value).
        neq = l != r
        if isinstance(dt, T.MapType):
            if _contains_map(dt.valueType):
                neq = F.to_json(l) != F.to_json(r)
            else:
                neq = F.to_json(F.sort_array(F.map_entries(l))) != F.to_json(
                    F.sort_array(F.map_entries(r))
                )
        names = {
            "both_null": F.sum((l.isNull() & r.isNull()).cast("long")),
            "left_null": F.sum((l.isNull() & r.isNotNull()).cast("long")),
            "right_null": F.sum((l.isNotNull() & r.isNull()).cast("long")),
            "mismatch": F.sum((l.isNotNull() & r.isNotNull() & neq).cast("long")),
        }
        if is_num:
            ld, rd = l.cast("double"), r.cast("double")
            denom = F.abs(ld) + F.abs(rd)
            names["smape"] = F.avg(
                F.when(denom != 0.0, F.abs(ld - rd) * 2 / denom).otherwise(F.lit(0.0))
            )
            names["max_abs_diff"] = F.max(F.abs(ld - rd))
            # exact percentile buffers every diff of a group in executor
            # memory — fine under ConsistencyJob's sampling, a scale
            # hazard on full-volume comparisons; approx_median switches to
            # percentile_approx (sketch IR, bounded memory; the trade-off
            # is it no longer mirrors an exact SQL oracle)
            median_fn = "approx_percentile" if approx_median else "percentile"
            names["median_diff"] = F.expr(
                f"{median_fn}(abs(CAST({c + LEFT_SUFFIX} AS DOUBLE) - "
                f"CAST({mapping.get(c, c) + RIGHT_SUFFIX} AS DOUBLE)), 0.5)"
            )
        if is_seq:
            # reference sequenceMetrics (CompareMetrics.scala:85-101):
            # edit_distance insert/delete percentiles + length percentiles
            # + mismatch_length, for list-typed feature columns
            if ed_udf is None:
                ed_udf = _edit_distance_udf()
            ed_alias = f"__{c}__ed"
            pre_cols[ed_alias] = ed_udf(l, r)
            names["edit_insert_median"] = F.expr(
                f"{pctl}(`{ed_alias}`.insert, 0.5)"
            )
            names["edit_delete_median"] = F.expr(
                f"{pctl}(`{ed_alias}`.delete, 0.5)"
            )
            names["edit_total_max"] = F.max(
                F.col(ed_alias + ".insert") + F.col(ed_alias + ".delete")
            )
            # null-guarded size(): Spark's size(NULL) is -1, which would
            # poison the percentile; skip nulls instead (reference feeds
            # percentile sketches that also skip nulls)
            names["left_length_median"] = F.expr(
                f"{pctl}(CASE WHEN {c + LEFT_SUFFIX} IS NOT NULL "
                f"THEN size({c + LEFT_SUFFIX}) END, 0.5)"
            )
            names["right_length_median"] = F.expr(
                f"{pctl}(CASE WHEN {mapping.get(c, c) + RIGHT_SUFFIX} IS NOT NULL "
                f"THEN size({mapping.get(c, c) + RIGHT_SUFFIX}) END, 0.5)"
            )
            names["mismatch_length"] = F.sum(
                (l.isNotNull() & r.isNotNull() & (F.size(l) != F.size(r))).cast("long")
            )
        for m, expr in names.items():
            alias = f"__{c}__{m}"
            aggs.append(expr.alias(alias))
            per_col.setdefault(c, []).append((m, alias))
    # ``by``: per-group metrics (e.g. per ds for ConsistencyJob) — still
    # ONE aggregation pass (sequence columns add one Arrow projection
    # stage before it), output |groups| x |columns| x |metrics| rows
    if pre_cols:
        compare_df = compare_df.withColumns(pre_cols)
    wide = compare_df.groupBy(*by).agg(*aggs) if by else compare_df.agg(*aggs)
    rows = []
    for c, metrics in per_col.items():
        for m, alias in metrics:
            rows.append(
                F.struct(
                    F.lit(c).alias("column"),
                    F.lit(m).alias("metric"),
                    F.col(alias).cast("double").alias("value"),
                )
            )
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.lit("total").alias("metric"),
                F.col("__total").cast("double").alias("value"),
            )
        )
    return wide.select(
        *(by or []), F.explode(F.array(*rows)).alias("s")
    ).select(*(by or []), "s.*")


def compare_job(
    left: DataFrame,
    right: DataFrame,
    keys: list,
    mapping: Optional[dict] = None,
    migration_check: bool = False,
    by: Optional[list] = None,
) -> tuple:
    """(compare_df, metrics_df) — the CompareJob.run equivalent. Raises on
    schema inconsistency like the reference's assert. ``by`` (a subset of
    ``keys``) groups the metrics, e.g. per-ds consistency."""
    errors = check_consistency(left, right, keys, mapping, migration_check)
    if errors:
        raise ValueError("; ".join(errors))
    cdf = compare_join(left, right, keys, mapping, migration_check)
    rf = {f.name for f in right.schema.fields}
    mapping = mapping or {}
    value_cols = [
        c for c in left.columns if c not in keys and mapping.get(c, c) in rf
    ]
    types = {f.name: f.dataType for f in left.schema.fields}
    return cdf, compare_metrics(cdf, value_cols, mapping, types, by=by)
