"""Table/feature profiling: per-column stats in ONE aggregation pass.

Reference analogue: the Analyzer's cardinality estimation + drift stats
(spark/.../Analyzer.scala cardinality maps; udafs/ApproxDistinct.scala) —
used there to warn about hot keys and schema drift before backfills. Here:
one `agg` over the table computes, per column, null count, distinct
estimate, and numeric min/max/mean — the pre-flight a 100 TB backfill runs
on a sample or a partition before committing the cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

NUMERIC = (T.LongType, T.IntegerType, T.ShortType, T.DoubleType, T.FloatType)


def profile(df: DataFrame, columns: list | None = None, exact_distinct: bool = False) -> DataFrame:
    """One row per column: (column, n_rows, null_count, distinct, min, max, mean).

    ``exact_distinct`` swaps HLL estimates for exact counts (small tables /
    oracle checks); numeric stats are null for non-numeric columns.
    """
    cols = columns or df.columns
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"nulls_{c}"))
        if exact_distinct:
            aggs.append(F.count_distinct(F.col(c)).alias(f"dist_{c}"))
        else:
            aggs.append(F.approx_count_distinct(F.col(c)).alias(f"dist_{c}"))
        if isinstance(df.schema[c].dataType, NUMERIC):
            aggs.append(F.min(F.col(c).cast("double")).alias(f"min_{c}"))
            aggs.append(F.max(F.col(c).cast("double")).alias(f"max_{c}"))
            aggs.append(F.avg(F.col(c).cast("double")).alias(f"mean_{c}"))
    wide = df.agg(*aggs)

    rows = []
    for c in cols:
        is_num = isinstance(df.schema[c].dataType, NUMERIC)
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").alias("n_rows"),
                F.col(f"nulls_{c}").cast("long").alias("null_count"),
                F.col(f"dist_{c}").cast("long").alias("distinct"),
                (F.col(f"min_{c}") if is_num else F.lit(None).cast("double")).alias("min"),
                (F.col(f"max_{c}") if is_num else F.lit(None).cast("double")).alias("max"),
                (F.col(f"mean_{c}") if is_num else F.lit(None).cast("double")).alias("mean"),
            )
        )
    return wide.select(F.explode(F.array(*rows)).alias("s")).select("s.*")
