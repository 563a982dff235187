"""DDSketch-style mergeable percentile IRs: relative-error bound, merge
associativity, streaming tiles == batch tiles, lambda-merge shape."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from chronon_spark.operators.ddsketch import (
    bucket_expr,
    merge_sketches,
    quantiles_from_sketch,
    sketch_aggregate,
)


@pytest.fixture(scope="module")
def values_df(spark):
    rng = np.random.RandomState(5)
    rows = []
    for k in range(8):
        vals = np.exp(rng.normal(3, 2, 4000))  # heavy-tailed positives
        if k % 2:
            vals = np.concatenate([vals, -vals[:500], [0.0] * 10])  # negatives+zeros
        for v in vals:
            rows.append((k, float(v)))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["k", "v"])), rows


def test_quantile_relative_error_bound(spark, values_df):
    df, rows = values_df
    alpha = 0.01
    ir = sketch_aggregate(df, ["k"], "v", alpha)
    got = quantiles_from_sketch(ir, ["k"], [0.5, 0.9, 0.99], alpha).toPandas().set_index("k")
    pdf = pd.DataFrame(rows, columns=["k", "v"])
    for k, grp in pdf.groupby("k"):
        for q in (0.5, 0.9, 0.99):
            # same rank convention as the sketch: the ceil(n*q)-th smallest
            vals = np.sort(grp["v"].to_numpy())
            exact = float(vals[max(int(np.ceil(len(vals) * q)), 1) - 1])
            est = got.loc[k, f"p{int(q * 100)}"]
            if exact == 0:
                assert abs(est) < 1e-9
            else:
                assert abs(est - exact) <= alpha * abs(exact) * 1.05 + 1e-12, (k, q, est, exact)


def test_merge_associativity(spark, values_df):
    df, _ = values_df
    # sketch per (k, shard) then merge == sketch per k directly
    sharded = df.withColumn("shard", F.pmod(F.monotonically_increasing_id(), F.lit(7)))
    merged = merge_sketches(sketch_aggregate(sharded, ["k", "shard"], "v"), ["k"])
    direct = sketch_aggregate(df, ["k"], "v")
    m = merged.orderBy("k", "bucket").toPandas()
    d = direct.orderBy("k", "bucket").toPandas()
    assert m.reset_index(drop=True).equals(d.reset_index(drop=True))


def test_streaming_sketch_tiles_equal_batch(spark, sf_dir, tmp_path):
    """Percentile IR tiles on a STREAM (one aggregation: window x keys x
    bucket counts) == the same tiles computed in batch — the missing
    APPROX_PERCENTILE tile payload for the lambda merge."""
    src = str(tmp_path / "ev")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id", "unix_micros(CAST(ts AS TIMESTAMP)) div 1000 AS ts", "value"
    )
    ev.write.parquet(src)
    schema = spark.read.parquet(src).schema
    day = 86_400_000

    def tiles(df):
        with_t = df.withColumn("__t", F.timestamp_millis(F.col("ts")))
        if df.isStreaming:
            with_t = with_t.withWatermark("__t", "5 minutes")
        return (
            with_t.withColumn("bucket", bucket_expr("value"))
            .groupBy(F.window("__t", f"{day} milliseconds").alias("__w"), "user_id", "bucket")
            .agg(F.count(F.lit(1)).alias("count"))
            .select(
                "user_id",
                F.unix_millis(F.col("__w.start")).alias("tile_start"),
                "bucket",
                "count",
            )
        )

    from chronon_spark.streaming.stream_groupby import run_available_now

    stream = spark.readStream.schema(schema).parquet(src)
    got = run_available_now(
        tiles(stream), str(tmp_path / "ck"), "sketch_tiles"
    ).toPandas()
    exp = tiles(spark.read.parquet(src)).toPandas()
    key = ["user_id", "tile_start", "bucket"]
    got = got.sort_values(key).reset_index(drop=True)
    exp = exp.sort_values(key).reset_index(drop=True)
    assert len(got) == len(exp) > 0
    for c in exp.columns:
        assert (got[c] == exp[c]).all(), c

    # lambda-merge shape: tile IRs merge down to per-key sketches whose
    # quantiles match a direct batch sketch
    tile_ir = tiles(spark.read.parquet(src)).withColumnRenamed("tile_start", "__tile")
    merged = merge_sketches(tile_ir.select("user_id", "bucket", "count"), ["user_id"])
    direct = sketch_aggregate(
        spark.read.parquet(src).selectExpr("user_id", "CAST(value AS DOUBLE) AS value"),
        ["user_id"], "value",
    )
    mq = quantiles_from_sketch(merged, ["user_id"], [0.5]).toPandas().set_index("user_id")
    dq = quantiles_from_sketch(direct, ["user_id"], [0.5]).toPandas().set_index("user_id")
    assert np.allclose(mq["p50"].sort_index(), dq["p50"].sort_index())
