"""Label maturation end-to-end: label_join_snapshot inside
backfill(recompute_days=N) — the reference's exact labeling flow
(thrift/api.thrift:100-106: recomputeDays exists for "partially mature
aggregations ... common labeling flows").

A feature row on day ds carries labels from [ds+1, ds+offset]; rows near
the range end are IMMATURE until the label source lands those days.
Re-running the same backfill with recompute_days >= offset refreshes
exactly the trailing partitions and converges to the full recompute."""

from pyspark.sql import functions as F

from chronon_spark.operators.label_join import label_join_snapshot
from chronon_spark.plans.backfill import backfill
from chronon_spark.plans.partition_range import PartitionRange

OFFSET = 3
KEYS = [0, 1, 2]
ALL_DAYS = [f"2024-01-{d:02d}" for d in range(1, 13)]  # labels land through day 12
RANGE = PartitionRange("2024-01-01", "2024-01-10")


def _labels(spark, days):
    rows = [
        (k, ds, k * 100 + int(ds[-2:]))
        for k in KEYS
        for ds in days
    ]
    return spark.createDataFrame(rows, "k long, ds string, v long")


def _compute_factory(spark, label_path):
    def compute(spark_, rng):
        left = spark_.createDataFrame(
            [(k, ds) for k in KEYS for ds in rng.partitions()],
            "k long, ds string",
        )
        labels = spark_.read.parquet(label_path)
        return label_join_snapshot(left, labels, "k", "ds", "v", OFFSET)

    return compute


def _snapshot(spark, out_dir):
    return sorted(
        tuple(r)
        for r in spark.read.parquet(out_dir)
        .select("k", F.col("ds").cast("string"), "label_sum", "label_cnt")
        .collect()
    )


def test_label_refresh_via_recompute_days(spark, tmp_path):
    label_path = str(tmp_path / "labels")
    out_dir = str(tmp_path / "features")

    # phase 1: label source has landed only through day 7
    _labels(spark, ALL_DAYS[:7]).write.parquet(label_path)
    compute = _compute_factory(spark, label_path)
    backfill(spark, compute, out_dir, RANGE, conf="L")

    first = dict(
        ((r[0], r[1]), (r[2], r[3])) for r in _snapshot(spark, out_dir)
    )
    # day 4 is fully mature (labels 5..7 exist): 3 label days
    assert first[(0, "2024-01-04")] == (5 + 6 + 7, 3)
    # day 6 is PARTIALLY mature (only day 7 landed of 7..9)
    assert first[(0, "2024-01-06")] == (7, 1)
    # day 9 has nothing yet
    assert first[(0, "2024-01-09")] == (None, None)

    # phase 2: labels land for days 8..12; refresh the immature tail.
    # Days <= 10-3... day 5 onward could gain labels (ds+1..ds+3 reaches
    # day 8 when ds >= 5), so recompute the trailing 6 partitions.
    _labels(spark, ALL_DAYS[7:]).write.mode("append").parquet(label_path)
    res = backfill(spark, compute, out_dir, RANGE, conf="L", recompute_days=6)
    assert [(s.start, s.end) for s in res.computed] == [
        ("2024-01-05", "2024-01-10")
    ]
    assert res.skipped_partitions == 4  # days 1-4 untouched (already mature)

    # converged: identical to a from-scratch run over the full label set
    fresh_dir = str(tmp_path / "fresh")
    backfill(spark, compute, fresh_dir, RANGE, conf="L")
    assert _snapshot(spark, out_dir) == _snapshot(spark, fresh_dir)

    # and the matured values are right: day 9 now sees labels 10..12
    final = dict(
        ((r[0], r[1]), (r[2], r[3])) for r in _snapshot(spark, out_dir)
    )
    assert final[(2, "2024-01-09")] == (200 * 3 + 10 + 11 + 12, 3)
