"""Backfill orchestration: partition math, checkpoint/resume, lineage."""

import shutil

import pytest
from pyspark.sql import functions as F

from chronon_spark.plans.backfill import (
    backfill,
    existing_partitions,
    lineage_path,
    read_lineage,
)
from chronon_spark.plans.partition_range import PartitionRange, missing_ranges, shift_ds


def test_partition_range_math():
    r = PartitionRange("2024-01-01", "2024-01-10")
    assert r.days == 10
    assert list(r.partitions())[0] == "2024-01-01"
    assert list(r.partitions())[-1] == "2024-01-10"
    assert r.shift(-2).start == "2023-12-30"
    assert shift_ds("2024-02-28", 2) == "2024-03-01"  # leap year
    steps = r.steps(4)
    assert [(s.start, s.end) for s in steps] == [
        ("2024-01-01", "2024-01-04"),
        ("2024-01-05", "2024-01-08"),
        ("2024-01-09", "2024-01-10"),
    ]
    assert r.intersect(PartitionRange("2024-01-08", "2024-02-01")) == PartitionRange(
        "2024-01-08", "2024-01-10"
    )
    assert r.intersect(PartitionRange("2024-02-01", "2024-02-02")) is None


def test_missing_ranges():
    r = PartitionRange("2024-01-01", "2024-01-06")
    have = {"2024-01-02", "2024-01-03", "2024-01-05"}
    holes = missing_ranges(r, have)
    assert [(h.start, h.end) for h in holes] == [
        ("2024-01-01", "2024-01-01"),
        ("2024-01-04", "2024-01-04"),
        ("2024-01-06", "2024-01-06"),
    ]
    assert missing_ranges(r, set(r.partitions())) == []


@pytest.fixture()
def out_dir(tmp_path):
    return str(tmp_path / "features")


def _compute_factory(spark, sf_dir, calls):
    """Daily per-user event counts for the requested range."""

    def compute(spark_, rng):
        calls.append((rng.start, rng.end))
        ev = spark_.read.parquet(f"{sf_dir}/events.parquet")
        return (
            ev.withColumn("ds", F.date_format("ts", "yyyy-MM-dd"))
            .where((F.col("ds") >= rng.start) & (F.col("ds") <= rng.end))
            .groupBy("user_id", "ds")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    return compute


def test_backfill_resume_and_lineage(spark, sf_dir, out_dir):
    rng = PartitionRange("2024-01-02", "2024-01-09")
    calls = []
    compute = _compute_factory(spark, sf_dir, calls)

    res = backfill(spark, compute, out_dir, rng, step_days=4, conf="confA", job_name="t")
    assert res.skipped_partitions == 0
    assert len(calls) == 2  # two 4-day steps
    assert existing_partitions(spark, out_dir) == set(rng.partitions())

    lin = read_lineage(spark, out_dir).toPandas()
    assert len(lin) == 8
    assert (lin["rows"] > 0).all() and (lin["bytes"] > 0).all()

    # resume: nothing to do
    calls.clear()
    res2 = backfill(spark, compute, out_dir, rng, step_days=4, conf="confA", job_name="t")
    assert calls == [] and res2.skipped_partitions == 8

    # knock out two partitions -> only the holes recompute
    for ds in ("2024-01-04", "2024-01-07"):
        shutil.rmtree(f"{out_dir}/ds={ds}")
    calls.clear()
    res3 = backfill(spark, compute, out_dir, rng, step_days=4, conf="confA", job_name="t")
    assert [(s.start, s.end) for s in res3.computed] == [
        ("2024-01-04", "2024-01-04"),
        ("2024-01-07", "2024-01-07"),
    ]
    assert existing_partitions(spark, out_dir) == set(rng.partitions())
    # untouched partitions kept their data (dynamic overwrite, not truncate)
    total = spark.read.parquet(out_dir).groupBy().sum("n").first()[0]
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ds", F.date_format("ts", "yyyy-MM-dd")
    )
    expected = ev.where((F.col("ds") >= rng.start) & (F.col("ds") <= rng.end)).count()
    assert total == expected


def test_backfill_conf_change_invalidates(spark, sf_dir, out_dir):
    rng = PartitionRange("2024-01-02", "2024-01-04")
    calls = []
    compute = _compute_factory(spark, sf_dir, calls)
    backfill(spark, compute, out_dir, rng, conf="confA")
    calls.clear()
    res = backfill(spark, compute, out_dir, rng, conf="confB")
    assert res.skipped_partitions == 0 and len(calls) == 1


def test_recompute_days(spark, sf_dir, out_dir):
    """Trailing partitions always recompute (label-recompute semantics)."""
    rng = PartitionRange("2024-01-02", "2024-01-08")
    calls = []
    compute = _compute_factory(spark, sf_dir, calls)
    backfill(spark, compute, out_dir, rng, conf="A")
    calls.clear()
    res = backfill(spark, compute, out_dir, rng, conf="A", recompute_days=2)
    assert [(s.start, s.end) for s in res.computed] == [("2024-01-07", "2024-01-08")]
    assert res.skipped_partitions == 5


def test_backfill_to_catalog_table_resume(spark, sf_dir):
    """Backfill writes/resumes against a CATALOG TABLE through the format
    provider (SHOW PARTITIONS listing + dynamic INSERT OVERWRITE) — the
    same code path Iceberg rides via overwritePartitions() when its
    runtime is on the classpath."""
    spark.sql("CREATE DATABASE IF NOT EXISTS bf_db")
    t = "bf_db.features"
    try:
        rng = PartitionRange("2024-01-02", "2024-01-07")
        calls = []
        compute = _compute_factory(spark, sf_dir, calls)

        res = backfill(spark, compute, t, rng, step_days=3, conf="confA", job_name="t")
        assert res.skipped_partitions == 0 and len(calls) == 2
        assert existing_partitions(spark, t) == set(rng.partitions())

        lin = read_lineage(spark, t).toPandas()
        assert len(lin) == 6 and (lin["rows"] > 0).all()

        # resume: all partitions checkpointed, nothing recomputes
        calls.clear()
        res2 = backfill(spark, compute, t, rng, step_days=3, conf="confA", job_name="t")
        assert calls == [] and res2.skipped_partitions == 6

        # drop two partitions -> only the holes recompute
        for ds in ("2024-01-03", "2024-01-06"):
            spark.sql(f"ALTER TABLE {t} DROP PARTITION (ds='{ds}')")
        calls.clear()
        res3 = backfill(spark, compute, t, rng, step_days=3, conf="confA", job_name="t")
        assert [(s.start, s.end) for s in res3.computed] == [
            ("2024-01-03", "2024-01-03"),
            ("2024-01-06", "2024-01-06"),
        ]
        # untouched partitions kept their data
        total = spark.table(t).groupBy().sum("n").first()[0]
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
            "ds", F.date_format("ts", "yyyy-MM-dd")
        )
        expected = ev.where((F.col("ds") >= rng.start) & (F.col("ds") <= rng.end)).count()
        assert total == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS bf_db.features")
        spark.sql(f"DROP TABLE IF EXISTS {lineage_path(t)}")
        spark.sql("DROP DATABASE IF EXISTS bf_db")


def test_is_table_name_rejects_ambiguous_bare_name():
    from chronon_spark.plans.backfill import is_table_name

    assert is_table_name("db.features")
    assert is_table_name("cat.db.features")
    assert not is_table_name("/tmp/out")
    assert not is_table_name("out/part.parquet")
    assert not is_table_name("out.parquet")
    with pytest.raises(ValueError, match="ambiguous"):
        is_table_name("out")


def test_require_utc_session_guards_backfill_join(spark):
    from chronon_spark.plans.backfill import require_utc_session

    require_utc_session(spark)  # conftest session is UTC — passes
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(ValueError, match="timeZone"):
            require_utc_session(spark)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_empty_day_checkpointed_via_lineage(spark, sf_dir, tmp_path):
    """A day whose compute produced ZERO rows must not recompute on
    resume even when the format has no physical partition to list — the
    lineage row (rows=0, latest wins) is the durable marker (ADVICE r2:
    Iceberg/Delta have no empty-partition registration)."""
    import pandas as pd

    from chronon_spark.plans.backfill import backfill, existing_partitions, read_lineage
    from chronon_spark.plans.partition_range import PartitionRange

    t = "bf_db.empty_days"
    spark.sql("CREATE DATABASE IF NOT EXISTS bf_db")
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.sql(f"DROP TABLE IF EXISTS {t}__lineage")
    rng = PartitionRange("2024-02-01", "2024-02-03")
    calls = []

    def compute(s, r):
        calls.append((r.start, r.end))
        pdf = pd.DataFrame(
            {"v": [1, 2], "ds": ["2024-02-01", "2024-02-03"]}  # 02-02 is empty
        )
        return s.createDataFrame(pdf).where(
            (F.col("ds") >= r.start) & (F.col("ds") <= r.end)
        )

    backfill(spark, compute, t, rng, step_days=10, conf="c", job_name="t")
    lin = read_lineage(spark, t).toPandas()
    assert set(lin[lin["rows"] == 0]["ds"]) == {"2024-02-02"}
    # simulate a format with no empty-partition registration: drop the
    # Hive marker for the empty day, leaving only the lineage record
    spark.sql(f"ALTER TABLE {t} DROP IF EXISTS PARTITION (ds='2024-02-02')")
    assert "2024-02-02" not in existing_partitions(spark, t)
    calls.clear()
    res = backfill(spark, compute, t, rng, step_days=10, conf="c", job_name="t")
    assert calls == [] and res.skipped_partitions == 3


def _gapped_compute(sf_dir, calls, gap):
    """Daily per-user event counts, with no rows at all on day ``gap``."""
    inner = _compute_factory(None, sf_dir, calls)

    def compute(spark_, rng):
        return inner(spark_, rng).where(F.col("ds") != gap)

    return compute


def test_lineage_rows_match_a_read_back_count(spark, sf_dir, tmp_path):
    """Lineage row counts come from the write itself; they equal a count
    read back from the written output, for a path and a catalog table,
    over two steps with an empty day (0 rows). A resume then skips every
    checkpointed day."""
    rng = PartitionRange("2024-01-02", "2024-01-05")
    spark.sql("CREATE DATABASE IF NOT EXISTS bf_db")
    t = "bf_db.read_back"
    try:
        for target in (str(tmp_path / "out"), t):
            calls = []
            compute = _gapped_compute(sf_dir, calls, "2024-01-03")
            backfill(spark, compute, target, rng, step_days=2, conf="c", job_name="t")
            assert len(calls) == 2
            out = spark.table(target) if target == t else spark.read.parquet(target)
            read_back = {
                r[0]: r[1]
                for r in out.groupBy(F.col("ds").cast("string")).count().collect()
            }
            lin = read_lineage(spark, target).toPandas()
            assert sorted(lin["ds"]) == list(rng.partitions())
            assert {ds: read_back.get(ds, 0) for ds in lin["ds"]} == dict(
                zip(lin["ds"], lin["rows"])
            )
            assert lin.set_index("ds")["rows"]["2024-01-03"] == 0
            assert min(read_back.values()) > 0

            calls.clear()
            res = backfill(spark, compute, target, rng, step_days=2, conf="c", job_name="t")
            assert calls == [] and res.skipped_partitions == 4
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        spark.sql(f"DROP TABLE IF EXISTS {lineage_path(t)}")


def test_backfill_runs_one_lineage_job(spark, sf_dir, tmp_path):
    """Beyond the jobs of its step writes, a two-step backfill runs ONE
    job: the lineage append. No step reads its output back to count it."""
    sc = spark.sparkContext
    rng = PartitionRange("2024-01-02", "2024-01-05")
    compute = _compute_factory(spark, sf_dir, [])

    sc.setJobGroup("bf_lineage_backfill", "backfill")
    backfill(spark, compute, str(tmp_path / "bf"), rng, step_days=2, conf="c")
    sc.setJobGroup("bf_lineage_writes", "the same writes, no lineage")
    for step in rng.steps(2):
        df = compute(spark, step).where(
            (F.col("ds") >= step.start) & (F.col("ds") <= step.end)
        )
        df.repartitionByRange(step.days, "ds").write.mode("overwrite").partitionBy(
            "ds"
        ).parquet(str(tmp_path / "plain"))
    sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = len(tracker.getJobIdsForGroup("bf_lineage_backfill"))
    writes = len(tracker.getJobIdsForGroup("bf_lineage_writes"))
    assert writes > 0 and jobs - writes == 1, (jobs, writes)


def test_backfill_requires_the_partition_column(spark, tmp_path):
    def compute(s, r):
        return s.range(3)

    with pytest.raises(ValueError, match="compute\\(\\) must emit ds"):
        backfill(spark, compute, str(tmp_path / "o"), PartitionRange("2024-01-02", "2024-01-02"))
