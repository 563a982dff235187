"""SNAPSHOT-accuracy join (day-shift PIT rule), entity snapshots, staging
query macros — vs DuckDB oracles."""

import duckdb
import pytest
from pyspark.sql import functions as F

from chronon_spark.api.types import (
    Accuracy,
    Aggregation,
    EntitySource,
    EventSource,
    GroupBy,
    Join,
    JoinPart,
    Operation,
    Query,
    Window,
)
from chronon_spark.operators.snapshot_join import join_snapshot, snapshot_entities
from chronon_spark.operators.staging_query import render, run_staging_query
from chronon_spark.sources.scan import millis_expr

DAY_MS = 86_400_000


def test_join_snapshot_day_shift(spark, sf_dir):
    """Each event row gets the 7d-window count/sum as of the PREVIOUS
    midnight — verified against a DuckDB formulation of the same rule."""
    src = EventSource(
        table=f"{sf_dir}/events.parquet",
        query=Query(
            selects={"event_id": "event_id", "user_id": "user_id",
                     "value": "floor(value*100 + 0.5)"},
            time_column=millis_expr("ts"),
        ),
    )
    gb = GroupBy(
        sources=(src,),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.COUNT, windows=(Window.days(7),)),
            Aggregation("value", Operation.SUM, windows=(Window.days(7),)),
        ),
        accuracy=Accuracy.SNAPSHOT,
        name="snap7",
    )
    j = Join(left=src, join_parts=(JoinPart(gb),), name="snapjoin")
    got = (
        join_snapshot(spark, j)
        .select("event_id", "snap7_value_count_7d", "snap7_value_sum_7d")
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )

    con = duckdb.connect()
    exp = con.sql(
        f"""
        WITH ev AS (SELECT event_id, user_id, floor(value*100 + 0.5) AS c,
                           epoch_ms(ts) AS ts FROM '{sf_dir}/events.parquet'),
        q AS (SELECT event_id, user_id,
                     epoch_ms(CAST(CAST(epoch_ms(ts // 1) AS TIMESTAMP) AS DATE)) AS midnight
              FROM (SELECT event_id, user_id, ts FROM ev)),
        f AS (
          SELECT q.event_id,
             count(CASE WHEN e.ts >= q.midnight - {7 * DAY_MS} THEN e.c END) AS cnt,
             CAST(sum(CASE WHEN e.ts >= q.midnight - {7 * DAY_MS} THEN e.c END) AS DOUBLE) AS s
          FROM q LEFT JOIN ev e ON e.user_id = q.user_id AND e.ts < q.midnight
          GROUP BY q.event_id
        )
        SELECT event_id, cnt, s FROM f ORDER BY event_id
        """
    ).df()
    assert len(got) == len(exp)
    # rows whose user had no events before midnight -> feature NULL (left join
    # missed) on our side, cnt=0 on the oracle's; align both to pandas NaN/0
    got_cnt = got["snap7_value_count_7d"].fillna(0).astype(int)
    assert (got_cnt.to_numpy() == exp["cnt"].to_numpy()).all()
    gs = got["snap7_value_sum_7d"].astype(float)
    es = exp["s"].astype(float)
    both_nan = gs.isna() & es.isna()
    assert (both_nan | (abs(gs - es) < 1e-9)).all()


def test_snapshot_entities(spark, sf_dir):
    """Entity snapshots: customer as a single-ds snapshot table."""
    src = EntitySource(
        snapshot_table=f"{sf_dir}/customer.parquet",
        query=Query(
            selects={"c_nationkey": "c_nationkey", "c_acctbal": "c_acctbal",
                     "ds": "'2024-01-01'"},
            partition_column="ds",
        ),
    )
    gb = GroupBy(
        sources=(src,),
        key_columns=("c_nationkey",),
        aggregations=(
            Aggregation("c_acctbal", Operation.COUNT),
            Aggregation("c_acctbal", Operation.AVERAGE),
        ),
        accuracy=Accuracy.SNAPSHOT,
        name="nation_bal",
    )
    got = snapshot_entities(spark, gb).toPandas().sort_values("c_nationkey").reset_index(drop=True)
    con = duckdb.connect()
    exp = con.sql(
        f"""SELECT c_nationkey, count(c_acctbal) AS c, avg(c_acctbal) AS a
            FROM '{sf_dir}/customer.parquet' GROUP BY 1 ORDER BY 1"""
    ).df()
    assert (got["c_acctbal_count"].to_numpy() == exp["c"].to_numpy()).all()
    assert (abs(got["c_acctbal_average"] - exp["a"]) < 1e-9).all()


def test_staging_query_macros(spark, sf_dir):
    sql = """
      SELECT l_returnflag, date_format(l_shipdate, 'yyyy-MM-dd') AS ds,
             count(*) AS n
      FROM parquet.`{SF}/lineitem.parquet`
      WHERE date_format(l_shipdate, 'yyyy-MM-dd') BETWEEN '{{ start_date }}' AND '{{ end_date }}'
      GROUP BY 1, 2
    """.replace("{SF}", sf_dir)
    rendered = render(spark, sql, "1996-02-01", "1996-02-10")
    assert "{{" not in rendered and "1996-02-01" in rendered
    out = run_staging_query(spark, sql, "1996-02-01", "1996-02-10")
    n = out.agg(F.sum("n")).first()[0]
    con = duckdb.connect()
    exp = con.sql(
        f"""SELECT count(*) FROM '{sf_dir}/lineitem.parquet'
            WHERE strftime(l_shipdate, '%Y-%m-%d') BETWEEN '1996-02-01' AND '1996-02-10'"""
    ).fetchone()[0]
    assert n == exp


def test_staging_query_max_date_macro(spark, sf_dir, tmp_path):
    # build a tiny partitioned table to probe max_date(table=...)
    p = str(tmp_path / "t")
    spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-05", 2)], "ds string, v int"
    ).write.partitionBy("ds").parquet(p)
    rendered = render(spark, f"SELECT '{{{{ max_date(table={p}) }}}}' AS m", "a", "b")
    assert "2024-01-05" in rendered


def test_mixed_accuracy_join(spark, sf_dir):
    """One TEMPORAL part + one SNAPSHOT part in the same Join: the snapshot
    part's values equal the dedicated join_snapshot path."""
    src = EventSource(
        table=f"{sf_dir}/events.parquet",
        query=Query(
            selects={"event_id": "event_id", "user_id": "user_id",
                     "value": "floor(value*100 + 0.5)"},
            time_column=millis_expr("ts"),
        ),
    )
    from chronon_spark.operators.asof_join import join_asof

    gb_t = GroupBy((src,), ("user_id",),
                   (Aggregation("value", Operation.SUM, windows=(Window.days(7),)),),
                   name="t")
    gb_s = GroupBy((src,), ("user_id",),
                   (Aggregation("value", Operation.COUNT, windows=(Window.days(7),)),),
                   accuracy=Accuracy.SNAPSHOT, name="s")
    j = Join(left=src, join_parts=(JoinPart(gb_t), JoinPart(gb_s)), name="mixed")
    out = join_asof(spark, j).select("event_id", "t_value_sum_7d", "s_value_count_7d")
    ref = join_snapshot(
        spark, Join(left=src, join_parts=(JoinPart(gb_s),), name="ref")
    ).select("event_id", "s_value_count_7d")
    m = (
        out.toPandas().merge(ref.toPandas(), on="event_id", suffixes=("", "_ref"))
        .fillna(-1)
    )
    assert len(m) == out.count()
    assert (m["s_value_count_7d"] == m["s_value_count_7d_ref"]).all()
    assert (m["t_value_sum_7d"] != -1).any()  # temporal part also computed


def test_noagg_entity_passthrough_and_join(spark, sf_dir):
    """aggregations=None (reference join/NoAggTest.scala): the snapshot
    row IS the feature vector. Passthrough keeps the selected columns;
    a no-agg join part attaches them via the same day-shift rule; the
    temporal paths refuse no-agg with a clear error."""
    snap_src = EntitySource(
        snapshot_table=f"{sf_dir}/customer.parquet",
        query=Query(
            selects={
                "c_custkey": "c_custkey",
                "c_mktsegment": "c_mktsegment",
                "c_acctbal_c": "floor(c_acctbal * 100 + 0.5)",
                "ds": "'2024-01-01'",
            },
            partition_column="ds",
        ),
    )
    gb = GroupBy((snap_src,), ("c_custkey",), None,
                 accuracy=Accuracy.SNAPSHOT, name="cust")
    snap = snapshot_entities(spark, gb)
    assert sorted(snap.columns) == ["c_acctbal_c", "c_custkey", "c_mktsegment", "ds"]
    exp = duckdb.sql(
        f"SELECT c_custkey, c_mktsegment, floor(c_acctbal*100 + 0.5) AS a "
        f"FROM '{sf_dir}/customer.parquet' ORDER BY c_custkey"
    ).df()
    got = snap.orderBy("c_custkey").toPandas()
    assert (got["c_custkey"].values == exp["c_custkey"].values).all()
    assert (got["c_acctbal_c"].astype(float).values == exp["a"].values).all()

    left = EventSource(
        table=f"{sf_dir}/orders.parquet",
        query=Query(
            selects={"o_orderkey": "o_orderkey", "c_custkey": "o_custkey"},
            time_column="1704196800000",  # 2024-01-02T12:00Z -> ts_ds 01-02
        ),
    )
    j = Join(left=left, join_parts=(JoinPart(gb),), name="noagg_join")
    out = join_snapshot(spark, j)
    gd = out.select("o_orderkey", "cust_c_mktsegment").orderBy("o_orderkey").toPandas()
    ed = duckdb.sql(
        f"SELECT o_orderkey, c_mktsegment FROM '{sf_dir}/orders.parquet' o "
        f"LEFT JOIN '{sf_dir}/customer.parquet' c ON o.o_custkey = c.c_custkey "
        f"ORDER BY o_orderkey"
    ).df()
    assert len(gd) == len(ed) > 0
    assert (gd["cust_c_mktsegment"].fillna("-") == ed["c_mktsegment"].fillna("-")).all()

    from chronon_spark.operators.asof_join import group_by_asof

    with pytest.raises(ValueError, match="no-agg"):
        group_by_asof(spark, GroupBy((snap_src,), ("c_custkey",), None, name="x"),
                      spark.range(1).selectExpr("1 AS c_custkey", "2 AS ts"))


def test_entity_left_joins_same_ds(spark, sf_dir):
    """Reference MergeJob.scala:175-215: an ENTITY left joins snapshots at
    the SAME ds (no day shift — the shift is events-only). Planted: only
    snapshot rows whose ds equals the left's ds attach; rows one day
    earlier do NOT (they would under the event rule)."""
    snap_src = EntitySource(
        snapshot_table=f"{sf_dir}/customer.parquet",
        query=Query(
            selects={
                "c_custkey": "c_custkey",
                "c_mktsegment": "c_mktsegment",
                "ds": "CASE WHEN c_custkey % 2 = 0 THEN '2024-01-05' ELSE '2024-01-04' END",
            },
            partition_column="ds",
        ),
    )
    gb = GroupBy((snap_src,), ("c_custkey",), None,
                 accuracy=Accuracy.SNAPSHOT, name="cust")
    left = EntitySource(
        snapshot_table=f"{sf_dir}/customer.parquet",
        query=Query(
            selects={"c_custkey": "c_custkey", "ds": "'2024-01-05'"},
            partition_column="ds",
        ),
    )
    out = join_snapshot(spark, Join(left=left, join_parts=(JoinPart(gb),), name="ee"))
    got = out.select("c_custkey", "cust_c_mktsegment").orderBy("c_custkey").toPandas()
    assert len(got) > 0
    even = got[got["c_custkey"] % 2 == 0]
    odd = got[got["c_custkey"] % 2 == 1]
    assert even["cust_c_mktsegment"].notna().all()  # same-ds rows attach
    assert odd["cust_c_mktsegment"].isna().all()  # prior-day rows do not


def test_key_mapping_overlapping_fields(spark, sf_dir):
    """Reference KeyMappingOverlappingFieldsTest: key_mapping a -> b where
    a is ALSO a value field of the same GroupBy. The mapped left key must
    join against the GroupBy KEY, and the overlapping value field must
    come through prefixed, not collide with the left key column."""
    snap_src = EntitySource(
        snapshot_table=f"{sf_dir}/customer.parquet",
        query=Query(
            selects={
                "c_custkey": "c_custkey",
                # value field named EXACTLY like the left key
                "cust_id": "c_custkey",
                "c_mktsegment": "c_mktsegment",
                "ds": "'2024-01-01'",
            },
            partition_column="ds",
        ),
    )
    gb = GroupBy((snap_src,), ("c_custkey",), None,
                 accuracy=Accuracy.SNAPSHOT, name="names")
    left = EventSource(
        table=f"{sf_dir}/orders.parquet",
        query=Query(
            selects={"o_orderkey": "o_orderkey", "cust_id": "o_custkey"},
            time_column="1704196800000",  # ts_ds 2024-01-02 -> snapshot 01-01
        ),
    )
    j = Join(
        left=left,
        join_parts=(JoinPart(gb, key_mapping={"cust_id": "c_custkey"}),),
        name="key_overlap",
    )
    out = join_snapshot(spark, j)
    # left key survives unprefixed; overlapping value field is prefixed
    assert "cust_id" in out.columns
    assert "names_cust_id" in out.columns
    gd = out.select("o_orderkey", "cust_id", "names_cust_id").orderBy(
        "o_orderkey"
    ).toPandas()
    ed = duckdb.sql(
        f"SELECT o_orderkey, o_custkey FROM '{sf_dir}/orders.parquet' o "
        f"LEFT JOIN '{sf_dir}/customer.parquet' c ON o.o_custkey = c.c_custkey "
        f"ORDER BY o_orderkey"
    ).df()
    assert len(gd) == len(ed) > 0
    # the prefixed overlap field equals the joined entity's key value
    matched = gd["names_cust_id"].notna()
    assert matched.any()
    assert (
        gd.loc[matched, "names_cust_id"].astype(int)
        == gd.loc[matched, "cust_id"].astype(int)
    ).all()
