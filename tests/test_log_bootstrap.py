"""Log-based bootstrap: serve -> log -> flatten -> backfill reuses logs.

Reference: spark/.../bootstrap/LogBootstrapTest.scala — the production
loop that makes training data cheap: responses served online are logged
(key_json/value_json + schema_hash), the LogFlattenerJob turns them into
a typed table, and the next join backfill BOOTSTRAPS from that table —
logged feature values are reused verbatim (coalesce precedence) and only
uncovered parts/rows are recomputed.

The reuse is proven by PERTURBING the logged values: if the backfill
recomputed them, the perturbation would vanish.
"""

import json

from chronon_spark.api.types import (
    Aggregation,
    EventSource,
    GroupBy,
    Join,
    JoinPart,
    Operation,
    Query,
    Window,
)
from chronon_spark.operators.asof_join import join_asof
from chronon_spark.plans.fetcher import fetch_join, join_codec
from chronon_spark.plans.log_flattener import flatten_logs
from chronon_spark.sources.scan import millis_expr, scan_source

BOUNDARY = 1_705_276_800_000  # 2024-01-15 midnight
DAY_MS = 86_400_000
PERTURB = 1_000_000


def _gb(sf_dir, name, agg):
    return GroupBy(
        sources=(
            EventSource(
                table=f"{sf_dir}/events.parquet",
                query=Query(
                    selects={"user_id": "user_id",
                             "value": "floor(value*100 + 0.5)"},
                    time_column=millis_expr("ts"),
                ),
            ),
        ),
        key_columns=("user_id",),
        aggregations=(agg,),
        name=name,
    )


def test_log_bootstrap_reuses_served_values(spark, sf_dir):
    gb_a = _gb(sf_dir, "a", Aggregation("value", Operation.SUM, windows=(Window.days(7),)))
    gb_b = _gb(sf_dir, "b", Aggregation("value", Operation.COUNT, windows=(Window.days(7),)))
    left = EventSource(
        table=f"{sf_dir}/events.parquet",
        query=Query(
            selects={"event_id": "event_id", "user_id": "user_id"},
            time_column=millis_expr("ts"),
            wheres=(f"{millis_expr('ts')} >= {BOUNDARY}",),
        ),
    )
    v1 = Join(left=left, join_parts=(JoinPart(gb_a),), name="lb",
              row_ids=("event_id",))
    v2 = Join(left=left, join_parts=(JoinPart(gb_a), JoinPart(gb_b)),
              name="lb", row_ids=("event_id",))

    # 1. serve v1 online (lambda read path)
    req = scan_source(spark, left)
    served = fetch_join(spark, v1, req, BOUNDARY, DAY_MS)

    # 2. log the responses (key/value JSON + schema hash), PERTURBED so
    #    reuse is distinguishable from recompute
    c1 = join_codec(spark, v1)
    log_rows = [
        ("lb", int(r["ts"]), "2024-01-15", c1["schema_hash"],
         json.dumps({"event_id": int(r["event_id"])}),
         json.dumps({"a_value_sum_7d": int(r["a_value_sum_7d"]) + PERTURB})
         if r["a_value_sum_7d"] is not None else json.dumps({}))
        for r in served.collect()
    ]
    assert log_rows
    log_df = spark.createDataFrame(
        log_rows,
        "name string, ts_millis long, ds string, schema_hash string, "
        "key_json string, value_json string",
    )
    schema_df = spark.createDataFrame(
        [(c1["schema_hash"], "event_id BIGINT", "a_value_sum_7d BIGINT")],
        "schema_hash string, key_schema string, value_schema string",
    )

    # 3. flatten to the typed logged table
    flat = flatten_logs(log_df, schema_df, join_name="lb")
    bootstrap = flat.select("event_id", "a_value_sum_7d")

    # 4. v2 backfill bootstrapped from the logs
    # tail_hop matches the serving hop so logged sawtooth values are the
    # values the backfill would compute (the offline/online contract)
    out = join_asof(
        spark, v2, bootstrap_df=bootstrap, tail_hop_ms=DAY_MS
    ).toPandas().set_index("event_id").sort_index()
    base = join_asof(spark, v2, tail_hop_ms=DAY_MS).toPandas().set_index("event_id").sort_index()
    assert len(out) == len(base) > 0

    covered = base["a_value_sum_7d"].notna()
    # logged (perturbed) values were REUSED, not recomputed...
    got_a = out.loc[covered, "a_value_sum_7d"]
    exp_a = base.loc[covered, "a_value_sum_7d"] + PERTURB
    assert (got_a == exp_a).all()
    # ...null logged values stay null (coalesce found nothing to reuse)
    assert out.loc[~covered, "a_value_sum_7d"].isna().all()
    # the part NOT covered by logging is computed normally
    b_g, b_e = out["b_value_count_7d"], base["b_value_count_7d"]
    assert ((b_g.isna() & b_e.isna()) | (b_g == b_e)).all()
