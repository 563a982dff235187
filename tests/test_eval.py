"""Sampled-execution pre-flight (plans/eval.py vs reference Eval.scala).

The contract: a conf whose expressions fail only at RUNTIME is caught at
eval time with a structured FAILURE (not a stack trace hours into a
backfill), and for a healthy conf the sampled executed schema equals the
static derivation."""

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
from chronon_spark.plans.eval import FAILURE, SUCCESS, eval_group_by, eval_join
from chronon_spark.sources.scan import millis_expr


def _src(sf_dir, selects=None, wheres=()):
    return EventSource(
        table=f"{sf_dir}/events.parquet",
        query=Query(
            selects=selects
            or {"event_id": "event_id", "user_id": "user_id", "value": "value"},
            wheres=wheres,
            time_column=millis_expr("ts"),
        ),
    )


def _gb(sf_dir, **kw):
    return GroupBy(
        sources=(_src(sf_dir, **kw),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.SUM, windows=(Window.days(7),)),
        ),
        name="eval_gb",
    )


def _status(res, name):
    return {c.name: c.status for c in res.checks}[name]


def test_eval_group_by_healthy(spark, sf_dir):
    res = eval_group_by(spark, _gb(sf_dir), sample_rows=50)
    assert res.ok, res.summary()
    assert _status(res, "sampled_execution") == SUCCESS
    assert res.output_schema is not None
    names = [f.name for f in res.output_schema.fields]
    assert "value_sum_7d" in names, names


def test_eval_catches_runtime_only_select_failure(spark, sf_dir):
    """Static analysis resolves `CAST(event_type AS INT)` fine (types
    check out); under ANSI mode it THROWS on real rows. Eval must catch
    it as a structured source_expression FAILURE."""
    bad = _gb(sf_dir, selects={
        "user_id": "user_id",
        "value": "CAST(substr(event_type, 1, 2) AS INT)",
    })
    # static derivation does not see the problem
    from chronon_spark.plans.analyzer import analyze_group_by

    analyze_group_by(spark, bad)  # no error
    res = eval_group_by(spark, bad, sample_rows=50)
    assert not res.ok
    assert _status(res, "source_expression") == FAILURE
    msg = {c.name: c.message for c in res.checks}["source_expression"]
    assert "CAST" in msg.upper() or "cast" in msg, msg


def test_eval_catches_missing_table_and_keys(spark, sf_dir):
    gone = GroupBy(
        sources=(EventSource(table=f"{sf_dir}/no_such_table.parquet"),),
        key_columns=("user_id",),
        aggregations=(Aggregation("value", Operation.SUM),),
        name="gone",
    )
    res = eval_group_by(spark, gone)
    assert _status(res, "source_reachable") == FAILURE

    missing_key = GroupBy(
        sources=(_src(sf_dir, selects={"value": "value"}),),
        key_columns=("user_id",),
        aggregations=(Aggregation("value", Operation.SUM),),
        name="nokey",
    )
    res2 = eval_group_by(spark, missing_key)
    assert _status(res2, "key_schema") == FAILURE


def test_eval_catches_seconds_timestamps(spark, sf_dir):
    """The classic silent corruptor: a time_column in SECONDS. Static
    types are identical (LONG); only sampled values reveal it."""
    secs = GroupBy(
        sources=(
            EventSource(
                table=f"{sf_dir}/events.parquet",
                query=Query(
                    selects={"user_id": "user_id", "value": "value"},
                    time_column="unix_timestamp(ts)",  # seconds!
                ),
            ),
        ),
        key_columns=("user_id",),
        aggregations=(Aggregation("value", Operation.SUM),),
        name="secs",
    )
    res = eval_group_by(spark, secs)
    assert _status(res, "source_timestamp") == FAILURE
    msg = {c.name: c.message for c in res.checks}["source_timestamp"]
    assert "millis" in msg


def test_eval_join_healthy_and_bad_key_mapping(spark, sf_dir):
    gb = _gb(sf_dir)
    good = Join(left=_src(sf_dir), join_parts=(JoinPart(gb),), name="ej")
    res = eval_join(spark, good, sample_rows=50)
    assert res.ok, res.summary()
    assert _status(res, "sampled_execution") == SUCCESS

    bad = Join(
        left=_src(sf_dir),
        join_parts=(JoinPart(gb, key_mapping={"no_such_left_col": "user_id"}),),
        name="ej_bad",
    )
    res2 = eval_join(spark, bad, sample_rows=50)
    assert not res2.ok
    assert any(
        c.name.endswith("key_mapping") and c.status == FAILURE for c in res2.checks
    ), res2.summary()
