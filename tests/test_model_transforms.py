"""ModelTransforms source: batched inference feeding downstream GroupBys
(reference ModelTransformsJob.scala + Source.ModelTransforms,
thrift/api.thrift:188-193, 599-610)."""

import numpy as np
import pandas as pd
import pytest

from chronon_spark.api.types import (
    Aggregation,
    EventSource,
    GroupBy,
    Operation,
    Query,
    Window,
)
from chronon_spark.operators.model_transforms import (
    Model,
    ModelTransforms,
    model_transforms_source,
)

DAY_MS = 86_400_000
T0 = 1_704_067_200_000


def _make_scorer():
    # returned as a CLOSURE so cloudpickle serializes it by value — a
    # module-level function in a test file is pickled by reference, which
    # Spark workers cannot import
    def scorer(inputs: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        import pandas as pd

        v = inputs["v"].to_numpy(dtype=np.float64)
        return pd.DataFrame(
            {"score": 1.0 / (1.0 + np.exp(-(np.mod(np.abs(v), 1000.0) - 500.0) / 250.0))}
        )

    return scorer


_stub_scorer = _make_scorer()


@pytest.fixture(scope="module")
def events_path(spark, tmp_path_factory):
    rng = np.random.RandomState(21)
    n = 5000
    pdf = pd.DataFrame(
        {
            "user_id": rng.randint(0, 50, n),
            "amount": rng.randint(0, 100000, n).astype(float),
            "ts": (T0 + rng.randint(0, 30 * DAY_MS, n)).astype(np.int64),
        }
    )
    pdf["ds"] = pd.to_datetime(pdf.ts, unit="ms").dt.strftime("%Y-%m-%d")
    p = str(tmp_path_factory.mktemp("mt") / "events.parquet")
    spark.createDataFrame(pdf).write.parquet(p)
    return p, pdf


def _conf(path):
    src = EventSource(
        table=path,
        query=Query(
            selects={"user_id": "user_id", "amount": "amount", "ds": "ds"},
            time_column="ts",
        ),
    )
    model = Model(
        name="risk",
        scorer=_stub_scorer,
        input_mapping={"v": "amount"},
        value_schema="score double",
    )
    return ModelTransforms(sources=(src,), models=(model,), passthrough_fields=("user_id",))


def test_model_transforms_source_scores(spark, events_path):
    path, pdf = events_path
    out = model_transforms_source(spark, _conf(path)).toPandas()
    assert sorted(out.columns) == ["ds", "risk__score", "ts", "user_id"]
    assert len(out) == len(pdf)
    merged = out.sort_values(["user_id", "ts", "risk__score"]).reset_index(drop=True)
    exp_scores = _stub_scorer(pd.DataFrame({"v": pdf["amount"]}))["score"]
    exp = (
        pdf.assign(risk__score=exp_scores.to_numpy())
        .sort_values(["user_id", "ts", "risk__score"])
        .reset_index(drop=True)
    )
    assert np.allclose(merged["risk__score"], exp["risk__score"])


def test_model_transforms_output_mapping(spark, events_path):
    path, _ = events_path
    conf = _conf(path)
    model = Model(
        name="risk",
        scorer=_stub_scorer,
        input_mapping={"v": "amount"},
        value_schema="score double",
        output_mapping={"is_risky": "CAST(risk__score > 0.5 AS INT)"},
    )
    from dataclasses import replace

    out = model_transforms_source(spark, replace(conf, models=(model,))).toPandas()
    assert "risk__is_risky" in out.columns
    assert set(out["risk__is_risky"].unique()) <= {0, 1}


def test_model_scores_chain_into_group_by(spark, events_path):
    """Source.ModelTransforms feeding a windowed GroupBy — the LLM-era
    'model-scored quality filtering' pipeline shape."""
    from chronon_spark.operators.asof_join import group_by_asof

    path, pdf = events_path
    gb = GroupBy(
        sources=(_conf(path),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("risk__score", Operation.AVERAGE, windows=(Window.days(7),)),
            Aggregation("risk__score", Operation.COUNT),
        ),
        name="risk_feats",
    )
    queries = spark.createDataFrame(
        pd.DataFrame({"user_id": [1, 2, 3], "ts": [T0 + 15 * DAY_MS] * 3})
    )
    out = group_by_asof(spark, gb, queries).toPandas().set_index("user_id")

    scores = _stub_scorer(pd.DataFrame({"v": pdf["amount"]}))["score"].to_numpy()
    for uid in (1, 2, 3):
        q_ts = T0 + 15 * DAY_MS
        mask7 = (pdf.user_id == uid) & (pdf.ts <= q_ts) & (pdf.ts > q_ts - 7 * DAY_MS)
        mask_all = (pdf.user_id == uid) & (pdf.ts <= q_ts)
        row = out.loc[uid]
        assert row["risk__score_count"] == mask_all.sum()
        if mask7.any():
            assert row["risk__score_average_7d"] == pytest.approx(scores[mask7].mean())
