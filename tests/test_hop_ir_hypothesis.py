"""Algebraic properties of the scalar IR algebra (``operators.hop_ir``),
checked on the algebra itself with hypothesis:

- the merge is associative and commutative, and the empty IR is its
  identity, for every IR kind (finalized features compared);
- for the deletable ops, a signed update of rows followed by the delete
  of the same rows gives back the original finalized features.
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from chronon_spark.api.types import AggregationPart, Operation
from chronon_spark.operators import hop_ir
from chronon_spark.plans.upload import collapse_irs

ALL_OPS = (
    Operation.COUNT,
    Operation.SUM,
    Operation.AVERAGE,
    Operation.VARIANCE,
    Operation.SKEW,
    Operation.KURTOSIS,
    Operation.MIN,
    Operation.MAX,
    Operation.LAST,
    Operation.FIRST,
    Operation.UNIQUE_COUNT,
    Operation.APPROX_UNIQUE_COUNT,
)
DELETABLE_OPS = (Operation.COUNT, Operation.SUM, Operation.AVERAGE, Operation.VARIANCE)
SCHEMA = "g string, ts long, v long"
SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

# rows: (group, ts, value-or-null) with distinct ts, so LAST/FIRST have
# one answer however the rows are grouped
rows_st = st.lists(
    st.tuples(
        st.sampled_from("abc"),
        st.integers(0, 10_000),
        st.one_of(st.none(), st.integers(-50, 50)),
    ),
    max_size=14,
    unique_by=lambda r: r[1],
)


def _parts(ops):
    return [AggregationPart("v", op) for op in ops]


def _ir_cols(parts):
    return [f"i_{k}_{c}" for k, c in hop_ir.ir_columns(parts)]


def _features(irs, parts):
    """Merge all IR rows of each ``g`` and finalize every part."""
    moments = hop_ir.moment_inputs(parts)
    merged = (
        hop_ir.with_offsets(irs, ["g"], moments)
        .groupBy("g")
        .agg(
            *[hop_ir.merge(k, c).alias(f"i_{k}_{c}") for k, c in hop_ir.ir_columns(parts)],
            *[F.first(f"__k_{c}").alias(f"__k_{c}") for c in moments],
        )
    )
    return merged.select(
        "g",
        *[
            hop_ir.finalize(
                p.operation,
                lambda kind: F.col(f"i_{kind}_v"),
                F.col("__k_v") if "m2" in hop_ir.kinds(p.operation) else None,
            ).alias(p.output_column)
            for p in parts
        ],
    )


def _as(irs, label):
    return irs.withColumn("g", F.lit(label))


def _nested(irs, parts, label):
    """All IR rows of ``irs`` merged into ONE central IR row (the upload's
    collapse), labelled ``label`` — a merge whose result merges again."""
    hopped = _as(irs, label).withColumn("__hop", F.lit(0).cast("long"))
    return collapse_irs(hopped, ["g"], parts, 1).select("g", *_ir_cols(parts))


def _collect(df):
    return {r["g"]: r.asDict() for r in df.collect()}


def _same(a, b):
    assert a.keys() == b.keys()
    for k in a:
        if k == "g":
            continue
        if a[k] is None or b[k] is None:
            assert a[k] is None and b[k] is None, (k, a[k], b[k])
        else:
            assert a[k] == pytest.approx(b[k], rel=1e-6, abs=1e-9), (k, a[k], b[k])


@SETTINGS
@given(rows=rows_st)
def test_merge_is_associative_commutative_with_identity(spark, rows):
    parts = _parts(ALL_OPS)
    df = spark.createDataFrame(rows, SCHEMA)
    irs = df.groupBy("g").agg(*hop_ir.update_aggs(parts)).select("g", *_ir_cols(parts))
    a, b, c = (irs.where(F.col("g") == g) for g in "abc")
    # the empty IR: a row with no state in any column
    empty = spark.range(1).select(
        F.lit("e").alias("g"),
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in irs.schema.fields[1:]],
    )

    got = _collect(
        _features(
            _as(df.groupBy().agg(*hop_ir.update_aggs(parts)).select(*_ir_cols(parts)), "all")
            .unionByName(_as(irs, "flat"))
            .unionByName(_as(_nested(a.unionByName(b), parts, "ab").unionByName(c), "left"))
            .unionByName(_as(a.unionByName(_nested(b.unionByName(c), parts, "bc")), "right"))
            .unionByName(_as(c.unionByName(b).unionByName(a), "swapped"))
            .unionByName(_as(a, "a"))
            .unionByName(_as(a.unionByName(empty), "a_empty"))
            .unionByName(_as(empty, "empty")),
            parts,
        )
    )
    if rows:
        for label in ("flat", "left", "right", "swapped"):
            _same(got["all"], {**got[label], "g": "all"})
    # a ⊕ empty = a (with no "a" rows: empty ⊕ empty = empty)
    a_only = got.get("a", {**got["empty"], "g": "a"})
    _same(a_only, {**got["a_empty"], "g": "a"})


@SETTINGS
@given(
    rows=rows_st,
    k=st.one_of(st.just(0.0), st.floats(-100, 100, allow_nan=False)),
)
def test_signed_update_then_delete_is_identity(spark, rows, k):
    parts = _parts(DELETABLE_OPS)
    df = spark.createDataFrame(rows, SCHEMA).withColumn("__k_v", F.lit(k))
    base = df.where(F.col("g") != "c").groupBy().agg(*hop_ir.update_aggs(parts))
    moved = df.where(F.col("g") == "c")
    ins = moved.groupBy().agg(*hop_ir.update_aggs(parts, F.lit(1)))
    dele = moved.groupBy().agg(*hop_ir.update_aggs(parts, F.lit(-1)))
    kinds = [kind for kind, _ in hop_ir.ir_columns(parts)]
    row = (
        base.select(*[F.col(f"i_{x}_v").alias(f"b_{x}") for x in kinds])
        .crossJoin(ins.select(*[F.col(f"i_{x}_v").alias(f"p_{x}") for x in kinds]))
        .crossJoin(dele.select(*[F.col(f"i_{x}_v").alias(f"m_{x}") for x in kinds]))
    )
    kk = F.lit(k)
    # the base IR's central m2 moved to the offset form the signed sums use
    base_k = {x: F.col(f"b_{x}") for x in kinds}
    base_k["m2"] = hop_ir.shift(base_k["cnt"], base_k["sum"], base_k["m2"], None, None, kk)[0]

    def replayed(kind):
        out = hop_ir.plus(kind, base_k[kind], F.col(f"p_{kind}"))
        return hop_ir.plus(kind, out, F.col(f"m_{kind}"))

    def original(kind):
        return hop_ir.plus(kind, base_k[kind], F.lit(None))

    got = row.select(
        *[
            hop_ir.finalize(p.operation, fn, kk).alias(f"{tag}{p.output_column}")
            for tag, fn in (("r_", replayed), ("o_", original))
            for p in parts
        ]
    ).first().asDict()
    for p in parts:
        r, o = got[f"r_{p.output_column}"], got[f"o_{p.output_column}"]
        if o is None:
            assert r is None, (p.operation, r)
        else:
            assert r == pytest.approx(o, rel=1e-9, abs=1e-9), (p.operation, r, o)
