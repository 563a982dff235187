"""Conf compile surface: validate / serialize / column semantic hashes
(reference python/.../cli/compile: parse_configs.py, conf_validator.py,
column_hashing.py)."""

import json

from chronon_spark.api import compile as C
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


def make_gb(name="user_value", table="events.parquet/x", derivations=None, wheres=()):
    return GroupBy(
        sources=(
            EventSource(
                table=table,
                query=Query(
                    selects={"user_id": "user_id", "value": "value"},
                    wheres=wheres,
                    time_column="ts",
                ),
            ),
        ),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.SUM, windows=(Window.days(7),)),
            Aggregation("value", Operation.COUNT),
        ),
        name=name,
        derivations=derivations,
    )


def test_validate_catches_conf_errors():
    gb = make_gb()
    assert C.validate_group_by(gb) == []
    bad = GroupBy(
        sources=gb.sources,
        key_columns=("ds",),  # reserved
        aggregations=(Aggregation("absent_col", Operation.SUM),),
        name="",
    )
    errs = C.validate_group_by(bad)
    assert any("reserved" in e for e in errs)
    assert any("absent_col" in e for e in errs)
    assert any("name" in e for e in errs)
    # 'ds' is reserved AND missing from selects
    assert len(errs) >= 3


def test_validate_join_key_mapping():
    gb = make_gb()
    left = EventSource(
        table="left.parquet/x",
        query=Query(selects={"uid": "uid"}, time_column="ts"),
    )
    ok = Join(left=left, join_parts=(JoinPart(gb, key_mapping={"uid": "user_id"}),), name="j")
    assert C.validate_join(ok) == []
    bad = Join(
        left=left,
        join_parts=(JoinPart(gb, key_mapping={"nope": "user_id"}),),
        name="j",
    )
    assert any("nope" in e for e in C.validate_join(bad))
    bad2 = Join(
        left=left,
        join_parts=(JoinPart(gb, key_mapping={"uid": "wrong_key"}),),
        name="j",
    )
    assert any("wrong_key" in e for e in C.validate_join(bad2))


def test_conf_round_trip(tmp_path):
    gb = make_gb(derivations={"*": "*", "value_sum_7d_x2": "value_sum_7d * 2"})
    left = EventSource(
        table="left.parquet/x", query=Query(selects={"user_id": "user_id"}, time_column="ts")
    )
    j = Join(left=left, join_parts=(JoinPart(gb),), name="train_join")
    paths = C.compile_confs([gb, j], str(tmp_path))
    assert len(paths) == 2
    conf = json.load(open(paths[0]))
    assert conf["_type"] == "GroupBy" and "columnHashes" in conf
    gb2 = C.from_conf({k: v for k, v in conf.items() if k != "columnHashes"})
    assert gb2 == gb  # frozen dataclasses: structural equality
    jconf = json.load(open(paths[1]))
    j2 = C.from_conf({k: v for k, v in jconf.items() if k != "columnHashes"})
    assert j2 == j


def test_column_hashes_semantic_stability():
    gb = make_gb()
    h1 = C.group_by_column_hashes(gb)
    assert set(h1) == {"user_id", "value_sum_7d", "value_count"}
    # identical conf -> identical hashes
    assert C.group_by_column_hashes(make_gb()) == h1
    # a new where-filter changes EVERY column (source semantics changed)
    h2 = C.group_by_column_hashes(make_gb(wheres=("value > 0",)))
    assert all(h2[c] != h1[c] for c in h1)
    # renaming the GroupBy changes hashes; table change too
    assert C.group_by_column_hashes(make_gb(name="other"))["value_count"] != h1["value_count"]
    assert (
        C.group_by_column_hashes(make_gb(table="events.parquet/y"))["value_count"]
        != h1["value_count"]
    )


def test_derivation_hash_rename_preserves():
    gb = make_gb(derivations={"renamed": "value_sum_7d", "doubled": "value_sum_7d * 2"})
    base = C.group_by_column_hashes(make_gb())
    h = C.group_by_column_hashes(gb)
    # pure rename keeps the base column's semantic hash (reference
    # build_derived_columns: data is reusable under a rename)
    assert h["renamed"] == base["value_sum_7d"]
    assert h["doubled"] != base["value_sum_7d"]


def test_changed_columns_diff():
    old = {"a": "1", "b": "2", "c": "3"}
    new = {"a": "1", "b": "9", "d": "4"}
    assert C.changed_columns(old, new) == {"b": "changed", "d": "added", "c": "removed"}
    assert C.changed_columns(None, {"x": "1"}) == {"x": "added"}


def test_join_column_hashes_key_mapping_sensitivity():
    gb = make_gb()
    left = EventSource(
        table="left.parquet/x",
        query=Query(selects={"uid": "uid", "user_id": "user_id"}, time_column="ts"),
    )
    j1 = Join(left=left, join_parts=(JoinPart(gb),), name="j")
    j2 = Join(left=left, join_parts=(JoinPart(gb, key_mapping={"uid": "user_id"}),), name="j")
    h1, h2 = C.join_column_hashes(j1), C.join_column_hashes(j2)
    assert h1["user_value_value_sum_7d"] != h2["user_value_value_sum_7d"]
