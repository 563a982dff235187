"""Driver contract: every query has its oracle, and the order the driver
sees is computed from the correctness history, not written by hand."""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as E


def _round(d: Path, n: int, results: dict) -> None:
    rows = {
        name: {"rows_match": ok, "schema_match": True, "hash_match": ok,
               "spark_rows": 1, "oracle_rows": 1, "err": None if ok else "boom"}
        for name, ok in results.items()
    }
    (d / f"CORRECTNESS_r{n:02d}.json").write_text(json.dumps(rows))


def test_every_query_has_an_oracle():
    assert set(E.queries()) == set(E.oracle_sql())


def test_queries_follow_the_computed_driver_order():
    names = list(E._query_defs())
    repo = Path(E.__file__).resolve().parent
    assert list(E.queries()) == E._driver_order(names, repo)


def test_driver_order_without_history_is_definition_order(tmp_path):
    names = ["c", "a", "b"]
    assert E._driver_order(names, tmp_path) == names


def test_driver_order_failed_then_unchecked_then_least_recent(tmp_path):
    names = ["old_a", "recent", "never_a", "failed", "old_b", "mid", "never_b",
             "failed_before"]
    _round(tmp_path, 1, {"old_a": True, "old_b": True, "mid": True,
                         "failed_before": False})
    _round(tmp_path, 2, {"mid": True, "failed_before": True})
    # round 10 sorts after round 2 (numeric, not lexicographic)
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps({
        "recent": {"rows_match": True, "schema_match": True, "hash_match": True,
                   "err": None},
        "failed": {"rows_match": True, "schema_match": False, "hash_match": True,
                   "err": None},
    }))
    assert E._driver_order(names, tmp_path) == [
        "failed",                    # failed in the latest round
        "never_a", "never_b",        # never checked, definition order
        "old_a", "old_b",            # last checked in round 1
        "mid", "failed_before",      # last checked (green) in round 2
        "recent",                    # checked in the latest round
    ]
