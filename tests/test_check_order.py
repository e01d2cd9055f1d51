"""The correctness-check order of __spark_entry__'s registry: computed
from the CORRECTNESS_r*.json records at call time, never hand-maintained."""

from __future__ import annotations

import json

import __spark_entry__ as E


def _write(root, rnd: str, rows: dict) -> None:
    (root / f"CORRECTNESS_r{rnd}.json").write_text(
        json.dumps({n: {"hash_match": ok} for n, ok in rows.items()})
    )


def test_check_order_puts_unpassed_first_then_oldest_pass(tmp_path):
    _write(tmp_path, "01", {"a": True, "b": True, "c": False})
    _write(tmp_path, "9", {"d": True, "b": True})
    _write(tmp_path, "10", {"a": True, "c": False})  # r10 is newer than r9
    (tmp_path / "CORRECTNESS_r10_c8.json").write_text(json.dumps({"d": {"hash_match": True}}))
    names = ["a", "b", "c", "d", "e"]
    # c (only failed rows) and e (no row) first, in registry order; then
    # by newest passing round: b (r9) and d (r9) tie in registry order,
    # a (r10) last.  The non-round file is ignored.
    assert E._check_order(names, str(tmp_path)) == ["c", "e", "b", "d", "a"]
    # no records at all: registry order
    empty = tmp_path / "empty"
    empty.mkdir()
    assert E._check_order(names, str(empty)) == names


def test_queries_and_oracles_follow_the_computed_order():
    names = E._check_order(list(E.QUERIES))
    assert list(E.queries()) == names
    assert list(E.oracle_sql()) == [n for n in names if E.QUERIES[n].oracle is not None]
    assert sorted(names) == sorted(E.QUERIES)
