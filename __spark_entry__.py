"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``fifteenmc_spark`` package; this module just
exposes its declared-query registry (SURVEY.md §2.11 and the training-data
pipeline operators).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

import fifteenmc_spark.operators  # noqa: E402,F401  (registers all query modules)
from fifteenmc_spark.operators.relational import QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: TPC-H-Q1-shaped aggregation (d6) on sf0.001."""
    return QUERIES["d6_groupby_agg"].build(spark, "/root/testdata/sf0.001")


def _check_order(names: list[str], root: str = _HERE) -> list[str]:
    """``names`` in the order a correctness check should run them, from
    the CORRECTNESS_r*.json records in ``root``: a check that covers a
    bounded window of queries per round should reach the stalest first,
    so queries with no ``hash_match: true`` row come first, then the
    rest by the newest round in which they passed, oldest first.  Ties
    keep the order of ``names``."""
    last_pass: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m is None:
            continue
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if isinstance(row, dict) and row.get("hash_match") is True:
                last_pass[name] = max(last_pass.get(name, -1), int(m.group(1)))
    return sorted(names, key=lambda n: last_pass.get(n, -1))


def _ordered() -> dict:
    return {n: QUERIES[n] for n in _check_order(list(QUERIES))}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: q.build for name, q in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query (omitted entries get a
    weaker rows-only check)."""
    return {name: q.oracle for name, q in _ordered().items() if q.oracle is not None}
