"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H-ish revenue rollup
    (3-way join + broadcast dim + agg)."""
    from kafana_spark.plans.declared import q14_revenue

    return q14_revenue(spark, "/root/testdata/sf0.001")


#: Where the driver drops its ``CORRECTNESS_r{N}.json`` records.
RECORDS_DIR = os.path.dirname(os.path.abspath(__file__))


def _green(row) -> bool:
    """A record row that passed. ``err == "no_oracle"`` is the
    documented rows-only check, not a failure."""
    return (isinstance(row, dict)
            and (not row.get("err") or row["err"] == "no_oracle")
            and all(row.get(c, True) is not False
                    for c in ("rows_match", "schema_match", "hash_match")))


def _latest_rows() -> dict[str, tuple[int, object]]:
    """``{key: (round, row)}``: each key's row in the newest record
    that has one."""
    rounds = {}
    for p in glob.glob(os.path.join(RECORDS_DIR, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if m:
            rounds[int(m.group(1))] = p
    latest = {}
    for rnd in sorted(rounds):
        with open(rounds[rnd]) as f:
            for k, row in json.load(f).items():
                latest[k] = (rnd, row)
    return latest


def _ordered_keys(extension_keys: list[str]) -> list[str]:
    """The extension block in driver-window order, derived from the
    ``CORRECTNESS_r*.json`` records in ``RECORDS_DIR``.

    The driver signs only the first 50 ``queries()`` entries of a
    round, so the keys that most need a signature come first: keys
    whose latest row is red, then keys that no record has signed, then
    green keys from the oldest signature round to the newest. Within
    each group keys sort by key number. A new record re-orders the
    window by itself.
    """
    latest = _latest_rows()

    def rank(k: str) -> tuple:
        m = re.match(r"x(\d+)", k)
        n = int(m.group(1)) if m else float("inf")
        if k not in latest:
            return (1, 0, n, k)
        rnd, row = latest[k]
        return (2, rnd, n, k) if _green(row) else (0, 0, n, k)

    return sorted(extension_keys, key=rank)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from kafana_spark.plans.declared import DECLARED_QUERIES
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    out.update(DECLARED_QUERIES)
    for k in _ordered_keys(list(EXTENSION_QUERIES)):
        out[k] = EXTENSION_QUERIES[k]
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query (omitted keys get the weaker
    rows-only check)."""
    from kafana_spark.plans.declared import DECLARED_ORACLE
    from kafana_spark.operators.registry import EXTENSION_ORACLE

    out: dict[str, str] = {}
    out.update(DECLARED_ORACLE)
    for k in _ordered_keys(list(EXTENSION_ORACLE)):
        out[k] = EXTENSION_ORACLE[k]
    return out
