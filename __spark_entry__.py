"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H-ish revenue rollup
    (3-way join + broadcast dim + agg)."""
    from kafana_spark.plans.declared import q14_revenue

    return q14_revenue(spark, "/root/testdata/sf0.001")


def _ordered_keys(extension_keys: list[str]) -> list[str]:
    """Driver-window-aware ordering of the extension block.

    The driver records at most the first 50 ``queries()`` entries in
    CORRECTNESS_r{N}.json. Round 4's window signed q01–q22 + x57–x67 +
    x01–x17 on the CURRENT testdata; x18–x28's only driver rows (r2)
    predate the round-3 testdata regeneration, so round 5 yields
    q01–q22 (the declared contract, always first), then x18–x28 for
    fresh signatures, then the new round-5 keys (x68+), then x29–x56
    (r3-signed — the oldest remaining signatures) filling the window,
    with the r4-signed blocks last.

    Round 14 (current): round 13 signed q01–q22 + x280–x301 + x29–x34
    all green (CORRECTNESS_r13), so no registered key is unsigned and
    the 28 window slots after the q-set go to the re-sign ladder: the
    r3-signed band x35–x56 (now the oldest signatures), then the first
    six r4-signed keys by number — the window yields q01–q22 + x35–x56
    + x01–x06. A key numbered above x301 is never driver-signed and
    fronts every signed band. Signature rounds after r13 (the rank's
    first element): x35–x56: r3 (oldest), x01–x17/x57–x67: r4,
    x18–x28/x68–x84: r5, x85–x112: r6, x113–x140 minus x130: r7,
    x130/x141–x167: r8, x168–x195: r9, x196–x223: r10, x224–x251: r11,
    x252–x279: r12, x29–x34/x280–x301: r13 (freshest). Each new
    CORRECTNESS_r{N}.json moves its window into a new freshest band.
    """

    def rank(k: str) -> tuple[int, int, str]:
        if k.startswith("x"):
            try:
                n = int(k[1:].split("_", 1)[0])
            except ValueError:
                n = 999
            if n > 301:
                return (0, n, k)  # never driver-signed, oldest first
            if 35 <= n <= 56:
                return (3, n, k)  # r3-signed: oldest current signatures
            if (1 <= n <= 17) or (57 <= n <= 67):
                return (4, n, k)
            if (18 <= n <= 28) or (68 <= n <= 84):
                return (5, n, k)
            if 85 <= n <= 112:
                return (6, n, k)
            if n == 130 or 141 <= n <= 167:
                return (8, n, k)
            if 168 <= n <= 195:
                return (9, n, k)
            if 196 <= n <= 223:
                return (10, n, k)
            if 224 <= n <= 251:
                return (11, n, k)
            if 252 <= n <= 279:
                return (12, n, k)
            if (29 <= n <= 34) or (280 <= n <= 301):
                return (13, n, k)  # r13-signed (freshest)
            return (7, n, k)      # x113–x140 (minus x130): r7
        return (99, 0, k)         # non-x keys: after every x band

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
