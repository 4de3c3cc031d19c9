from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def live_batches(table: str) -> list[str]:
    """The batch ids owning the live files of a stored table's
    snapshot (files are named ``<batch>-part-*``)."""
    from kafana_spark.store import table_files

    return sorted({os.path.basename(f).split("-part-")[0]
                   for f in table_files(table)})



def aggregating_requests(df) -> dict:
    """The discover loop's aggregating request kinds over ``df``, by
    name: terms on ``key``, an hourly date histogram and the latest
    state per key."""
    from kafana_spark import query
    from kafana_spark.store import latest_state

    return {"terms": query.terms(df, "key"),
            "date_histogram": query.date_histogram(df, "1 hour"),
            "latest_state": latest_state(df)}


#: the message a ``fail_on`` frame raises with
INJECTED_FAILURE = "injected write failure"


def fail_on(df, col: str, when):
    """``df`` with ``col`` passed through a Python UDF that raises on
    the rows where the Column ``when`` holds: a job that computes
    ``col`` fails part-way, after other tasks may have written."""
    from pyspark.sql import functions as F

    @F.udf(returnType=df.schema[col].dataType)
    def boom(v, hit):
        if hit:
            raise RuntimeError(INJECTED_FAILURE)
        return v

    return df.withColumn(col, boom(F.col(col), when))


@pytest.fixture(scope="session")
def spark():
    from kafana_spark.session import get_spark

    spark = get_spark("kafana-tests", master="local[4]", shuffle_partitions=4)
    yield spark
    spark.stop()


class Crash(Exception):
    """Raised by the ``crash`` fixture at the store step it was armed on."""


class _CrashingOs:
    """``os`` as ``kafana_spark.store`` sees it under the ``crash``
    fixture: one armed step — the n-th ``rename``, the ``commit`` (the
    link that publishes a log entry) or the first ``delete`` of a
    parquet file — raises ``Crash``, or runs ``action`` just before the
    real call. It fires once; everything else is plain ``os``."""

    #: pytest imports this file apart from ``tests.conftest``, so tests
    #: catch the fixture's own class: ``crash.Crash``
    Crash = Crash

    def __init__(self):
        self.step = None

    def arm(self, step: str, n: int = 1, action=None) -> None:
        self.step, self.n, self.action = step, n, action

    def __getattr__(self, name):
        return getattr(os, name)

    def _hit(self, step: str) -> None:
        if self.step != step:
            return
        self.n -= 1
        if self.n:
            return
        self.step = None
        if self.action is None:
            raise Crash(step)
        self.action()

    def rename(self, src, dst):
        self._hit("rename")
        os.rename(src, dst)

    def link(self, src, dst):
        self._hit("commit")
        os.link(src, dst)

    def remove(self, path):
        if str(path).endswith(".parquet"):
            self._hit("delete")
        os.remove(path)


@pytest.fixture
def crash(monkeypatch):
    """Crash injection for the store's filesystem steps; see
    ``_CrashingOs``."""
    import kafana_spark.store as store

    proxy = _CrashingOs()
    monkeypatch.setattr(store, "os", proxy)
    return proxy
