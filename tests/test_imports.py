"""Every library module imports: a dangling import (a deleted module or
name still referenced somewhere) fails here in seconds, without a Spark
session, not only in whichever test happens to load that module."""

from __future__ import annotations

import importlib
import pkgutil

import pytest

import kafana_spark

MODULES = sorted(m.name for m in pkgutil.walk_packages(
    kafana_spark.__path__, prefix="kafana_spark."))


def test_walk_finds_the_library():
    assert {"kafana_spark.query", "kafana_spark.index",
            "kafana_spark.operators.text",
            "kafana_spark.streaming.pipeline"} <= set(MODULES)


@pytest.mark.parametrize("name", MODULES)
def test_module_imports(name):
    importlib.import_module(name)
