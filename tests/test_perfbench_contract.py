"""perfbench's calls into the library, checked without Spark.

``perfbench/`` calls the library with fixed argument shapes, and a
change to one of those signatures otherwise shows up only as a
benchmark run that exits early. Each case below binds the arguments
perfbench passes (its call site is named above the case) to the
library's current signature, so such a change fails here instead.
"""

from __future__ import annotations

import datetime as dt
import importlib
import inspect

import pytest

from perfbench import discover_workload, gen

#: stand-ins: only the shape of each call is checked, nothing runs
SPARK = DF = object()
T0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

CALLS = [
    # harness.start_spark
    ("kafana_spark.session:get_spark", ("kafana-perfbench",),
     {"master": "local[4]", "extra_conf": {"spark.local.dir": "tmp"}}),
    # ingest_workload.drain
    ("kafana_spark.sources.files:read_records",
     (SPARK, "in", "json", gen.ENVELOPE_SCHEMA),
     {"streaming": True, "maxFilesPerTrigger": "1"}),
    ("kafana_spark.streaming.pipeline:ingest_stream_exactly_once",
     (DF, "store", "ckpt"), {}),
    # ingest_workload.write_path_probe: no batch id
    ("kafana_spark.sources.files:read_records",
     (SPARK, "in.json", "json", gen.ENVELOPE_SCHEMA), {}),
    ("kafana_spark.ingest:enrich", (DF,), {}),
    ("kafana_spark.store:write_store", (DF, "out"), {}),
    # discover_workload.setup and request
    ("kafana_spark.store:compact", (SPARK, "store"), {}),
    ("kafana_spark.store:read_store", (SPARK, "store"), {"dedup": True}),
    # discover_workload.build, one case per request kind
    ("kafana_spark.query:discover", (DF, T0, T0),
     {"n": discover_workload.DISCOVER_N}),
    ("kafana_spark.query:search_key", (DF, "k1"), {}),
    ("kafana_spark.query:search", (DF, "topic:orders"), {}),
    ("kafana_spark.query:search_text", (DF, "needle"), {}),
    ("kafana_spark.query:terms", (DF, "key", 10), {}),
    ("kafana_spark.query:date_histogram", (DF, "1 hour"), {}),
    ("kafana_spark.query:metrics", (DF, "message.amount"),
     {"by": ["topic"]}),
    ("kafana_spark.query:cardinality", (DF, "key"), {}),
    ("kafana_spark.query:search_after",
     (DF, "_id", "id-1", discover_workload.PAGE), {}),
    ("kafana_spark.store:latest_state", (DF,), {}),
    # discover_workload.layer_metrics
    ("kafana_spark.query_string:compile_query_string",
     ("topic:orders", "message.value"), {}),
]


def _fn(target: str):
    mod, name = target.split(":")
    return getattr(importlib.import_module(mod), name)


@pytest.mark.parametrize("target,args,kwargs", CALLS,
                         ids=[f"{t.split(':')[1]}-{i}"
                              for i, (t, _, _) in enumerate(CALLS)])
def test_perfbench_call_binds(target, args, kwargs):
    inspect.signature(_fn(target)).bind(*args, **kwargs)


def test_curation_keys_are_registered_with_oracles():
    """The curation probe of a traced run looks each key up in both
    registries (curation_workload.setup and run_key)."""
    from kafana_spark.operators.registry import (
        EXTENSION_ORACLE, EXTENSION_QUERIES,
    )
    from perfbench.curation_workload import KEYS

    assert set(KEYS) <= set(EXTENSION_QUERIES), KEYS
    assert set(KEYS) <= set(EXTENSION_ORACLE), KEYS
