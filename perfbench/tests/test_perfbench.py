"""The benchmark's own tests: seeded inputs are reproducible to the
byte, and span self time is duration minus child coverage.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import gen  # noqa: E402
from perfbench.harness import quantile  # noqa: E402
from perfbench.spans import Span, Tracer, covered, self_times  # noqa: E402


def _digests(root: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(root)):
        with open(os.path.join(root, name), "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _envelopes(seed: int, out_dir: str) -> dict[str, str]:
    gen.write_envelope_files(gen.envelope_records(seed, 3000), out_dir, 3)
    return _digests(out_dir)


def test_same_seed_gives_byte_identical_envelope_files(tmp_path):
    a = _envelopes(7, str(tmp_path / "a"))
    b = _envelopes(7, str(tmp_path / "b"))
    assert len(a) == 3 and a == b
    assert _envelopes(8, str(tmp_path / "c")) != a


def test_same_seed_gives_byte_identical_curation_tables(tmp_path):
    gen.curation_tables(5, str(tmp_path / "a"), 200, 50)
    gen.curation_tables(5, str(tmp_path / "b"), 200, 50)
    gen.curation_tables(6, str(tmp_path / "c"), 200, 50)
    a = _digests(str(tmp_path / "a"))
    assert set(a) == {"documents.parquet", "embeddings.parquet"}
    assert a == _digests(str(tmp_path / "b"))
    assert a != _digests(str(tmp_path / "c"))


def test_envelopes_carry_tombstones_redeliveries_and_fixed_partitions():
    recs = gen.envelope_records(3, 20_000)
    assert len(recs) == 20_000
    ids = {(r["topic"], r["partition"], r["offset"]) for r in recs}
    redelivered = len(recs) - len(ids)
    assert 0.01 * len(recs) < redelivered < 0.03 * len(recs)
    exp = gen.expected_counts(recs)
    assert exp["docs"] == len(ids)
    assert 0.01 * len(ids) < exp["tombstones"] < 0.03 * len(ids)
    assert all(r["partition"] == gen.key_partition(r["key"]) for r in recs)
    stamps = [r["timestamp"] for r in recs]
    assert len(set(stamps)) == len(ids)  # distinct per document


def _span(sid, name, start, end, parent=None):
    return Span(sid, name, start, end, parent, None)


def test_self_time_is_duration_minus_child_coverage():
    spans = [
        _span(0, "query.discover", 0.0, 10.0),
        # overlapping children cover [1, 5] ∪ [6, 7] = 5 s of the parent
        _span(1, "store.read_store", 1.0, 4.0, parent=0),
        _span(2, "store.read_store", 3.0, 5.0, parent=0),
        _span(3, "query.execute", 6.0, 7.0, parent=0),
        # a grandchild only reduces its own parent
        _span(4, "sources.read", 6.2, 6.7, parent=3),
    ]
    own = self_times(spans)
    assert abs(own["query"] - ((10 - 5) + (1 - 0.5))) < 1e-9
    assert abs(own["store"] - (3 + 2)) < 1e-9
    assert abs(own["sources"] - 0.5) < 1e-9


def test_covered_clips_to_the_parent_interval():
    assert covered([(-1.0, 2.0), (8.0, 12.0)], 0.0, 10.0) == 4.0
    assert covered([], 0.0, 10.0) == 0.0


def test_tracer_records_parents_and_nothing_when_disabled():
    off = Tracer(False)
    with off.span("a.b"):
        pass
    assert off.spans == []

    on = Tracer(True)
    on.request = "r1"
    with on.span("query.terms"):
        with on.span("query.execute"):
            pass
    outer, inner = on.spans
    assert inner.parent == outer.sid and outer.parent is None
    assert inner.request == "r1"
    assert outer.start <= inner.start <= inner.end <= outer.end
    own = self_times(on.spans)
    total = outer.end - outer.start
    assert abs(sum(own.values()) - total) < 1e-9


def test_quantile_interpolates():
    assert quantile([3.0], 0.9) == 3.0
    assert quantile([1.0, 2.0, 3.0, 4.0, 5.0], 0.5) == 3.0
    assert abs(quantile([0.0, 10.0], 0.9) - 9.0) < 1e-12


def test_benchmark_json_matches_what_run_reports():
    import json

    from perfbench import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == \
        run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == \
        run.per_layer_units()
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
