"""Persisted SCD2 dimension index (the 10th stored family):
store-served dimension/PIT equal the inline recompute, EVENT-TIME
batches merge exactly via the idempotent re-collapse (the scd2_changes
merge law, pinned here on closed-form frames), redelivery is
idempotent, rebuilds clear stale partitions, the stream sink mirrors
append (tests/test_event_index.py discipline)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from kafana_spark import scd2_index
from kafana_spark.operators import events as ev_ops
from kafana_spark.session import tune_session
from kafana_spark.sources.tables import load_table
from kafana_spark.streaming.pipeline import batch_sink
from tests.conftest import SF_SMOKE

COLS = ["event_id", "ts", "user_id", "event_type", "value"]


def ts(minutes: float) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=minutes)


def make(spark, rows):
    return spark.createDataFrame(
        [(i, t, u, e, v) for i, (t, u, e, v) in enumerate(rows)], COLS)


def events(spark):
    tune_session(spark)
    return load_table(spark, SF_SMOKE, "events")


def _time_halves(d):
    lo, hi = d.agg(F.min(F.unix_micros("ts")),
                   F.max(F.unix_micros("ts"))).first()
    cut = lo + (hi - lo) // 2
    return (d.where(F.unix_micros("ts") <= cut),
            d.where(F.unix_micros("ts") > cut))


def _eq(got, want):
    g = sorted(tuple(r) for r in got.collect())
    w = sorted(tuple(r) for r in want.collect())
    assert g == w


def _check(spark, root, d):
    _eq(scd2_index.scd2_dim_from_store(spark, root), ev_ops.scd2_dim(d))
    _eq(scd2_index.scd2_state_at_from_store(spark, d, root, "purchase"),
        ev_ops.scd2_state_at(d, "purchase"))


def test_stored_serves_equal_inline(spark, tmp_path):
    d = events(spark)
    root = str(tmp_path / "scd2idx")
    scd2_index.build_scd2_index(d, root)
    _check(spark, root, d)


def test_time_split_append_merges_exactly(spark, tmp_path):
    d = events(spark)
    root = str(tmp_path / "scd2idx")
    early, late = _time_halves(d)
    scd2_index.build_scd2_index(early, root)
    scd2_index.append_scd2_index(late, root, batch="b2")
    _check(spark, root, d)


def test_append_redelivery_is_idempotent(spark, tmp_path):
    d = events(spark)
    root = str(tmp_path / "scd2idx")
    early, late = _time_halves(d)
    scd2_index.build_scd2_index(early, root)
    scd2_index.append_scd2_index(late, root, batch="b2")
    scd2_index.append_scd2_index(late, root, batch="b2")  # redeliver
    _check(spark, root, d)


def test_rebuild_clears_stale_append_partitions(spark, tmp_path):
    d = events(spark)
    root = str(tmp_path / "scd2idx")
    early, late = _time_halves(d)
    scd2_index.build_scd2_index(early, root)
    scd2_index.append_scd2_index(late, root, batch="b2")
    scd2_index.build_scd2_index(early, root)   # rebuild
    _check(spark, root, early)


def test_stream_sink_maintains_store(spark, tmp_path):
    d = events(spark)
    root = str(tmp_path / "scd2idx")
    early, late = _time_halves(d)
    late1, late2 = _time_halves(late)
    scd2_index.build_scd2_index(early, root)
    sink = batch_sink(str(tmp_path / "ckpt"),
                      scd2_index.append_scd2_index, root)
    sink(late1, 0)
    sink(late2, 1)
    sink(late2, 1)   # redelivery replaces its own partition
    _check(spark, root, d)


def test_cross_boundary_same_state_collapses(spark, tmp_path):
    """A key that ends batch 1 and starts batch 2 in the SAME state
    must serve ONE validity interval: the serve-time re-collapse
    removes the across-boundary no-change row."""
    rows = [(ts(0), 1, "view", 1.0), (ts(1), 1, "view", 1.0),
            (ts(10), 1, "view", 1.0), (ts(11), 1, "click", 1.0)]
    d = make(spark, rows)
    root = str(tmp_path / "scd2idx")
    scd2_index.build_scd2_index(d.where("event_id <= 1"), root)
    scd2_index.append_scd2_index(d.where("event_id >= 2"), root,
                                 batch="b2")
    out = scd2_index.scd2_dim_from_store(spark, root).collect()
    assert [(r.state, r.version, r.is_current) for r in out] == \
        [("view", 1, 0), ("click", 2, 1)]
    assert out[0].valid_from == ts(0) and out[0].valid_to == ts(11)


def test_merge_law_time_partitioned_batches(spark):
    """collapse(concat(collapse(b1), collapse(b2))) ==
    collapse(concat(b1, b2)) for event-time-partitioned batches —
    the docstring's merge law, on a frame exercising both a mid-batch
    duplicate and an across-boundary duplicate."""
    rows = [(ts(0), 1, "a", 1.0), (ts(1), 1, "a", 1.0),
            (ts(2), 1, "b", 1.0), (ts(10), 1, "b", 1.0),
            (ts(11), 1, "a", 1.0), (ts(12), 1, "a", 1.0)]
    d = make(spark, rows)
    b1, b2 = d.where("event_id <= 3"), d.where("event_id >= 4")
    merged = ev_ops.scd2_changes(
        ev_ops.scd2_changes(b1).unionByName(ev_ops.scd2_changes(b2)))
    full = ev_ops.scd2_changes(d)
    _eq(merged, full)


def test_append_out_of_order_batch_raises(spark, tmp_path):
    """The merge-law precondition is enforced: a batch that is not
    strictly event-time-later than every stored batch raises instead
    of silently corrupting the served history (ADVICE r7 medium —
    b1 = A@1,A@5 collapses away A@5; folding b2 = B@3 after the fact
    would serve A,B where the true history is A,B,A)."""
    import pytest

    root = str(tmp_path / "scd2idx")
    b1 = make(spark, [(ts(1), 1, "a", 1.0), (ts(5), 1, "a", 1.0)])
    late = make(spark, [(ts(3), 1, "b", 1.0)])
    scd2_index.build_scd2_index(b1, root)
    with pytest.raises(ValueError, match="event-time"):
        scd2_index.append_scd2_index(late, root, batch="b2")
    # overlap with ANY stored batch raises, not just the base
    ok = make(spark, [(ts(10), 1, "b", 1.0)])
    scd2_index.append_scd2_index(ok, root, batch="b2")
    overlap_b2 = make(spark, [(ts(8), 1, "c", 1.0)])
    with pytest.raises(ValueError, match="event-time"):
        scd2_index.append_scd2_index(overlap_b2, root, batch="b3")


def test_append_redelivery_passes_order_check(spark, tmp_path):
    """An exact redelivery (same batch id, same event-time span) is
    NOT an ordering violation — it replaces its own partition, even
    after later batches landed."""
    root = str(tmp_path / "scd2idx")
    b1 = make(spark, [(ts(0), 1, "a", 1.0)])
    b2 = make(spark, [(ts(10), 1, "b", 1.0)])
    b3 = make(spark, [(ts(20), 1, "a", 1.0)])
    scd2_index.build_scd2_index(b1, root)
    scd2_index.append_scd2_index(b2, root, batch="b2")
    scd2_index.append_scd2_index(b3, root, batch="b3")
    scd2_index.append_scd2_index(b2, root, batch="b2")  # redeliver old
    out = scd2_index.scd2_dim_from_store(spark, root).collect()
    assert [(r.state, r.version) for r in out] == \
        [("a", 1), ("b", 2), ("a", 3)]


def test_append_empty_batch_is_noop_for_ordering(spark, tmp_path):
    """An empty micro-batch (idle stream epoch) neither raises nor
    blocks later appends."""
    root = str(tmp_path / "scd2idx")
    b1 = make(spark, [(ts(0), 1, "a", 1.0)])
    scd2_index.build_scd2_index(b1, root)
    empty = make(spark, [(ts(5), 1, "a", 1.0)]).where("event_id < 0")
    scd2_index.append_scd2_index(empty, root, batch="b2")
    b3 = make(spark, [(ts(10), 1, "b", 1.0)])
    scd2_index.append_scd2_index(b3, root, batch="b3")
    out = scd2_index.scd2_dim_from_store(spark, root).collect()
    assert [(r.state, r.version) for r in out] == [("a", 1), ("b", 2)]


def test_build_nonbase_batch_enforces_ordering(spark, tmp_path):
    """ADVICE r8: an incremental write must ride the event-time
    enforcement against the base's logged span — an overlapping batch
    raises on every write path (appends are the only one)."""
    import pytest

    root = str(tmp_path / "scd2idx")
    b1 = make(spark, [(ts(1), 1, "a", 1.0), (ts(5), 1, "a", 1.0)])
    overlap = make(spark, [(ts(3), 1, "b", 1.0)])
    scd2_index.build_scd2_index(b1, root)
    with pytest.raises(ValueError, match="event-time"):
        scd2_index.append_scd2_index(overlap, root, batch="b2")
    # a genuinely later batch is accepted and serves exactly
    ok = make(spark, [(ts(10), 1, "b", 1.0)])
    scd2_index.append_scd2_index(ok, root, batch="b2")
    out = scd2_index.scd2_dim_from_store(spark, root).collect()
    assert [(r.state, r.version) for r in out] == [("a", 1), ("b", 2)]
