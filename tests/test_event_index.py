"""Persisted event-rollup index: store-served analytics equal the
inline recompute, appended batches merge EXACTLY (distributive counts
+ one serve-time DISTINCT for user-days split across batches),
redelivery is idempotent, rebuilds clear stale partitions
(tests/test_gate_index.py discipline)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafana_spark import event_index
from kafana_spark.operators import events as ev_ops
from kafana_spark.session import tune_session
from kafana_spark.sources.tables import load_table
from kafana_spark.streaming.pipeline import batch_sink
from tests.conftest import SF_SMOKE

RULES = (("r_err", "error", 12000), ("r_click", "click", 11000))


def events(spark):
    tune_session(spark)
    return load_table(spark, SF_SMOKE, "events")


def _frames(spark, root):
    return {
        "roll": event_index.rolling_active_from_store(spark, root),
        "acf": event_index.acf_from_store(spark, root),
        "dow": event_index.dow_profile_from_store(spark, root),
        "fc": event_index.forecast_backtest_from_store(spark, root),
        "spike": event_index.error_spike_from_store(spark, root),
        "alerts": event_index.metric_alerts_from_store(spark, root,
                                                       RULES),
    }


def _inline(d):
    return {
        "roll": ev_ops.rolling_active(d),
        "acf": ev_ops.acf(d),
        "dow": ev_ops.dow_profile(d),
        "fc": ev_ops.forecast_backtest(d),
        "spike": ev_ops.error_spike(d),
        "alerts": ev_ops.metric_alerts(d, RULES),
    }


def _eq(got, want):
    for k in want:
        g = sorted(tuple(r) for r in got[k].collect())
        w = sorted(tuple(r) for r in want[k].collect())
        assert g == w, k


def test_stored_serves_equal_inline(spark, tmp_path):
    d = events(spark)
    root = str(tmp_path / "evidx")
    event_index.build_event_index(d, root)
    _eq(_frames(spark, root), _inline(d))


def test_append_merges_exactly_across_batches(spark, tmp_path):
    """Split the corpus by event_id parity — both halves hit the SAME
    days/hours/user-days, so the merge must sum partial counts and
    collapse duplicated user-day rows to match the full recompute."""
    d = events(spark)
    root = str(tmp_path / "evidx")
    event_index.build_event_index(d.where(F.col("event_id") % 2 == 0),
                                  root)
    event_index.append_event_index(
        d.where(F.col("event_id") % 2 == 1), root, batch="b1")
    _eq(_frames(spark, root), _inline(d))


def test_append_redelivery_is_idempotent(spark, tmp_path):
    d = events(spark)
    root = str(tmp_path / "evidx")
    event_index.build_event_index(d.where(F.col("event_id") % 2 == 0),
                                  root)
    newer = d.where(F.col("event_id") % 2 == 1)
    event_index.append_event_index(newer, root, batch="b1")
    event_index.append_event_index(newer, root, batch="b1")  # redeliver
    _eq(_frames(spark, root), _inline(d))


def test_rebuild_clears_stale_append_partitions(spark, tmp_path):
    d = events(spark)
    root = str(tmp_path / "evidx")
    event_index.build_event_index(d.where(F.col("event_id") % 2 == 0),
                                  root)
    event_index.append_event_index(
        d.where(F.col("event_id") % 2 == 1), root, batch="b1")
    base = d.where(F.col("event_id") % 3 == 0)
    event_index.build_event_index(base, root)   # rebuild
    _eq(_frames(spark, root), _inline(base))


def test_event_stream_sink_maintains_store(spark, tmp_path):
    d = events(spark)
    root = str(tmp_path / "evidx")
    event_index.build_event_index(d.where(F.col("event_id") % 2 == 0),
                                  root)
    sink = batch_sink(str(tmp_path / "ckpt"),
                      event_index.append_event_index, root)
    rest = d.where(F.col("event_id") % 2 == 1)
    sink(rest.where(F.col("event_id") % 4 == 1), 0)
    sink(rest.where(F.col("event_id") % 4 == 3), 1)
    sink(rest.where(F.col("event_id") % 4 == 3), 1)   # redelivery
    _eq(_frames(spark, root), _inline(d))
