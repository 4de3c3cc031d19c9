"""Persisted quality-gate index: store-served reports equal the
recompute, appends gate under the FROZEN model, rebuilds clear stale
append partitions (tests/test_dedup_index.py discipline)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafana_spark import gate_index
from kafana_spark.operators.text import (
    gopher_rules, nb_score, quality_score,
)
from kafana_spark.session import tune_session
from kafana_spark.sources.tables import load_table
from kafana_spark.store import read_table
from kafana_spark.streaming.pipeline import batch_sink
from tests.conftest import SF_SMOKE


def docs(spark):
    tune_session(spark)
    return load_table(spark, SF_SMOKE, "documents")


def test_stored_report_equals_recompute(spark, tmp_path):
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    d = docs(spark)
    root = str(tmp_path / "gidx")
    gate_index.build_gate_index(d, root)
    got = {tuple(r) for r in gate_index.rejection_report_from_store(
        spark, root).collect()}
    want = {tuple(r) for r in EXTENSION_QUERIES[
        "x169_rejection_report"](spark, SF_SMOKE).collect()}
    assert got == want
    got_m = [tuple(r) for r in
             gate_index.source_gate_matrix_from_store(
                 spark, root).collect()]
    want_m = [tuple(r) for r in EXTENSION_QUERIES[
        "x170_source_gate_matrix"](spark, SF_SMOKE).collect()]
    assert got_m == want_m


def test_append_gates_under_frozen_model(spark, tmp_path):
    """Append a held-back slice: its rows join the store, Gopher
    booleans match the direct recompute, the NB gate matches scoring
    under the STORED weights, and the fair gate applies the frozen
    per-lang cut."""
    d = docs(spark)
    base = d.where(F.col("doc_id") % 5 != 0)
    newb = d.where(F.col("doc_id") % 5 == 0)
    root = str(tmp_path / "gidx")
    gate_index.build_gate_index(base, root)
    gate_index.append_gate_index(newb, root, batch="b1")
    stored = gate_index.gates_from_store(spark, root)
    assert stored.count() == d.count()
    app = {r.doc_id: r for r in stored.join(
        newb.select("doc_id"), "doc_id").collect()}
    # gopher is a per-doc function — must match the recompute exactly
    for r in gopher_rules(newb).collect():
        assert app[r.doc_id].g_gopher == r.keep
    # NB under stored weights: appended docs are all held-out
    w = read_table(spark, f"{root}/model/nb_weights")
    prior = read_table(spark, f"{root}/model/nb_prior")
    for r in nb_score(newb, w, prior).collect():
        assert app[r.doc_id].g_nb == r.pred
    # fair gate: frozen per-lang cut, unknown lang -> False
    cuts = {r.lang: r.cut_bp for r in read_table(
        spark, f"{root}/model/lang_cuts").collect()}
    q = {r.doc_id: r.quality_bp
         for r in quality_score(newb).collect()}
    langs = {r.doc_id: r.lang
             for r in newb.select("doc_id", "lang").collect()}
    for did, row in app.items():
        lang = langs[did]
        want = lang in cuts and q[did] >= cuts[lang]
        assert row.g_fair == want


def test_rebuild_clears_stale_append_partitions(spark, tmp_path):
    """A full rebuild must drop append partitions scored under the
    old model — surviving rows would mix model generations."""
    d = docs(spark)
    base = d.where(F.col("doc_id") % 5 != 0)
    newb = d.where(F.col("doc_id") % 5 == 0)
    root = str(tmp_path / "gidx")
    gate_index.build_gate_index(base, root)
    gate_index.append_gate_index(newb, root, batch="b1")
    assert gate_index.gates_from_store(spark, root).count() \
        == d.count()
    gate_index.build_gate_index(base, root)
    assert gate_index.gates_from_store(spark, root).count() \
        == base.count()


def test_append_redelivery_is_idempotent(spark, tmp_path):
    """Re-writing the same batch id replaces its own partition —
    the at-least-once delivery contract."""
    d = docs(spark)
    base = d.where(F.col("doc_id") % 5 != 0)
    newb = d.where(F.col("doc_id") % 5 == 0)
    root = str(tmp_path / "gidx")
    gate_index.build_gate_index(base, root)
    gate_index.append_gate_index(newb, root, batch="b1")
    gate_index.append_gate_index(newb, root, batch="b1")
    assert gate_index.gates_from_store(spark, root).count() \
        == d.count()


def test_gate_stream_sink_maintains_store(spark, tmp_path):
    """Streamed micro-batches (one redelivered) gate under the
    frozen model and land idempotently; the served report covers
    every doc exactly once and the streamed docs' Gopher booleans
    match the direct recompute."""
    d = docs(spark)
    base = d.where(F.col("doc_id") % 2 == 0)
    rest = d.where(F.col("doc_id") % 2 == 1)
    root = str(tmp_path / "gidx")
    gate_index.build_gate_index(base, root)
    sink = batch_sink(str(tmp_path / "ckpt"),
                      gate_index.append_gate_index, root)
    sink(rest.where(F.col("doc_id") % 4 == 1), 0)
    sink(rest.where(F.col("doc_id") % 4 == 3), 1)
    sink(rest.where(F.col("doc_id") % 4 == 3), 1)   # redelivery
    stored = gate_index.gates_from_store(spark, root)
    assert stored.count() == d.count()
    rows = gate_index.rejection_report_from_store(spark, root)
    assert sum(r.n for r in rows.collect()) == d.count()
    got = {r.doc_id: r.g_gopher for r in stored.join(
        rest.select("doc_id"), "doc_id").collect()}
    for r in gopher_rules(rest).collect():
        assert got[r.doc_id] == r.keep
