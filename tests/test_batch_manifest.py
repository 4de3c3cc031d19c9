"""Merge-law guards for the id-keyed stored families (r8 verdict #6).

Each family's serve-time merge is exact only for ROW-DISJOINT batches.
These tests prove the guards in batch_manifest.py:

- every family RAISES on the retry footgun (same rows re-appended
  under a FRESH batch id — the ``batch=None`` uuid default);
- same-id redelivery stays idempotent (never raises — pinned here
  and in each family's own redelivery test);
- dedup/gate (one stored row per id) also RAISE on any id overlap
  (exact semi-join), not just whole-batch duplication;
- ann_index's audit conclusion — serve paths dedup (qid, vec_id), so
  duplicated vectors cannot change a ranking — is pinned by serving
  through a store that holds a legitimately re-assigned batch.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafana_spark import ann_index, dedup_index, event_index, gate_index
from kafana_spark.session import tune_session
from kafana_spark.sources.tables import load_table
from kafana_spark.store import append_table, read_table
from tests.conftest import SF_SMOKE


def docs(spark):
    tune_session(spark)
    return load_table(spark, SF_SMOKE, "documents")


def embs(spark):
    tune_session(spark)
    return load_table(spark, SF_SMOKE, "embeddings")


def events(spark):
    tune_session(spark)
    return load_table(spark, SF_SMOKE, "events")


def test_dedup_index_rejects_same_rows_under_fresh_id(spark, tmp_path):
    d = docs(spark)
    root = str(tmp_path / "ndidx")
    dedup_index.build_dedup_index(d.where(F.col("doc_id") % 2 == 0),
                                  root)
    newb = d.where(F.col("doc_id") % 2 == 1)
    dedup_index.append_dedup_index(newb, root, batch="day1")
    # a retry under a fresh batch id must raise, not silently double
    # every (doc_id, h) shingle row
    with pytest.raises(ValueError, match="fingerprint"):
        dedup_index.append_dedup_index(newb, root, batch="day1-retry")
    # same-id redelivery replaces its own partition: idempotent
    dedup_index.append_dedup_index(newb, root, batch="day1")


def test_dedup_index_rejects_partial_doc_overlap(spark, tmp_path):
    d = docs(spark)
    root = str(tmp_path / "ndidx")
    dedup_index.build_dedup_index(d.where(F.col("doc_id") % 2 == 0),
                                  root)
    # overlaps the base on the % 4 == 0 docs — different fingerprint,
    # so only the exact id check can catch it
    with pytest.raises(ValueError, match="id-disjoint"):
        dedup_index.append_dedup_index(
            d.where(F.col("doc_id") % 4 != 1), root, batch="day1")


def test_gate_index_rejects_duplicate_docs(spark, tmp_path):
    d = docs(spark)
    root = str(tmp_path / "gidx")
    gate_index.build_gate_index(d.where(F.col("doc_id") % 2 == 0),
                                root)
    newb = d.where(F.col("doc_id") % 2 == 1)
    gate_index.append_gate_index(newb, root, batch="b1")
    with pytest.raises(ValueError, match="fingerprint"):
        gate_index.append_gate_index(newb, root, batch="b2")
    with pytest.raises(ValueError, match="id-disjoint"):
        gate_index.append_gate_index(
            d.where(F.col("doc_id") % 4 == 1), root, batch="b3")
    gate_index.append_gate_index(newb, root, batch="b1")  # redeliver


def test_event_index_rejects_same_rows_under_fresh_id(spark, tmp_path):
    d = events(spark)
    root = str(tmp_path / "evidx")
    event_index.build_event_index(d.where(F.col("event_id") % 2 == 0),
                                  root)
    newb = d.where(F.col("event_id") % 2 == 1)
    event_index.append_event_index(newb, root, batch="b1")
    with pytest.raises(ValueError, match="fingerprint"):
        event_index.append_event_index(newb, root, batch="b2")
    event_index.append_event_index(newb, root, batch="b1")  # redeliver


def test_ann_index_rejects_same_rows_under_fresh_id(spark, tmp_path):
    e = embs(spark)
    root = str(tmp_path / "annidx")
    ann_index.build_ann_index(e.where(F.col("vec_id") % 2 == 0), root,
                              centroid_mod=40)
    newb = e.where(F.col("vec_id") % 2 == 1)
    ann_index.append_ann_index(newb, root, batch="day1")
    with pytest.raises(ValueError, match="fingerprint"):
        ann_index.append_ann_index(newb, root, batch="day1-retry")
    ann_index.append_ann_index(newb, root, batch="day1")  # redeliver


def test_pq_lsh_binary_appends_reject_fresh_id_retry(spark, tmp_path):
    e = embs(spark)
    newb = e.where(F.col("vec_id") % 2 == 1)
    pq_root = str(tmp_path / "pqidx")
    ann_index.build_pq_index(e.where(F.col("vec_id") % 2 == 0),
                             pq_root)
    ann_index.append_pq_index(newb, pq_root, batch="b1")
    with pytest.raises(ValueError, match="fingerprint"):
        ann_index.append_pq_index(newb, pq_root, batch="b2")

    lsh_root = str(tmp_path / "lshidx")
    ann_index.build_lsh_index(e.where(F.col("vec_id") % 2 == 0),
                              lsh_root)
    ann_index.append_lsh_index(newb, lsh_root, batch="b1")
    with pytest.raises(ValueError, match="fingerprint"):
        ann_index.append_lsh_index(newb, lsh_root, batch="b2")

    bin_root = str(tmp_path / "binidx")
    ann_index.build_binary_index(e.where(F.col("vec_id") % 2 == 0),
                                 bin_root)
    ann_index.append_binary_index(newb, bin_root, batch="b1")
    with pytest.raises(ValueError, match="fingerprint"):
        ann_index.append_binary_index(newb, bin_root, batch="b2")


def test_rebuild_clears_fingerprints(spark, tmp_path):
    """A base rebuild forgets prior batches — the old fingerprints
    must not veto re-appending the same data to the fresh index."""
    e = embs(spark)
    root = str(tmp_path / "annidx")
    newb = e.where(F.col("vec_id") % 2 == 1)
    ann_index.build_ann_index(e.where(F.col("vec_id") % 2 == 0), root,
                              centroid_mod=40)
    ann_index.append_ann_index(newb, root, batch="day1")
    ann_index.build_ann_index(e.where(F.col("vec_id") % 2 == 0), root,
                              centroid_mod=40)  # rebuild
    ann_index.append_ann_index(newb, root, batch="day2")  # fresh id ok


def test_empty_batch_never_raises(spark, tmp_path):
    e = embs(spark)
    root = str(tmp_path / "annidx")
    ann_index.build_ann_index(e.where(F.col("vec_id") % 2 == 0), root,
                              centroid_mod=40)
    ann_index.append_ann_index(e.limit(0), root, batch="idle1")
    ann_index.append_ann_index(e.limit(0), root, batch="idle2")


def test_ann_serve_dedups_duplicated_vectors(spark, tmp_path):
    """The ann audit conclusion: even when the SAME vectors live in
    two batches (legitimately possible pre-guard; the guard only
    blocks whole-batch retries), the serve's (qid, vec_id) dedup
    keeps rankings identical to the clean index."""
    e = embs(spark)
    root_clean = str(tmp_path / "clean")
    root_dup = str(tmp_path / "dup")
    q = e.where(F.col("vec_id") % 100 == 0) \
        .select(F.col("vec_id").alias("qid"),
                F.col("embedding").cast("array<double>").alias("v"))
    ann_index.build_ann_index(e, root_clean, centroid_mod=40)
    ann_index.build_ann_index(e, root_dup, centroid_mod=40)
    # plant a duplicated slice under a second batch id, bypassing the
    # guard the way a pre-guard index could have been built
    dup = e.where(F.col("vec_id") % 7 == 0)
    cents = read_table(spark, f"{root_dup}/{ann_index.CENT_DIR}")
    from kafana_spark.operators.similarity import (_ivf_assign,
                                                   _vectors,
                                                   _with_norm)

    append_table(_ivf_assign(_with_norm(_vectors(dup)), cents, 1),
                 f"{root_dup}/{ann_index.ASSIGN_DIR}", "ghost")
    a = sorted(map(tuple, ann_index.ann_topk_from_index(
        spark, root_clean, q, k=5).collect()))
    b = sorted(map(tuple, ann_index.ann_topk_from_index(
        spark, root_dup, q, k=5).collect()))
    assert a == b
