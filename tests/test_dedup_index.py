"""Persisted near-dup index: store-backed queries equal the
recompute-everything pipeline, and append maintenance is lossless."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from kafana_spark import dedup_index
from kafana_spark.operators import dedup
from kafana_spark.session import tune_session
from kafana_spark.sources.tables import load_table
from kafana_spark.streaming.pipeline import batch_sink
from tests.conftest import INJECTED_FAILURE, SF_SMOKE, fail_on
from tests.conftest import live_batches

THRESH = 0.5


def docs(spark):
    tune_session(spark)
    return load_table(spark, SF_SMOKE, "documents")


def pairs_set(df):
    return {(r.da, r.db, r.jaccard) for r in df.collect()}


def test_index_query_equals_direct_pipeline(spark, tmp_path):
    d = docs(spark)
    root = str(tmp_path / "ndidx")
    dedup_index.build_dedup_index(d, root)
    got = dedup_index.near_dup_from_index(spark, root, THRESH)
    expect = dedup.minhash_near_dup(d, THRESH)
    assert pairs_set(got) == pairs_set(expect)


def test_append_maintenance_is_lossless(spark, tmp_path):
    d = docs(spark)
    root = str(tmp_path / "ndidx")
    dedup_index.build_dedup_index(d.where(F.col("doc_id") % 2 == 0), root)
    dedup_index.append_dedup_index(d.where(F.col("doc_id") % 2 == 1), root,
                                   batch="odd")
    got = dedup_index.near_dup_from_index(spark, root, THRESH)
    expect = dedup.minhash_near_dup(d, THRESH)
    assert pairs_set(got) == pairs_set(expect)


def test_incremental_query_equals_df_incremental(spark, tmp_path):
    d = docs(spark)
    old = d.where(F.col("doc_id") % 2 == 0)
    new = d.where(F.col("doc_id") % 2 == 1)
    root = str(tmp_path / "ndidx")
    dedup_index.build_dedup_index(old, root)
    got = dedup_index.incremental_from_index(new, root, THRESH)
    expect = dedup.incremental_near_dup(new, old, THRESH)
    assert pairs_set(got) == pairs_set(expect)


def test_index_query_reads_no_text(spark, tmp_path):
    """The store-backed query plan touches only the index tables —
    no documents.parquet scan, no md5/shingle recomputation."""
    d = docs(spark)
    root = str(tmp_path / "ndidx")
    dedup_index.build_dedup_index(d, root)
    plan = dedup_index.near_dup_from_index(spark, root, THRESH) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan
    assert "md5" not in plan


def test_stream_sink_builds_index_redelivery_safe(spark, tmp_path):
    """Driving the foreachBatch sink with micro-batches — including a
    REDELIVERED epoch (at-least-once) — must yield exactly the
    recompute-everything pairs: the per-epoch overwrite replaces the
    replayed batch instead of duplicating its shingle rows."""
    d = docs(spark)
    root = str(tmp_path / "ndidx")
    sink = batch_sink(str(tmp_path / "ckpt"),
                      dedup_index.append_dedup_index, root)
    batches = [d.where(F.col("doc_id") % 3 == i) for i in range(3)]
    sink(batches[0], 0)
    sink(batches[1], 1)
    sink(batches[1], 1)       # redelivery of epoch 1
    sink(batches[2], 2)
    got = dedup_index.near_dup_from_index(spark, root, THRESH)
    expect = dedup.minhash_near_dup(d, THRESH)
    assert pairs_set(got) == pairs_set(expect)


def test_incremental_after_stream_batches(spark, tmp_path):
    """incremental_from_index over a stream-built index equals the
    DataFrame incremental pipeline over the same corpus split."""
    d = docs(spark)
    old = d.where(F.col("doc_id") % 2 == 0)
    new = d.where(F.col("doc_id") % 2 == 1)
    root = str(tmp_path / "ndidx")
    sink = batch_sink(str(tmp_path / "ckpt"),
                      dedup_index.append_dedup_index, root)
    sink(old.where(F.col("doc_id") % 4 == 0), 0)
    sink(old.where(F.col("doc_id") % 4 == 2), 1)
    got = dedup_index.incremental_from_index(new, root, THRESH)
    expect = dedup.incremental_near_dup(new, old, THRESH)
    assert pairs_set(got) == pairs_set(expect)


def test_clusters_from_index_equals_dup_clusters(spark, tmp_path):
    """Index-served cluster assignment must equal the
    recompute-everything dup_clusters, including singletons and
    shingle-less docs."""
    d = docs(spark)
    root = str(tmp_path / "ndidx")
    dedup_index.build_dedup_index(d, root)
    got = {(r.doc_id, r.cluster_id) for r in
           dedup_index.clusters_from_index(
               spark, d.select("doc_id"), root, THRESH).collect()}
    expect = {(r.doc_id, r.cluster_id) for r in
              dedup.dup_clusters(d, THRESH).collect()}
    assert got == expect


def test_rebuild_clears_stale_append_batches(spark, tmp_path):
    """A full rebuild must drop the batches left by
    appends/stream epochs — surviving (doc_id, h) shingle rows would
    double-count every jaccard intersection (ADVICE.md r5). Per-batch
    appends must still be incremental (not drop siblings)."""
    d = docs(spark)
    root = str(tmp_path / "ndidx")
    half = d.where(F.col("doc_id") % 2 == 0)
    dedup_index.build_dedup_index(half, root)
    dedup_index.append_dedup_index(d.where(F.col("doc_id") % 2 != 0),
                                   root, batch="day1")
    # append kept both batches (incremental contract intact)
    assert live_batches(f"{root}/{dedup_index.SH_DIR}") == \
        ["base", "day1"]
    dedup_index.build_dedup_index(d, root)   # rebuild-on-drift
    for sub in (dedup_index.SIG_DIR, dedup_index.BAND_DIR,
                dedup_index.SH_DIR):
        assert live_batches(f"{root}/{sub}") == ["base"]
    got = dedup_index.near_dup_from_index(spark, root, THRESH)
    expect = dedup.minhash_near_dup(d, THRESH)
    assert pairs_set(got) == pairs_set(expect)


def test_failed_rebuild_keeps_previous_index(spark, tmp_path):
    """A rebuild whose write job fails must commit nothing: the
    previous index keeps serving the same pairs."""
    d = docs(spark)
    root = str(tmp_path / "ndidx")
    dedup_index.build_dedup_index(d, root)
    before = pairs_set(dedup_index.near_dup_from_index(spark, root, THRESH))
    assert before
    last = d.agg(F.max("doc_id")).first()[0]
    with pytest.raises(Exception, match=INJECTED_FAILURE):
        dedup_index.build_dedup_index(
            fail_on(d, "text", F.col("doc_id") == last), root)
    assert pairs_set(
        dedup_index.near_dup_from_index(spark, root, THRESH)) == before


def test_substr_spans_from_index_equal_inline(spark, tmp_path):
    """Spans served from the stored gram index must equal the inline
    pipeline (store roundtrip lossless)."""
    d = docs(spark)
    root = str(tmp_path / "subidx")
    dedup_index.build_substr_index(d, root)
    got = {tuple(r) for r in
           dedup_index.spans_from_index(spark, root).collect()}
    expect = {tuple(r) for r in dedup.exact_substr_spans(d).collect()}
    assert got == expect and got


def test_substr_stream_sink_redelivery_safe(spark, tmp_path):
    """Micro-batches (incl. a redelivered epoch) through the gram-index
    sink must serve exactly the one-shot spans."""
    d = docs(spark)
    root = str(tmp_path / "subidx")
    sink = batch_sink(str(tmp_path / "ckpt"),
                      dedup_index.append_substr_index, root)
    batches = [d.where(F.col("doc_id") % 3 == i) for i in range(3)]
    sink(batches[0], 0)
    sink(batches[1], 1)
    sink(batches[1], 1)          # at-least-once redelivery
    sink(batches[2], 2)
    got = {tuple(r) for r in
           dedup_index.spans_from_index(spark, root).collect()}
    expect = {tuple(r) for r in dedup.exact_substr_spans(d).collect()}
    assert got == expect


def test_substr_rebuild_clears_stale_batches(spark, tmp_path):
    d = docs(spark)
    root = str(tmp_path / "subidx")
    dedup_index.build_substr_index(d.where(F.col("doc_id") % 2 == 0),
                                   root)
    dedup_index.append_substr_index(d.where(F.col("doc_id") % 2 != 0),
                                    root, batch="day1")
    dedup_index.build_substr_index(d, root)    # full rebuild
    assert live_batches(f"{root}/{dedup_index.GRAM_DIR}") == ["base"]


def test_serve_materialize_truncates_lineage_local_branch(spark):
    """The single-JVM branch (no checkpoint dir configured) must
    truncate the lineage to a materialized scan."""
    from kafana_spark.session import serve_materialize

    assert spark.sparkContext.getCheckpointDir() is None
    df = spark.range(10).withColumnRenamed("id", "n")
    local = serve_materialize(df)
    assert "LogicalRDD" in local._jdf.queryExecution().optimizedPlan() \
        .toString()
    assert sorted(r.n for r in local.collect()) == list(range(10))


@pytest.mark.slow
def test_serve_materialize_uses_reliable_checkpoint_when_configured(
        tmp_path):
    """r10 ADVICE: localCheckpoint blocks are executor-local and
    non-replicated — on a cluster, an executor loss after the
    checkpoint kills the serve. serve_materialize must switch to the
    RELIABLE checkpoint (recoverable from the checkpoint dir) whenever
    the session has one configured, and still produce identical rows.

    Runs in a SUBPROCESS with its own SparkContext (r11 ADVICE: the
    old version set the dir on the shared session-scoped context and
    hand-restored it through the JVM-private ``checkpointDir_$eq``
    var — a Spark rename would break the test and strand the dir set
    for every later test). One context per JVM, so isolation means a
    fresh process."""
    import subprocess
    import sys

    script = f"""
import os, sys
sys.path.insert(0, {str(_REPO)!r})
from kafana_spark.session import get_spark, serve_materialize
spark = get_spark("ckpt-test", master="local[2]", shuffle_partitions=2)
spark.sparkContext.setCheckpointDir({str(tmp_path / "ckpt")!r})
df = spark.range(10).withColumnRenamed("id", "n")
rel = serve_materialize(df)
plan = rel._jdf.queryExecution().optimizedPlan().toString()
assert "LogicalRDD" in plan, plan
blocks = [f for _, _, fs in os.walk({str(tmp_path / "ckpt")!r}) for f in fs]
assert blocks, "no blocks written to the configured checkpoint dir"
assert sorted(r.n for r in rel.collect()) == list(range(10))
print("CKPT_OK")
os._exit(0)
"""
    out = subprocess.run([sys.executable, "-c", script],
                         capture_output=True, text=True, timeout=300)
    assert "CKPT_OK" in out.stdout, out.stdout + out.stderr
