"""Persisted ANN index: store-backed queries equal the inline IVF
pipeline, append assigns against stored centroids, and the query plan
touches only index tables."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafana_spark import ann_index
from kafana_spark.operators import similarity
from kafana_spark.session import tune_session
from kafana_spark.sources.tables import load_table
from kafana_spark.streaming.pipeline import batch_sink
from tests.conftest import INJECTED_FAILURE, SF_SMOKE, fail_on, live_batches


def embs(spark):
    tune_session(spark)
    return load_table(spark, SF_SMOKE, "embeddings")


def result_set(df):
    return {(r.qid, r.vec_id, r.cos, r.rank) for r in df.collect()}


def test_index_query_equals_inline_ivf(spark, tmp_path):
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    root = str(tmp_path / "annidx")
    ann_index.build_ann_index(e, root, centroid_mod=40, n_assign=2)
    got = ann_index.ann_topk_from_index(spark, root, q, k=10, n_probe=3)
    expect = similarity.ivf_topk(e, q, k=10, centroid_mod=40,
                                 n_probe=3, n_assign=2)
    assert result_set(got) == result_set(expect)


def test_append_assigns_against_stored_centroids(spark, tmp_path):
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    root = str(tmp_path / "annidx")
    # centroids come from the FULL corpus (modulo quantizer is a row
    # filter), so split-build + append matches the one-shot build
    ann_index.build_ann_index(e, root, centroid_mod=40, n_assign=2)
    root2 = str(tmp_path / "annidx2")
    ann_index.build_ann_index(e.where(F.col("vec_id") % 40 == 0), root2,
                              centroid_mod=40, n_assign=2)
    ann_index.append_ann_index(e.where(F.col("vec_id") % 40 != 0), root2,
                               n_assign=2, batch="rest")
    a = ann_index.ann_topk_from_index(spark, root, q, k=10, n_probe=3)
    b = ann_index.ann_topk_from_index(spark, root2, q, k=10, n_probe=3)
    assert result_set(a) == result_set(b)


def test_index_query_reads_only_index_tables(spark, tmp_path):
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    root = str(tmp_path / "annidx")
    ann_index.build_ann_index(e, root, centroid_mod=40)
    df = ann_index.ann_topk_from_index(spark, root, q)
    qe = df._jdf.queryExecution()
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    plan = qe.explainString(mode).replace("\\", "/")
    # the assignment side must come from the index tables, not from a
    # re-derivation over the corpus parquet; centroids no longer
    # appear IN the serve plan — they are collected once at plan
    # build (the |cells|×(dim+2) driver footprint) and ride the probe
    # pick UDF's closure, so the only scan left is the probed
    # assignment table
    assert "annidx/assignments" in plan
    assert "annidx/centroids" not in plan
    # exactly ONE corpus-parquet scan: the queries frame itself — the
    # member side must never re-derive vectors from the corpus
    assert plan.count("embeddings.parquet]") == 1


def test_pq_index_query_equals_inline(spark, tmp_path):
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    root = str(tmp_path / "pqidx")
    ann_index.build_pq_index(e, root, m_total=16, ksub=32, train_mod=3)
    got = ann_index.pq_topk_from_index(spark, root, q, k=10, pool=100,
                                       m_total=16)
    expect = similarity.pq_topk_refined(e, q, k=10, pool=100, m_total=16,
                                        ksub=32, train_mod=3)
    to_set = lambda df: {(r.qid, r.vec_id, r.d2u, r.rank)
                         for r in df.collect()}
    assert to_set(got) == to_set(expect)


def test_pq_append_encodes_against_stored_codebooks(spark, tmp_path):
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    # codebooks come from the training rows (vec_id % 3 == 0), so a
    # build on just those rows followed by appending the rest must
    # serve identically to the one-shot build
    root = str(tmp_path / "pqidx")
    ann_index.build_pq_index(e, root, m_total=16, ksub=32, train_mod=3)
    root2 = str(tmp_path / "pqidx2")
    from pyspark.sql import functions as F
    ann_index.build_pq_index(e.where(F.col("vec_id") % 3 == 0), root2,
                             m_total=16, ksub=32, train_mod=3)
    ann_index.append_pq_index(e.where(F.col("vec_id") % 3 != 0), root2,
                              m_total=16, batch="rest")
    to_set = lambda df: {(r.qid, r.vec_id, r.d2u, r.rank)
                         for r in df.collect()}
    a = ann_index.pq_topk_from_index(spark, root, q, k=10, pool=100,
                                     m_total=16)
    b = ann_index.pq_topk_from_index(spark, root2, q, k=10, pool=100,
                                     m_total=16)
    assert to_set(a) == to_set(b)


def test_pq_index_query_reads_only_index_tables(spark, tmp_path):
    e = embs(spark)
    # literal query vectors: with the queries not derived from the
    # corpus, NO scan of the corpus parquet is legitimate at serving
    # time — everything must come from the index tables
    qrows = [(r.qid, list(r.v)) for r in
             similarity.modulo_queries(e, 100).collect()]
    q = spark.createDataFrame(qrows, "qid long, v array<double>")
    root = str(tmp_path / "pqidx")
    ann_index.build_pq_index(e, root, m_total=16, ksub=32, train_mod=3)
    df = ann_index.pq_topk_from_index(spark, root, q, k=10, pool=100,
                                      m_total=16)
    qe = df._jdf.queryExecution()
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    plan = qe.explainString(mode).replace("\\", "/")
    assert "pqidx/pq_codes" in plan
    assert "pqidx/pq_codebooks" in plan
    assert "pqidx/pq_vectors" in plan
    assert "embeddings.parquet" not in plan


def test_ivf_stream_sink_redelivery_safe(spark, tmp_path):
    """IVF assignments via the foreachBatch sink (with a redelivered
    epoch) serve identically to the one-shot build."""
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    root = str(tmp_path / "annidx")
    ann_index.build_ann_index(e, root, centroid_mod=40, n_assign=2)
    # stream twin: centroids from the training slice, batches streamed
    root2 = str(tmp_path / "annidx2")
    ann_index.build_ann_index(e.where(F.col("vec_id") % 40 == 0), root2,
                              centroid_mod=40, n_assign=2)
    sink = batch_sink(str(tmp_path / "ckpt"), ann_index.append_ann_index,
                      root2, n_assign=2)
    rest = e.where(F.col("vec_id") % 40 != 0)
    sink(rest.where(F.col("vec_id") % 2 == 0), 0)
    sink(rest.where(F.col("vec_id") % 2 == 1), 1)
    sink(rest.where(F.col("vec_id") % 2 == 1), 1)   # redelivery
    a = ann_index.ann_topk_from_index(spark, root, q, k=10, n_probe=3)
    b = ann_index.ann_topk_from_index(spark, root2, q, k=10, n_probe=3)
    assert result_set(a) == result_set(b)


def test_pq_stream_sink_redelivery_safe(spark, tmp_path):
    """PQ codes + refine vectors via the foreachBatch sink (with a
    redelivered epoch) serve identically to the one-shot build."""
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    root = str(tmp_path / "pqidx")
    ann_index.build_pq_index(e, root, m_total=16, ksub=32, train_mod=3)
    root2 = str(tmp_path / "pqidx2")
    from pyspark.sql import functions as F
    ann_index.build_pq_index(e.where(F.col("vec_id") % 3 == 0), root2,
                             m_total=16, ksub=32, train_mod=3)
    sink = batch_sink(str(tmp_path / "ckpt"), ann_index.append_pq_index,
                      root2, m_total=16)
    rest = e.where(F.col("vec_id") % 3 != 0)
    sink(rest.where(F.col("vec_id") % 2 == 0), 0)
    sink(rest.where(F.col("vec_id") % 2 == 1), 1)
    sink(rest.where(F.col("vec_id") % 2 == 1), 1)   # redelivery
    to_set = lambda df: {(r.qid, r.vec_id, r.d2u, r.rank)
                         for r in df.collect()}
    a = ann_index.pq_topk_from_index(spark, root, q, k=10, pool=100,
                                     m_total=16)
    b = ann_index.pq_topk_from_index(spark, root2, q, k=10, pool=100,
                                     m_total=16)
    assert to_set(a) == to_set(b)


def test_rebuild_clears_stale_append_batches(spark, tmp_path):
    """A rebuild must drop the batches left by prior appends: their
    assignments were computed against the OLD centroids and would
    silently corrupt probe results (and duplicate every appended
    vec_id in its probed cells). ADVICE.md r5."""
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    root = str(tmp_path / "annidx")
    half = e.where(F.col("vec_id") % 2 == 0)
    ann_index.build_ann_index(half, root, centroid_mod=40, n_assign=2)
    ann_index.append_ann_index(e.where(F.col("vec_id") % 2 != 0), root,
                               n_assign=2, batch="day1")
    # rebuild over the FULL corpus (the rebuild-on-drift flow)
    ann_index.build_ann_index(e, root, centroid_mod=40, n_assign=2)
    # only the rebuild's own files are live
    assert live_batches(f"{root}/{ann_index.ASSIGN_DIR}") == ["base"]
    fresh = str(tmp_path / "fresh")
    ann_index.build_ann_index(e, fresh, centroid_mod=40, n_assign=2)
    a = ann_index.ann_topk_from_index(spark, root, q, k=10, n_probe=3)
    b = ann_index.ann_topk_from_index(spark, fresh, q, k=10, n_probe=3)
    assert result_set(a) == result_set(b)


def test_failed_redelivery_keeps_the_batch_live(spark, tmp_path):
    """A redelivery of an appended batch whose write job fails must
    commit nothing: the batch's earlier copy stays live and the index
    serves exactly what it served before the attempt."""
    import pytest

    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    root = str(tmp_path / "annidx")
    day1 = e.where(F.col("vec_id") % 2 != 0)
    ann_index.build_ann_index(e.where(F.col("vec_id") % 2 == 0), root,
                              centroid_mod=40)
    ann_index.append_ann_index(day1, root, batch="day1")
    before = result_set(ann_index.ann_topk_from_index(spark, root, q, k=10))
    last = day1.agg(F.max("vec_id")).first()[0]
    with pytest.raises(Exception, match=INJECTED_FAILURE):
        ann_index.append_ann_index(
            fail_on(day1, "embedding", F.col("vec_id") == last), root,
            batch="day1")
    assert live_batches(f"{root}/{ann_index.ASSIGN_DIR}") == \
        ["base", "day1"]
    assert result_set(
        ann_index.ann_topk_from_index(spark, root, q, k=10)) == before


def test_pq_rebuild_clears_stale_append_batches(spark, tmp_path):
    """Same contract for the PQ index: rebuilt codebooks must never be
    joined against codes encoded under the old codebooks."""
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    root = str(tmp_path / "pqidx")
    half = e.where(F.col("vec_id") % 2 == 0)
    ann_index.build_pq_index(half, root, dim=64, m_total=16, ksub=32,
                             train_mod=3)
    ann_index.append_pq_index(e.where(F.col("vec_id") % 2 != 0), root,
                              dim=64, m_total=16, batch="day1")
    ann_index.build_pq_index(e, root, dim=64, m_total=16, ksub=32,
                             train_mod=3)
    for sub in (ann_index.PQ_CODE_DIR, ann_index.PQ_VEC_DIR):
        assert live_batches(f"{root}/{sub}") == ["base"]
    fresh = str(tmp_path / "fresh")
    ann_index.build_pq_index(e, fresh, dim=64, m_total=16, ksub=32,
                             train_mod=3)
    to_set = lambda df: {(r.qid, r.vec_id, r.d2u, r.rank)
                         for r in df.collect()}
    a = ann_index.pq_topk_from_index(spark, root, q, k=10, pool=100,
                                     dim=64, m_total=16)
    b = ann_index.pq_topk_from_index(spark, fresh, q, k=10, pool=100,
                                     dim=64, m_total=16)
    assert to_set(a) == to_set(b)


def test_semantic_pairs_from_index_equal_inline(spark, tmp_path):
    """One IVF index serves both ANN search and semantic dedup: pairs
    from stored assignments must equal the recompute-everything x68
    pipeline (store roundtrip lossless)."""
    from kafana_spark.operators import dedup

    e = embs(spark)
    root = str(tmp_path / "semidx")
    ann_index.build_ann_index(e, root, centroid_mod=40, n_assign=4)
    got = {(r.da, r.db, r.cos) for r in
           ann_index.semantic_pairs_from_index(spark, root, 0.45)
           .collect()}
    expect = {(r.da, r.db, r.cos) for r in
              dedup.embedding_near_dup_bucketed(
                  e, 0.45, centroid_mod=40, n_assign=4).collect()}
    assert got == expect and got


def test_lsh_index_query_equals_inline(spark, tmp_path):
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    root = str(tmp_path / "lshidx")
    ann_index.build_lsh_index(e, root)
    got = ann_index.lsh_topk_from_index(spark, root, q, k=10)
    expect = similarity.lsh_topk(e, q, k=10)
    assert result_set(got) == result_set(expect)


def test_lsh_append_signs_against_stored_planes(spark, tmp_path):
    """Anchor ids are ≡1 (mod 10), i.e. all odd — a build on the odd
    slice carries the full anchor pool, so split-build + append must
    serve identically to the one-shot build."""
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    root = str(tmp_path / "lshidx")
    ann_index.build_lsh_index(e, root)
    root2 = str(tmp_path / "lshidx2")
    ann_index.build_lsh_index(e.where(F.col("vec_id") % 2 == 1), root2)
    ann_index.append_lsh_index(e.where(F.col("vec_id") % 2 == 0), root2,
                               batch="even")
    a = ann_index.lsh_topk_from_index(spark, root, q, k=10)
    b = ann_index.lsh_topk_from_index(spark, root2, q, k=10)
    assert result_set(a) == result_set(b)


def test_lsh_stream_sink_redelivery_safe(spark, tmp_path):
    """LSH codes via the foreachBatch sink (with a redelivered epoch)
    serve identically to the one-shot build."""
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    root = str(tmp_path / "lshidx")
    ann_index.build_lsh_index(e, root)
    root2 = str(tmp_path / "lshidx2")
    ann_index.build_lsh_index(e.where(F.col("vec_id") % 2 == 1), root2)
    sink = batch_sink(str(tmp_path / "ckpt"), ann_index.append_lsh_index,
                      root2)
    rest = e.where(F.col("vec_id") % 2 == 0)
    sink(rest.where(F.col("vec_id") % 4 == 0), 0)
    sink(rest.where(F.col("vec_id") % 4 == 2), 1)
    sink(rest.where(F.col("vec_id") % 4 == 2), 1)   # redelivery
    a = ann_index.lsh_topk_from_index(spark, root, q, k=10)
    b = ann_index.lsh_topk_from_index(spark, root2, q, k=10)
    assert result_set(a) == result_set(b)


def test_lsh_rebuild_clears_stale_append_batches(spark, tmp_path):
    """A rebuild must not leave stale appended code batches live —
    they would double-count every appended vector in the bucket join
    (the ADVICE r5 staleness class)."""
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    root = str(tmp_path / "lshidx")
    ann_index.build_lsh_index(e.where(F.col("vec_id") % 2 == 1), root)
    ann_index.append_lsh_index(e.where(F.col("vec_id") % 2 == 0), root,
                               batch="even")
    ann_index.build_lsh_index(e, root)           # rebuild-on-drift
    fresh = str(tmp_path / "fresh")
    ann_index.build_lsh_index(e, fresh)
    a = ann_index.lsh_topk_from_index(spark, root, q, k=10)
    b = ann_index.lsh_topk_from_index(spark, fresh, q, k=10)
    assert result_set(a) == result_set(b)


def test_lloyd_index_query_equals_inline(spark, tmp_path):
    """The stored Lloyd-refined index must answer exactly like the
    inline x147 path — build persists the refined centroids, the
    probe path is shared code."""
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    root = str(tmp_path / "lloydidx")
    ann_index.build_ann_index(e, root, centroid_mod=40,
                              method="lloyd", n_assign=2)
    got = ann_index.ann_topk_from_index(spark, root, q, k=10, n_probe=3)
    expect = similarity.ivf_topk(e, q, 10, centroid_mod=40, n_probe=3,
                                 method="lloyd", n_assign=2)
    assert result_set(got) == result_set(expect)


def test_lloyd_store_refresh_matches_inline_update(spark, tmp_path):
    """The stored maintenance loop (build base with stats → stream
    two stat batches, one redelivered → refresh from sufficient
    statistics) must land on exactly the inline x156 fold: same
    cells, same totals, same integer drift — without ever re-reading
    the base corpus."""
    e = embs(spark)
    base = e.where(F.col("vec_id") % 2 == 0)
    rest = e.where(F.col("vec_id") % 2 == 1)
    root = str(tmp_path / "lloydm")
    ann_index.build_lloyd_index(base, root, centroid_mod=40,
                                n_iters=2, dim=64)
    sink = batch_sink(str(tmp_path / "ckpt"),
                      ann_index.append_lloyd_index, root)
    sink(rest.where(F.col("vec_id") % 4 == 1), 0)
    sink(rest.where(F.col("vec_id") % 4 == 3), 1)
    sink(rest.where(F.col("vec_id") % 4 == 3), 1)   # redelivery
    drift = {r.cid: (r.n_total, r.shift_u)
             for r in ann_index.refresh_lloyd_centroids(
                 spark, root).collect()}
    inline = {r.cid: (r.n_base + r.n_new, r.shift_u)
              for r in similarity.lloyd_update(
                  e, batch_mod=2, centroid_mod=40, n_iters=2,
                  dim=64).collect()}
    assert drift == inline
    # the refreshed index still serves probes (online-IVF contract)
    q = similarity.modulo_queries(e, 100)
    out = ann_index.ann_topk_from_index(spark, root, q, k=5,
                                        n_probe=2)
    assert out.count() > 0


def test_knn_graph_from_index_equals_inline(spark, tmp_path):
    """The store-served corpus graph must equal the inline fixed-k
    x149 chain edge-for-edge (lossless roundtrip; queries come from
    the stored assignment rows, no corpus re-read)."""
    e = embs(spark)
    root = str(tmp_path / "knnidx")
    ann_index.build_ann_index(e, root, method="fixed", centroid_k=20,
                              n_assign=1)
    got = {tuple(r) for r in ann_index.knn_graph_from_index(
        spark, root, k=5, n_probe=2)
        .select("qid", "vec_id", "cos", "rank").collect()}
    want = {tuple(r) for r in similarity.knn_graph(
        e, k=5, method="fixed", centroid_k=20, n_probe=2)
        .select("qid", "vec_id", "cos", "rank").collect()}
    assert got == want and got


def test_knn_clusters_from_index_equals_inline(spark, tmp_path):
    """Store-served density clusters equal the inline fixed-k x151
    chain row-for-row."""
    from kafana_spark.operators import dedup

    e = embs(spark)
    root = str(tmp_path / "knnidx")
    ann_index.build_ann_index(e, root, method="fixed", centroid_k=20,
                              n_assign=1)
    got = {tuple(r) for r in ann_index.knn_clusters_from_index(
        spark, root, k=5, n_probe=2).collect()}
    want = {tuple(r) for r in dedup.knn_clusters(
        e, k=5, method="fixed", centroid_k=20, n_probe=2).collect()}
    assert got == want and got


def test_cluster_sample_from_index_equals_inline(spark, tmp_path):
    """Store-served quota sample equals the inline fixed-k x152
    chain row-for-row."""
    from kafana_spark.operators import dedup

    e = embs(spark)
    root = str(tmp_path / "knnidx")
    ann_index.build_ann_index(e, root, method="fixed", centroid_k=20,
                              n_assign=1)
    got = {tuple(r) for r in ann_index.cluster_sample_from_index(
        spark, root, k=5, n_probe=2).collect()}
    want = {tuple(r) for r in dedup.cluster_sample(
        e, k=5, method="fixed", centroid_k=20, n_probe=2).collect()}
    assert got == want and got


def test_binary_index_store_equals_inline(spark, tmp_path):
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    root = str(tmp_path / "binidx")
    ann_index.build_binary_index(e, root, dim=64)
    got = sorted(tuple(r) for r in ann_index.binary_topk_from_index(
        spark, root, q, k=5, pool=50).collect())
    want = sorted(tuple(r) for r in similarity.hamming_topk(
        e, q, k=5, pool=50).collect())
    assert got == want


def test_binary_index_append_and_redelivery(spark, tmp_path):
    """Packing is stateless, so a split build+append (and a redelivered
    batch) must serve exactly the full one-shot build."""
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    root = str(tmp_path / "binidx")
    base = e.where(F.col("vec_id") % 2 == 0)
    rest = e.where(F.col("vec_id") % 2 == 1)
    ann_index.build_binary_index(base, root, dim=64)
    ann_index.append_binary_index(rest, root, batch="b1")
    ann_index.append_binary_index(rest, root, batch="b1")  # redeliver
    got = sorted(tuple(r) for r in ann_index.binary_topk_from_index(
        spark, root, q, k=5, pool=50).collect())
    want = sorted(tuple(r) for r in similarity.hamming_topk(
        e, q, k=5, pool=50).collect())
    assert got == want


def test_binary_index_stream_sink(spark, tmp_path):
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    root = str(tmp_path / "binidx")
    base = e.where(F.col("vec_id") % 2 == 0)
    rest = e.where(F.col("vec_id") % 2 == 1)
    ann_index.build_binary_index(base, root, dim=64)
    sink = batch_sink(str(tmp_path / "ckpt"),
                      ann_index.append_binary_index, root)
    sink(rest.where(F.col("vec_id") % 4 == 1), 0)
    sink(rest.where(F.col("vec_id") % 4 == 3), 1)
    sink(rest.where(F.col("vec_id") % 4 == 3), 1)   # redelivery
    got = sorted(tuple(r) for r in ann_index.binary_topk_from_index(
        spark, root, q, k=5, pool=50).collect())
    want = sorted(tuple(r) for r in similarity.hamming_topk(
        e, q, k=5, pool=50).collect())
    assert got == want


def test_binary_rebuild_clears_stale_batches(spark, tmp_path):
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    root = str(tmp_path / "binidx")
    ann_index.build_binary_index(e, root, dim=64)
    ann_index.append_binary_index(e.limit(0), root, batch="junk")
    base = e.where(F.col("vec_id") % 2 == 0)
    ann_index.build_binary_index(base, root, dim=64)   # rebuild
    got = sorted(tuple(r) for r in ann_index.binary_topk_from_index(
        spark, root, q, k=5, pool=50).collect())
    want = sorted(tuple(r) for r in similarity.hamming_topk(
        base, q, k=5, pool=50).collect())
    assert got == want
