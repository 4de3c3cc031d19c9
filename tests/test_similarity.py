"""Vector similarity search tests: brute-force exactness, IVF recall."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafana_spark.operators import similarity
from kafana_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def embs(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


def test_brute_force_topk_shape_and_order(spark):
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    nq = q.count()
    out = similarity.brute_force_topk(e, q, k=5).collect()
    assert len(out) == nq * 5
    by_q = {}
    for r in out:
        by_q.setdefault(r.qid, []).append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
        cosines = [r.cos for r in rows]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r.vec_id != qid for r in rows)


def test_brute_force_matches_numpy_ground_truth(spark):
    """Top-1 neighbor per query must equal an independent numpy
    computation over the same vectors."""
    import numpy as np

    e = embs(spark)
    data = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in e.collect()}
    ids = sorted(data)
    mat = np.stack([data[i] for i in ids])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)

    q = similarity.modulo_queries(e, 100)
    top1 = {r.qid: r.vec_id for r in
            similarity.brute_force_topk(e, q, k=1).collect()}
    for qid in top1:
        sims = mat @ mat[ids.index(qid)]
        sims[ids.index(qid)] = -2.0
        # same tiebreak as the operator: cos desc, then vec_id asc —
        # operator compares at 4-decimal rounding, so accept any id
        # whose rounded cos ties the numpy max
        best = max(round(s, 4) for s in sims)
        candidates = [ids[i] for i, s in enumerate(sims)
                      if round(s, 4) == best]
        assert top1[qid] == min(candidates)


def test_ivf_recall_vs_brute_force(spark):
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    exact = similarity.brute_force_topk(e, q, k=10).collect()
    approx = similarity.ivf_topk(e, q, k=10, centroid_mod=40, n_probe=3).collect()
    exact_set = {(r.qid, r.vec_id) for r in exact}
    approx_set = {(r.qid, r.vec_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"IVF recall too low: {recall:.2f}"


def test_ivf_output_contract(spark):
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    out = similarity.ivf_topk(e, q, k=10).collect()
    for r in out:
        assert 1 <= r.rank <= 10
        assert -1.0001 <= r.cos <= 1.0001


def test_ivf_kmeans_centroids_recall(spark):
    """KMeans-fitted cells must reach at least the recall bar; typically
    they beat the modulo quantizer because cells track the data."""
    from kafana_spark.operators import similarity
    from kafana_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    e = load_table(spark, SF_SMOKE, "embeddings")
    q = similarity.modulo_queries(e, 100)
    exact = {(r.qid, r.vec_id) for r in
             similarity.brute_force_topk(e, q, 10).collect()}
    approx = {(r.qid, r.vec_id) for r in
              similarity.ivf_topk(e, q, 10, method="kmeans",
                                  n_assign=2).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, recall


def test_int8_quantize_bounds_and_roundtrip(spark):
    e = embs(spark)
    qz = similarity.int8_quantize(e)
    joined = (similarity.dequantize(qz)
              .join(e.select("vec_id",
                             F.col("embedding").cast("array<double>")
                             .alias("orig")), "vec_id"))
    rows = joined.select("vec_id", "q8", "scale", "v", "orig").collect()
    assert len(rows) > 0
    for r in rows[:50]:
        assert all(-127 <= q <= 127 for q in r.q8)
        # reconstruction error per component is bounded by one code step
        for a, b in zip(r.v, r.orig):
            assert abs(a - b) <= r.scale + 1e-12


def test_int8_quantized_topk_recall(spark):
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    exact = similarity.brute_force_topk(e, q, k=10).collect()
    deq = (similarity.dequantize(similarity.int8_quantize(e))
           .select("vec_id", F.col("v").alias("embedding")))
    approx = similarity.brute_force_topk(deq, q, k=10).collect()
    exact_set = {(r.qid, r.vec_id) for r in exact}
    approx_set = {(r.qid, r.vec_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.85, f"int8 recall too low: {recall:.2f}"


def test_pq_refined_recall_vs_exact_l2(spark):
    """PQ/ADC pool + exact refine must recover ≥0.9 of the true
    squared-L2 top-10 (the raw ADC pool alone is much coarser — the
    refine stage is what makes PQ serviceable on this corpus)."""
    import numpy as np

    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    got = similarity.pq_topk_refined(e, q, k=10, pool=100, m_total=16,
                                     ksub=32, train_mod=3).collect()
    data = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in e.collect()}
    ids = sorted(data)
    mat = np.stack([data[i] for i in ids])
    recalls = []
    for qid in sorted({r.qid for r in got}):
        d2 = ((mat - data[qid]) ** 2).sum(axis=1)
        truth = [ids[j] for j in np.argsort(d2, kind="stable")
                 if ids[j] != qid][:10]
        approx = {r.vec_id for r in got if r.qid == qid}
        recalls.append(len(set(truth) & approx) / 10)
    mean = sum(recalls) / len(recalls)
    assert mean >= 0.9, f"PQ refined recall too low: {mean:.2f}"


def test_pq_refined_output_contract(spark):
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    nq = q.count()
    out = similarity.pq_topk_refined(e, q, k=10, pool=100, m_total=16,
                                     ksub=32, train_mod=3).collect()
    assert len(out) == nq * 10
    for r in out:
        assert 1 <= r.rank <= 10
        assert r.d2u >= 0          # exact integer-µunit distance
        assert r.qid != r.vec_id   # self-matches excluded


def test_lsh_recall_vs_brute_force(spark):
    """Pinned honest recall on the near-random synthetic embeddings —
    the hardest case for sign LSH (true neighbors barely closer than
    random directions). Measured 0.64 at sf0.001 / 0.62 at sf0.01 with
    6 tables x 4 bits while examining ~35% of the corpus per query."""
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    exact = {(r.qid, r.vec_id)
             for r in similarity.brute_force_topk(e, q, k=10).collect()}
    approx = {(r.qid, r.vec_id)
              for r in similarity.lsh_topk(e, q, k=10).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.55, f"LSH recall too low: {recall:.2f}"


def test_lsh_candidates_are_pruned(spark):
    """The bucket join must examine a strict subset of the corpus —
    otherwise the LSH is degenerate (all vectors in one bucket) and
    the 'approximate' path is a disguised cross join."""
    e = embs(spark)
    q = similarity._with_norm(similarity.modulo_queries(e, 100))
    planes = similarity.lsh_planes(e, 6, 4, 10)
    codes = similarity.lsh_codes(
        similarity._with_norm(similarity._vectors(e)), planes, 64)
    qc = similarity.lsh_codes(
        q.select(F.col("qid").alias("vec_id"), "v", "nrm"), planes, 64)
    ncand = (qc.select(F.col("vec_id").alias("qid"), "t", "code")
             .join(codes.select("vec_id", "t", "code"), ["t", "code"])
             .where(F.col("qid") != F.col("vec_id"))
             .select("qid", "vec_id").distinct().count())
    n, nq = e.count(), q.count()
    assert ncand <= 0.45 * n * nq, f"candidate fraction {ncand/(n*nq):.2f}"


def test_lsh_planes_shape_and_bit_balance(spark):
    """6x4 planes with distinct (t, j) labels; every bit must actually
    split the corpus (a constant bit halves the table's entropy — the
    anchor-difference construction exists to prevent exactly that)."""
    e = embs(spark)
    planes = similarity.lsh_planes(e, 6, 4, 10).collect()
    assert len(planes) == 24
    assert {(p.t, p.j) for p in planes} == {(t, j) for t in range(6)
                                            for j in range(4)}
    codes = similarity.lsh_codes(
        similarity._with_norm(similarity._vectors(e)), planes=similarity.lsh_planes(e, 6, 4, 10),
        dim=64)
    n = codes.select("vec_id").distinct().count()
    per_table = codes.groupBy("t").agg(
        F.countDistinct("code").alias("nb"),
        F.max("code").alias("mx"), F.min("code").alias("mn")).collect()
    for r in per_table:
        assert r.nb >= 8, f"table {r.t} uses only {r.nb}/16 buckets"
        assert 0 <= r.mn and r.mx <= 15
    assert codes.count() == n * 6


def test_hard_negatives_are_label_mismatched_near_misses(spark):
    """Every mined negative must carry a different label than its
    query, rank must be contiguous from 1, and the top negative must
    be at least as similar as the 10th unrestricted IVF neighbor —
    'hard' means near-miss, not arbitrary."""
    e = embs(spark)
    out = similarity.hard_negative_topk(e, k=10, n_assign=2).collect()
    assert out, "no negatives mined"
    by_q = {}
    for r in out:
        assert r.label != r.qlabel
        assert r.vec_id != r.qid
        by_q.setdefault(r.qid, []).append(r)
    q = similarity.modulo_queries(e, 100)
    ivf = similarity.ivf_topk(e, q, k=10, n_assign=2).collect()
    floor = {}
    for r in ivf:
        floor[r.qid] = min(floor.get(r.qid, 1.0), r.cos)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        assert rows[0].cos >= floor[qid] - 1e-9


def test_lsh_multiprobe_lifts_recall(spark):
    """Weakest-bit multiprobe must dominate single-probe recall —
    measured 0.64 -> 0.82 at sf0.001 (0.62 -> 0.80 at sf0.01) for the
    cost of 2L probed buckets instead of L, corpus index unchanged."""
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    exact = {(r.qid, r.vec_id)
             for r in similarity.brute_force_topk(e, q, k=10).collect()}
    single = {(r.qid, r.vec_id)
              for r in similarity.lsh_topk(e, q, k=10).collect()}
    multi = {(r.qid, r.vec_id)
             for r in similarity.lsh_multiprobe_topk(e, q, k=10).collect()}
    r1 = len(exact & single) / len(exact)
    r2 = len(exact & multi) / len(exact)
    assert r2 >= r1, f"multiprobe lost recall: {r2:.2f} < {r1:.2f}"
    assert r2 >= 0.7, f"multiprobe recall too low: {r2:.2f}"


# ------------------------------------------------------------------ MMR

def test_mmr_first_pick_is_top_relevance_and_k_rows(spark):
    from kafana_spark.operators import similarity as S

    e = embs(spark)
    q = S.modulo_queries(e, 100)
    out = S.mmr_rerank(e, q).orderBy("qid", "rank").collect()
    top1 = {r.qid: r.vec_id for r in
            S.brute_force_topk(e, q, 1).collect()}
    by_q = {}
    for r in out:
        by_q.setdefault(r.qid, []).append(r)
    for qid, rows in by_q.items():
        assert len(rows) == S.MMR_K
        assert [r.rank for r in rows] == list(range(1, S.MMR_K + 1))
        assert rows[0].vec_id == top1[qid]  # rank 1 = pure relevance
        # mmr scores can only degrade as the selected set grows…
        # (not strictly monotone in general, but rank1 >= rank2 holds:
        # rank2 had rank1 available under the same or stricter penalty)
        assert rows[0].mmr_u >= rows[1].mmr_u


def test_mmr_matches_python_greedy_replay(spark):
    from pyspark.sql import functions as F

    from kafana_spark.operators import similarity as S

    e = embs(spark)
    q = S.modulo_queries(e, 200)
    cands = S.brute_force_topk(e, q, S.MMR_CAND)
    rel = {(r.qid, r.vec_id): int(round(r.cos * 10000))
           for r in cands.collect()}
    vecs = {r.vec_id: r.v for r in
            S._with_norm(S._vectors(e)).select("vec_id", "v").collect()}

    def cos4(a, b):
        import math
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return int(round(round(d / (na * nb), 4) * 10000))

    exp = {}
    for qid in {k[0] for k in rel}:
        cs = sorted(v for (qq, v) in rel if qq == qid)
        sel = []
        while cs and len(sel) < S.MMR_K:
            best = None
            for c in sorted(cs):
                mx = max((cos4(vecs[c], vecs[s]) for s in sel), default=0)
                sc = 7 * rel[(qid, c)] - 3 * mx
                if best is None or sc > best[0]:
                    best = (sc, c)
            sel.append(best[1])
            cs.remove(best[1])
            exp[(qid, len(sel))] = (best[1], best[0])
    got = {(r.qid, r.rank): (r.vec_id, r.mmr_u)
           for r in S.mmr_rerank(e, q).collect()}
    assert got == exp


def test_mmr_diversifies_vs_plain_topk(spark):
    """Greedy MMR doesn't minimize any global redundancy metric
    per-query (single-query reversals are possible on near-random
    vectors), but ACROSS queries the mean pairwise similarity of the
    selected sets must drop vs plain top-k, and the penalty must
    actually change selections."""
    import math

    from kafana_spark.operators import similarity as S

    e = embs(spark)
    q = S.modulo_queries(e, 100)
    vecs = {r.vec_id: r.v for r in
            S._vectors(e).select("vec_id", "v").collect()}

    def avg_pair_sim(ids):
        def cs(a, b):
            d = sum(x * y for x, y in zip(a, b))
            return d / (math.sqrt(sum(x * x for x in a))
                        * math.sqrt(sum(x * x for x in b)))
        ps = [cs(vecs[x], vecs[y])
              for i, x in enumerate(ids) for y in ids[i + 1:]]
        return sum(ps) / len(ps)

    plain = {}
    for r in S.brute_force_topk(e, q, S.MMR_K).collect():
        plain.setdefault(r.qid, []).append(r.vec_id)
    mmr = {}
    for r in S.mmr_rerank(e, q).collect():
        mmr.setdefault(r.qid, []).append(r.vec_id)
    mean_plain = sum(avg_pair_sim(plain[k]) for k in plain) / len(plain)
    mean_mmr = sum(avg_pair_sim(mmr[k]) for k in plain) / len(plain)
    assert mean_mmr < mean_plain
    assert any(set(mmr[k]) != set(plain[k]) for k in plain)


def test_lloyd_ivf_recall_beats_modulo(spark):
    """The refinement's payoff, pinned: at identical probe settings
    the Lloyd-refined quantizer recalls at least as much of the true
    top-10 as the raw modulo seed (measured 0.92 vs 0.88 at
    sf0.001/sf0.01 with mod 40, 3 probes, 2 assigns)."""
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    exact = {(r.qid, r.vec_id)
             for r in similarity.brute_force_topk(e, q, k=10).collect()}
    rec = {}
    for meth in ("modulo", "lloyd"):
        a = {(r.qid, r.vec_id)
             for r in similarity.ivf_topk(
                 e, q, 10, centroid_mod=40, n_probe=3, method=meth,
                 n_assign=2).collect()}
        rec[meth] = len(exact & a) / len(exact)
    assert rec["lloyd"] >= rec["modulo"]
    assert rec["lloyd"] >= 0.90, rec


def test_lloyd_centroids_contract(spark):
    """Cells never exceed the seed count, every centroid actually
    moved off its seed vector, and cnrm is the centroid's own norm."""
    e = embs(spark)
    cents = {r.cid: (list(r.cv), r.cnrm)
             for r in similarity.lloyd_centroids(e, 40, 3, 64).collect()}
    seeds = {r.vec_id: list(r.v)
             for r in similarity._vectors(e)
             .where(F.col("vec_id") % 40 == 0).collect()}
    assert 2 <= len(cents) <= len(seeds)
    moved = sum(1 for c, (cv, _) in cents.items() if cv != seeds[c])
    assert moved == len(cents)
    for cv, nrm in cents.values():
        assert abs(sum(x * x for x in cv) ** 0.5 - nrm) < 1e-9


def test_knn_graph_contract_and_mutual_subset(spark):
    """Directed graph: <= k edges per vector, no self loops, ranks
    contiguous from 1. Mutual edges are exactly the symmetric subset,
    recomputed independently here from the directed edge set."""
    e = embs(spark)
    g = similarity.knn_graph(e, k=5, centroid_mod=40, n_probe=2)
    rows = g.collect()
    by_q = {}
    for r in rows:
        assert r.qid != r.vec_id
        by_q.setdefault(r.qid, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1))
               and len(v) <= 5 for v in by_q.values())
    directed = {(r.qid, r.vec_id) for r in rows}
    expect = {(a, b) for a, b in directed
              if a < b and (b, a) in directed}
    got = {(r.a, r.b)
           for r in similarity.mutual_knn(
               e, k=5, centroid_mod=40, n_probe=2).collect()}
    assert got == expect and got


def test_graph_passthrough_rejects_a_frame_without_edge_columns(spark):
    """``graph=`` must be a ``knn_graph`` edge frame: one that lacks
    ``rank`` (here a mutual-edge frame's columns) raises ``ValueError``
    naming it, in ``mutual_knn``, ``knn_outliers`` and the clusters
    built on them; the real graph passes through unchanged."""
    import pytest

    from kafana_spark.operators.dedup import cluster_sample, knn_clusters

    e = embs(spark)
    g = similarity.knn_graph(e, k=5, centroid_mod=40, n_probe=2)
    bad = g.withColumnRenamed("rank", "rank_ab")
    for call in (similarity.mutual_knn, similarity.knn_outliers,
                 knn_clusters, cluster_sample):
        with pytest.raises(ValueError, match="rank"):
            call(e, k=5, centroid_mod=40, n_probe=2, graph=bad)
    assert sorted(map(tuple, similarity.mutual_knn(e, graph=g).collect())) \
        == sorted(map(tuple, similarity.mutual_knn(
            e, k=5, centroid_mod=40, n_probe=2).collect()))


def test_lloyd_update_folds_batch_stats_closed_form(spark):
    """Hand-computed 2-dim mini-batch fold: base {0,2,4} walks one
    round (c0=(0,0), c4=(.95,1.0) in µunits), batch {1,3,5} assigns
    1,5→c0 and 3→c4, merged rounded means drift by the exact
    integer L1 amounts."""
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [0.9, 1.0]),
         (3, [1.0, 0.9]), (4, [1.0, 1.0]), (5, [0.0, 0.1])],
        "vec_id: long, embedding: array<float>")
    got = [tuple(r) for r in similarity.lloyd_update(
        df, batch_mod=2, centroid_mod=4, n_iters=1, dim=2).collect()]
    assert got == [(0, 1, 2, 66666), (4, 2, 1, 50000)]


def test_lloyd_update_zero_drift_without_batch_members(spark):
    """Cells the batch never touches must report n_new=0, shift_u=0;
    every base cell appears exactly once."""
    e = embs(spark)
    rows = similarity.lloyd_update(e, batch_mod=2, centroid_mod=40,
                                   n_iters=2, dim=64).collect()
    base_cells = {r.cid for r in similarity.lloyd_centroids(
        e.where(F.col("vec_id") % 2 == 0), 40, 2, 64).collect()}
    assert {r.cid for r in rows} == base_cells
    for r in rows:
        assert r.n_base >= 1 and r.shift_u >= 0
        if r.n_new == 0:
            assert r.shift_u == 0


def test_fixed_k_centroids_constant_cell_count(spark):
    """method='fixed' pins the coarse-quantizer cell count to
    centroid_k REGARDLESS of corpus size (the 100×-scale contract:
    modulo seeding grows cells as n/mod, turning the assignment pass
    into n²/mod work). Two corpus sizes, same k → same cell count;
    the seed set of the smaller corpus is NOT simply a prefix — it is
    the k lowest portable-hash ids, an unbiased spread."""
    from kafana_spark.operators.similarity import _ivf_centroids, \
        _vectors, _with_norm

    e = embs(spark)
    small = e.where(F.col("vec_id") < 100)
    for corpus_df in (e, small):
        corpus = _with_norm(_vectors(corpus_df))
        cents = _ivf_centroids(corpus_df, corpus, "fixed", 0,
                               centroid_k=7).collect()
        assert len(cents) == 7
    # deterministic across invocations
    a = sorted(r.cid for r in _ivf_centroids(
        e, _with_norm(_vectors(e)), "fixed", 0, centroid_k=7).collect())
    b = sorted(r.cid for r in _ivf_centroids(
        e, _with_norm(_vectors(e)), "fixed", 0, centroid_k=7).collect())
    assert a == b
    # hash spread, not a vec_id prefix
    assert a != list(range(7))


def test_fixed_k_requires_centroid_k(spark):
    from kafana_spark.operators.similarity import ivf_topk

    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    try:
        ivf_topk(e, q, 5, method="fixed")
        raise AssertionError("expected ValueError")
    except ValueError as ex:
        assert "centroid_k" in str(ex)


def test_knn_label_prop_recovers_two_clean_clusters(spark):
    """Two tight clusters with distinct labels, all cells probed:
    every vector's neighbors are its cluster mates, so leave-one-out
    accuracy is 100% for both labels."""
    rows = [(i, [1.0, 0.0, 0.01 * i], 1) for i in range(3)] + \
           [(10 + i, [0.0, 1.0, 0.01 * i], 2) for i in range(3)]
    df = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<float>, label: int")
    got = [tuple(r) for r in similarity.knn_label_prop(
        df, k=2, method="fixed", centroid_k=2, n_probe=2).collect()]
    assert got == [(1, 3, 3, 10000), (2, 3, 3, 10000)]


def test_knn_label_prop_tie_goes_to_smallest_label(spark):
    """A query with one vote each for labels 1 and 2 predicts 1."""
    rows = [(0, [1.0, 0.0], 2), (1, [0.9, 0.1], 1),
            (2, [0.8, 0.2], 2)]
    df = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<float>, label: int")
    # k=2: vec 0's two neighbors carry labels {1, 2} -> pred 1 != 2
    got = {r.label: (r.n, r.n_correct) for r in
           similarity.knn_label_prop(
               df, k=2, method="fixed", centroid_k=1,
               n_probe=1).collect()}
    assert got[2][0] >= 1  # vec 0 participates
    # vec 0 predicted 1 (tie -> min), own label 2 -> not all correct
    assert got[2][1] < got[2][0]


def test_knn_outliers_isolated_vector_ranks_first(spark):
    """An orthogonal vector has the lowest mean neighbor cosine and
    leads the outlier list; the report is bp-integer and ascending."""
    rows = [(i, [1.0, 0.01 * i, 0.0]) for i in range(4)] + \
           [(99, [0.0, 0.0, 1.0])]
    df = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<float>")
    out = similarity.knn_outliers(
        df, k=3, method="fixed", centroid_k=1, n_probe=1,
        bottom=5).collect()
    assert out[0].vec_id == 99
    means = [r.mean_cos_bp for r in out]
    assert means == sorted(means)
    assert all(-10000 <= m <= 10000 for m in means)


def test_pca_power_axis_aligned_closed_form(spark):
    """Variance concentrated on the first axis: the walk converges to
    ±e1 and the centered projection bins are hand-computable —
    a in {±1, ±0.5} with zero mean gives bins floor(a·1e12 / 5e11)."""
    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [-1.0, 0.0, 0.0, 0.0]),
            (2, [0.5, 0.0, 0.0, 0.0]), (3, [-0.5, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<float>")
    got = [(r.bin, r.n) for r in similarity.pca_power(
        df, n_iters=3, dim=4, bin_w=500_000_000_000).collect()]
    assert got == [(-2, 1), (-1, 1), (1, 1), (2, 1)]


def test_pca_power_anticorrelated_needs_perturbed_seed(spark):
    """Top PC (1,-1)/√2 is orthogonal to the all-ones vector; the
    index-perturbed seed must still converge: projections ±2e12 and
    ±1e12 land in four distinct bins."""
    rows = [(0, [1.0, -1.0]), (1, [-1.0, 1.0]),
            (2, [0.5, -0.5]), (3, [-0.5, 0.5])]
    df = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<float>")
    got = [(r.bin, r.n) for r in similarity.pca_power(
        df, n_iters=3, dim=2, bin_w=500_000_000_000).collect()]
    # proj = x·v - mean-correction; v = ±(1e6, -1e6): |proj| in
    # {2e12, 1e12} -> bins {±4 or ±(4+..)} — sign of v is
    # data-determined, so assert the symmetric shape instead
    assert len(got) == 4 and all(n == 1 for _, n in got)
    bins = sorted(b for b, _ in got)
    assert bins in ([-4, -2, 1, 3], [-4, -2, 2, 4],
                    [-3, -1, 1, 3], [-4, -3, 1, 2]) or \
        (bins[0] < 0 < bins[-1])


def test_pca_convergence_ladder_properties(spark):
    """One λ row per round, all non-negative; the ladder is
    non-decreasing up to the renormalization rounding (allow a
    1-in-1e6 slack) and the final λ agrees with the axis-aligned
    closed form: for a in {±1, ±0.5} on e1, λ = n·Σa²·1e12 / n = ...
    exactly vᵀCv/vᵀv with v → e1·1e6: C_11 = n·Σ(a·1e6)² = 4·2.5e12
    → λ = 1e13."""
    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [-1.0, 0.0, 0.0, 0.0]),
            (2, [0.5, 0.0, 0.0, 0.0]), (3, [-0.5, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<float>")
    got = [(r.it, r.lam_u) for r in similarity.pca_convergence(
        df, n_iters=3, dim=4).collect()]
    assert [it for it, _ in got] == [1, 2, 3]
    lams = [l for _, l in got]
    assert all(l >= 0 for l in lams)
    for a, b in zip(lams, lams[1:]):
        assert b >= a - max(1, a // 1_000_000)
    # converged rounds sit exactly on the closed-form eigenvalue
    assert lams[-1] == 10_000_000_000_000


def test_pca_corpus_map_two_axes_closed_form(spark):
    """Variance on two orthogonal axes (e1 strong, e2 weaker): the
    map recovers both — marginal bin1 counts match the 1-d x167
    histogram shape, and bin2 separates the e2 spread."""
    rows = [(0, [1.0, 0.2, 0.0]), (1, [-1.0, 0.2, 0.0]),
            (2, [1.0, -0.2, 0.0]), (3, [-1.0, -0.2, 0.0]),
            (4, [0.5, 0.1, 0.0]), (5, [-0.5, -0.1, 0.0])]
    df = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<float>")
    got = [(r.bin1, r.bin2, r.n) for r in similarity.pca_corpus_map(
        df, n_iters=4, dim=3, bin_w=100_000_000_000).collect()]
    assert sum(n for _, _, n in got) == 6
    # both axes must spread (not a 1-d collapse)
    assert len({b1 for b1, _, _ in got}) >= 3
    assert len({b2 for _, b2, _ in got}) >= 2


def test_pca_corpus_map_grid_partitions_corpus(spark):
    e = embs(spark)
    rows = similarity.pca_corpus_map(e).collect()
    assert sum(r.n for r in rows) == e.count()


def test_label_confusion_reconciles_with_label_prop(spark):
    """The confusion matrix's diagonal equals x163's n_correct and
    its row sums equal x163's per-label n."""
    e = embs(spark)
    kw = dict(k=5, method="fixed", centroid_k=20, n_probe=2)
    acc = {r.label: (r.n, r.n_correct)
           for r in similarity.knn_label_prop(e, **kw).collect()}
    cm = similarity.knn_label_confusion(e, **kw).collect()
    rows = {}
    diag = {}
    for r in cm:
        rows[r.label] = rows.get(r.label, 0) + r.n
        if r.label == r.pred:
            diag[r.label] = r.n
    for lbl, (n, nc) in acc.items():
        assert rows[lbl] == n
        assert diag.get(lbl, 0) == nc


def test_filtered_topk_prefilter_semantics(spark):
    """The filter restricts candidates BEFORE the top-k: the globally
    nearest vector is ineligible and must not appear, yet every query
    still gets k hits from the eligible subset."""
    rows = [(0, [1.0, 0.0, 0.0], 9),        # query
            (1, [0.99, 0.14, 0.0], 5),      # nearest, WRONG label
            (2, [0.9, 0.43, 0.0], 0),
            (3, [0.8, 0.6, 0.0], 0),
            (4, [0.0, 1.0, 0.0], 0)]
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    q = e.where("vec_id = 0").selectExpr(
        "vec_id as qid", "cast(embedding as array<double>) as v")
    out = similarity.filtered_topk(e, q, k=2, labels=(0,)).collect()
    got = [r.vec_id for r in sorted(out, key=lambda r: r.rank)]
    assert got == [2, 3]            # k hits, ineligible 1 excluded


def test_filtered_ivf_full_probe_matches_exact(spark):
    """With enough probes to cover every cell, the filtered IVF must
    reproduce the filtered exact top-k (same ids per query)."""
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    exact = {(r.qid, r.rank): r.vec_id for r in
             similarity.filtered_topk(e, q, k=5, labels=(0, 1, 2))
             .collect()}
    ivf = {(r.qid, r.rank): r.vec_id for r in
           similarity.filtered_ivf_topk(
               e, q, k=5, centroid_mod=40, n_probe=1000,
               labels=(0, 1, 2), n_assign=1).collect()}
    assert ivf == exact


def test_filtered_ivf_overprobe_recall_floor(spark):
    """2x over-probe under the ~30% label filter: mean recall@k vs
    the filtered exact truth stays above the unfiltered x08 operating
    point (measured 0.92 at sf0.01, 0.69 at sf0.1; smoke data covers
    all cells so recall is 1.0 — pin a conservative floor)."""
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    bf = {r.qid: set() for r in q.select("qid").collect()}
    for r in similarity.filtered_topk(e, q, k=5,
                                      labels=(0, 1, 2)).collect():
        bf[r.qid].add(r.vec_id)
    iv = {qid: set() for qid in bf}
    for r in similarity.filtered_ivf_topk(
            e, q, k=5, centroid_mod=40, n_probe=6,
            labels=(0, 1, 2), n_assign=2).collect():
        iv[r.qid].add(r.vec_id)
    recalls = [len(bf[qid] & iv[qid]) / max(1, len(bf[qid]))
               for qid in bf]
    assert sum(recalls) / len(recalls) >= 0.6


def test_fixed_queries_exact_budget_and_determinism(spark):
    """fixed_queries returns EXACTLY n deterministic rows regardless
    of corpus size (the fixed-budget twin of modulo_queries), drawn by
    portable-hash order — never ingestion order."""
    import pytest

    e = embs(spark)
    a = similarity.fixed_queries(e, 7).collect()
    b = similarity.fixed_queries(e, 7).collect()
    assert len(a) == 7
    assert [r.qid for r in a] == [r.qid for r in b]
    # not simply the lowest ids (hash spread, not ingestion order)
    lowest = [r.vec_id for r in
              e.orderBy("vec_id").limit(7).collect()]
    assert [r.qid for r in a] != lowest
    # a larger budget extends, never reshuffles, the selection prefix
    wide = [r.qid for r in similarity.fixed_queries(e, 20).collect()]
    assert set(r.qid for r in a) <= set(wide)
    with pytest.raises(ValueError):
        similarity.fixed_queries(e, 0)


def test_binary_signs_closed_form(spark):
    # 64-dim: positives at positions 1, 2, 33 (1-indexed) -> w0 has
    # bits 0 and 1 (= 3), w1 has bit 0 (= 1); zeros pack as 0-bits
    v = [0.0] * 64
    v[0] = 0.5
    v[1] = 0.1
    v[32] = 2.0
    v[63] = -1.0
    e = spark.createDataFrame([(7, v)], ["vec_id", "embedding"])
    r = similarity.binary_signs(e, 64).collect()[0]
    assert (r.vec_id, r.w0, r.w1) == (7, 3, 1)


def test_binary_signs_rejects_partial_words(spark):
    import pytest

    e = spark.createDataFrame([(1, [1.0] * 48)], ["vec_id", "embedding"])
    with pytest.raises(ValueError):
        similarity.binary_signs(e, 48)


def test_hamming_topk_exact_duplicate_ranks_first(spark):
    # vec 1 == query vector -> hamming 0 AND cosine 1.0 -> rank 1
    import random

    rnd = random.Random(7)
    base = [rnd.uniform(-1, 1) for _ in range(64)]
    rows = [(1, base)]
    for i in range(2, 30):
        rows.append((i, [rnd.uniform(-1, 1) for _ in range(64)]))
    e = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = spark.createDataFrame([(100, base)], ["qid", "v"])
    out = similarity.hamming_topk(e, q, k=5, pool=10).collect()
    top = [r for r in out if r.rank == 1][0]
    assert (top.vec_id, top.ham, top.cos) == (1, 0, 1.0)
    assert len(out) == 5


def test_binary_ann_recall_floor(spark):
    """Pool=100 on the smoke corpus: the Hamming pool + exact rerank
    must retain >= 70% of the exact top-10 on average (measured 84%
    at sf0.01, 80% min at smoke — floor set with headroom; the pool
    is the recall knob as the corpus grows)."""
    from kafana_spark.operators.registry import x_binary_recall
    from tests.conftest import SF_SMOKE

    rows = x_binary_recall(spark, SF_SMOKE).collect()
    assert rows
    mean_bp = sum(r.recall_bp for r in rows) / len(rows)
    assert mean_bp >= 7000, mean_bp


def test_filtered_ivf_fixed_k_full_probe_matches_exact(spark):
    """The r7 fixed-k knob preserves the PRE-filter contract: with
    enough probes to cover every cell, fixed-k filtered IVF also
    reproduces the filtered exact top-k — the quantizer choice must
    never change WHAT is eligible, only how it is bucketed."""
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    exact = {(r.qid, r.rank): r.vec_id for r in
             similarity.filtered_topk(e, q, k=5, labels=(0, 1, 2))
             .collect()}
    ivf = {(r.qid, r.rank): r.vec_id for r in
           similarity.filtered_ivf_topk(
               e, q, k=5, n_probe=1000, labels=(0, 1, 2),
               n_assign=1, method="fixed", centroid_k=12).collect()}
    assert ivf == exact


def test_filtered_ivf_fixed_k_returns_k_hits(spark):
    """Fixed-k + over-probe still yields k hits per query from the
    eligible subset (the filtered-ANN correctness trap the PRE-filter
    semantics exist to avoid)."""
    e = embs(spark)
    q = similarity.fixed_queries(e, 5)
    out = similarity.filtered_ivf_topk(
        e, q, k=3, n_probe=8, labels=(0, 1, 2), n_assign=2,
        method="fixed", centroid_k=12).collect()
    per = {}
    for r in out:
        per.setdefault(r.qid, []).append(r.rank)
    assert len(per) == 5
    assert all(sorted(v) == [1, 2, 3] for v in per.values())


def test_single_assign_probe_skips_dedup_shuffle(spark):
    """At n_assign=1 each member lives in exactly one cell, so
    (qid, vec_id) is unique by construction and the dropDuplicates
    pre-pass is skipped entirely (the r8 sf10 decomposition: the
    scored leg was ~93% of the inline kNN-cluster wall). At
    n_assign=2 the dedup MUST run, but since the r9 map-only k-best
    assignment the scored frame already rides the probes' qid
    hashpartitioning, so the (qid, vec_id) HashAggregate needs NO
    exchange of its own — pin both: the aggregate is present at
    n_assign=2 (absent at 1), and neither plan carries a
    (qid, vec_id) exchange."""
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def pair_exchanges(p):
        return [ln for ln in p.splitlines()
                if "Exchange hashpartitioning(qid" in ln
                and "vec_id" in ln.split("qid", 1)[1].split(")")[0]]

    def dedup_aggs(p):
        return [ln for ln in p.splitlines()
                if "HashAggregate(keys=[qid" in ln
                and "vec_id" in ln.split("qid", 1)[1].split("]")[0]]

    one = similarity.ivf_topk(e, q, k=5, n_assign=1)
    two = similarity.ivf_topk(e, q, k=5, n_assign=2)
    p1, p2 = plan(one), plan(two)
    assert not dedup_aggs(p1), dedup_aggs(p1)
    assert dedup_aggs(p2), "n_assign=2 must still dedup (qid, vec_id)"
    assert not pair_exchanges(p1), pair_exchanges(p1)
    assert not pair_exchanges(p2), (
        "the n_assign=2 dedup must ride the existing qid "
        "partitioning, not re-shuffle the scored frame")
    # the skipped dedup changes nothing at n_assign=1: pairs unique
    rows = one.collect()
    assert len({(r.qid, r.vec_id) for r in rows}) == len(rows)


def test_full_probe_ivf_matches_brute_force_on_adversarial_random(spark):
    """Full-probe IVF through the Arrow kernels must reproduce the
    exact brute-force ranking on RANDOM data stressing the tie paths:
    exact duplicate vectors (cos ties broken by vec_id), negative
    components, near-collinear pairs — across n_assign widths."""
    import numpy as np

    rng = np.random.default_rng(7)
    dim, n = 8, 240
    V = rng.standard_normal((n, dim))
    V[40] = V[7]              # exact duplicates -> cos ties
    V[41] = V[7] * 2.5        # collinear -> cos tie at different norm
    V[42] = -V[7]             # antipodal
    rows = [(int(i), [float(x) for x in V[i]], int(i % 4))
            for i in range(n)]
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")
    q = similarity.modulo_queries(e, 40)
    exact = {(r.qid, r.rank): (r.vec_id, r.cos) for r in
             similarity.brute_force_topk(e, q, k=7).collect()}
    for n_assign in (1, 2, 3):
        ivf = {(r.qid, r.rank): (r.vec_id, r.cos) for r in
               similarity.ivf_topk(e, q, k=7, centroid_mod=20,
                                   n_probe=10_000,
                                   n_assign=n_assign).collect()}
        assert ivf == exact, n_assign


def test_full_probe_hard_negatives_match_numpy_reference(spark):
    """Full-probe hard negatives must equal the exact per-query
    top-k among DIFFERENT-label vectors (cos 4dp desc, vec_id asc),
    computed independently in numpy — locks the label mask running
    BEFORE the per-cell top-k inside the kernel."""
    import numpy as np

    rng = np.random.default_rng(11)
    dim, n, k = 8, 200, 6
    V = rng.standard_normal((n, dim))
    labels = (np.arange(n) % 3).astype(int)
    rows = [(int(i), [float(x) for x in V[i]], int(labels[i]))
            for i in range(n)]
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")
    got = {}
    for r in similarity.hard_negative_topk(
            e, k=k, query_mod=50, centroid_mod=20, n_probe=10_000,
            n_assign=2).collect():
        got.setdefault(r.qid, []).append((r.rank, r.vec_id, r.cos))
    nrm = np.sqrt((V * V).sum(1))
    for qid in range(0, n, 50):
        cos = np.round(V @ V[qid] / (nrm * nrm[qid]), 4)
        cand = sorted(((-cos[j], j) for j in range(n)
                       if j != qid and labels[j] != labels[qid]))
        want = [(i + 1, j, -c) for i, (c, j) in enumerate(cand[:k])]
        assert sorted(got[qid]) == want, qid


def test_kbest_pick_matches_plain_python_reference(spark):
    """The vectorized (BLAS) cell pick must reproduce the exact
    (round(acos, 6) desc, cid asc) selection a plain-Python fold
    computes — the ordering contract every oracle replays in SQL —
    across quantizer methods and n_assign widths."""
    e = embs(spark)
    corpus = similarity._with_norm(similarity._vectors(e))
    rows = corpus.collect()
    for method, ck in (("modulo", None), ("fixed", 12)):
        ct = similarity._collect_cents(similarity._ivf_centroids(
            e, corpus, method, 40, centroid_k=ck))
        cents = list(zip(ct.cid.tolist(), ct.C.tolist(),
                         ct.cnrm.tolist()))
        for n in (1, 2, 4):
            pick = similarity._kbest_pick_udf(ct, n)
            got = {r.vec_id: list(r.cells) for r in corpus.select(
                "vec_id", pick(F.col("v"), F.col("nrm"))
                .alias("cells")).collect()}
            for r in rows:
                ref = sorted(
                    ((round(sum(a * b for a, b in zip(r.v, cv))
                            / (r.nrm * cn), 6), cid)
                     for cid, cv, cn in cents),
                    key=lambda t: (-t[0], t[1]))
                want = [cid for _, cid in ref[:min(n, len(ref))]]
                assert got[r.vec_id] == want, (method, n, r.vec_id)


def test_cell_topk_prune_matches_unpruned_ranking(spark):
    """The per-cell top-k pre-prune must be invisible in the final
    ranking: ivf_topk (pruned kernel) == the same probe set ranked
    WITHOUT pruning (k = cell size), across n_assign widths."""
    e = embs(spark)
    q = similarity.modulo_queries(e, 100)
    for n_assign in (1, 2):
        pruned = similarity.ivf_topk(e, q, k=5, n_assign=n_assign)
        corpus = similarity._with_norm(similarity._vectors(e))
        ct = similarity._collect_cents(similarity._ivf_centroids(
            e, corpus, "modulo", 40))
        assigned = similarity._ivf_assign(corpus, ct, n_assign)
        n_corpus = assigned.count()
        # k >= any cell population => the kernel emits every scored
        # pair, i.e. the unpruned candidate set
        full = similarity._ivf_probe_rank(
            assigned, ct, q, k=int(n_corpus), n_probe=3,
            dedup=n_assign > 1).where(F.col("rank") <= 5)
        a = {(r.qid, r.rank): (r.vec_id, r.cos) for r in pruned.collect()}
        b = {(r.qid, r.rank): (r.vec_id, r.cos) for r in full.collect()}
        assert a == b, n_assign


def test_hard_negative_single_assign_skips_dedup_shuffle(spark):
    """hard_negative_topk carries the same n_assign>1-only dedup as
    _ivf_probe_rank (r9): at n_assign=1 no (qid, vec_id) aggregate and
    no pair exchange; at n_assign=2 the dedup runs on the shared qid
    repartition, never a (qid, vec_id) re-shuffle."""
    e = embs(spark)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def pair_exchanges(p):
        return [ln for ln in p.splitlines()
                if "Exchange hashpartitioning(qid" in ln
                and "vec_id" in ln.split("qid", 1)[1].split(")")[0]]

    def dedup_aggs(p):
        return [ln for ln in p.splitlines()
                if "HashAggregate(keys=[qid" in ln
                and "vec_id" in ln.split("qid", 1)[1].split("]")[0]]

    one = similarity.hard_negative_topk(e, k=5, n_assign=1)
    two = similarity.hard_negative_topk(e, k=5, n_assign=2)
    p1, p2 = plan(one), plan(two)
    assert not dedup_aggs(p1), dedup_aggs(p1)
    assert dedup_aggs(p2), "n_assign=2 must still dedup (qid, vec_id)"
    assert not pair_exchanges(p1), pair_exchanges(p1)
    assert not pair_exchanges(p2), (
        "the n_assign=2 dedup must ride the explicit qid repartition")
    rows = one.collect()
    assert len({(r.qid, r.vec_id) for r in rows}) == len(rows)
    # negatives only: every hit's label differs from the query's
    assert all(r.qlabel != r.label for r in rows)


def test_half_away_rounding_matches_duckdb_round():
    """The kernels' rounding is half-AWAY-from-zero — the exact
    F.round (HALF_UP) / DuckDB ROUND semantics — where numpy's
    np.round is half-to-even; pinned on binary-exact .5 boundaries
    (r10, closing the r9 ADVICE parity-by-assumption item)."""
    import duckdb
    import numpy as np

    x = np.array([0.5, 1.5, 2.5, -0.5, -1.5, -2.5])
    assert similarity._half_away(x, 0).tolist() == [1, 2, 3, -1, -2, -3]
    assert similarity._half_away_int(x, 0).tolist() == [1, 2, 3, -1, -2, -3]
    # the old behavior (np.round / np.rint) disagrees on every one of
    # these — the point of the swap
    assert np.round(x, 0).tolist() == [0, 2, 2, 0, -2, -2]
    # and DuckDB ROUND (the oracle's function) agrees with _half_away
    got = duckdb.sql(
        "select round(0.5::double), round(1.5::double),"
        " round(2.5::double), round(-0.5::double),"
        " round(-1.5::double), round(-2.5::double)").fetchone()
    assert list(got) == [1.0, 2.0, 3.0, -1.0, -2.0, -3.0]


def test_zero_norm_vectors_are_deterministic_not_undefined(spark):
    """A zero-norm vector yields 0/0 = NaN cosine; pre-r10 the
    rint(nan).astype(int64) cast was undefined and the *m key
    multiply overflowed into arbitrary cell picks (r9 ADVICE). The
    _finite guard scores it 0: picks fall back to pure cid-asc
    tiebreak and the scored kernel emits cos 0.0 — deterministic on
    both legs."""
    rows = [(i, [float(i + 1), 1.0]) for i in range(12)]
    rows.append((12, [0.0, 0.0]))  # zero-norm corpus member + query
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    corpus = similarity._with_norm(similarity._vectors(e))
    ct = similarity._collect_cents(
        similarity._ivf_centroids(e, corpus, "modulo", 4))
    pick = similarity._kbest_pick_udf(ct, 2)
    got = {r.vec_id: list(r.c) for r in corpus.select(
        "vec_id", pick(F.col("v"), F.col("nrm")).alias("c")).collect()}
    # all-zero scores -> ties break to the smallest cids, in order
    assert got[12] == sorted(ct.cid.tolist())[:2]
    # scored leg: the zero-norm query ranks every candidate at cos 0.0
    # with vec_id-asc order, and a second run is identical
    q = corpus.where(F.col("vec_id") == 12) \
        .select(F.col("vec_id").alias("qid"), "v", "nrm")
    a = similarity.ivf_topk(e, q, k=3, centroid_mod=4,
                            n_probe=10_000).collect()
    b = similarity.ivf_topk(e, q, k=3, centroid_mod=4,
                            n_probe=10_000).collect()
    assert a == b
    assert [(r.rank, r.vec_id, r.cos) for r in
            sorted(a, key=lambda r: r.rank)] == \
        [(1, 0, 0.0), (2, 1, 0.0), (3, 2, 0.0)]


def test_hard_negative_topk_string_labels(spark):
    """hard_negative_topk must carry the CALLER'S label type through
    the kernel schema (r9 ADVICE: 'qlabel int' was hardcoded and
    string labels failed at Arrow conversion)."""
    import numpy as np

    rng = np.random.default_rng(7)
    V = rng.standard_normal((60, 6))
    rows = [(int(i), [float(x) for x in V[i]], "red" if i % 2 else "blue")
            for i in range(60)]
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string")
    out = similarity.hard_negative_topk(
        e, k=4, query_mod=15, centroid_mod=12, n_probe=10_000).collect()
    assert out
    assert all(isinstance(r.label, str) and isinstance(r.qlabel, str)
               for r in out)
    assert all(r.qlabel != r.label for r in out)
