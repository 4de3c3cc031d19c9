"""Persisted IVF index — index-once / query-many for vector search.

The serving-time twin of ``operators/similarity.ivf_topk``: centroid
fitting and cell assignment are functions of the CORPUS only, so a real
deployment computes them at write time and answers every query from the
stored index (exactly how FAISS/Milvus-style IVF serving works, and the
ANN twin of the dedup index in ``dedup_index.py``).

Layout under one index root — each table written and read through
``store.py``'s commit log (a build is one ``replace_table``, a new
batch one ``append_table`` under its id, a read the table's snapshot;
a stream appends each micro-batch through
``streaming.pipeline.batch_sink``):

- ``<path>/centroids``   — (cid, cv, cnrm): the coarse quantizer.
- ``<path>/assignments`` — (vec_id, v, nrm, cid): one row per corpus
  vector per assigned cell (n_assign > 1 duplicates boundary vectors
  into adjacent cells for recall).

A rebuild replaces every batch appended against the old quantizer,
and a failed write or redelivery leaves the previous snapshot live.

Queries read both tables and run probe + rank only: no KMeans refit, no
corpus re-assignment, no norms recomputed. Appending a new batch
assigns it against the STORED centroids (append-only; re-fit centroids
on drift by rebuilding — the standard IVF maintenance trade).

Store-backed results are pinned equal to the recompute-everything
``ivf_topk`` by tests/test_ann_index.py, and x58 hash-checks the
store roundtrip against the same DuckDB oracle as x08.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafana_spark import batch_manifest as bm
from kafana_spark.functions import l2_norm
from kafana_spark.operators.similarity import (
    _ivf_assign, _ivf_centroids, _ivf_probe_rank, _km_assign, _km_corpus,
    _km_loop, _lsh_qcodes, _lsh_rank, _pq_adc_rank, _pq_refine, _vectors,
    _with_norm, binary_signs, lsh_codes, lsh_planes, pq_codebooks,
    pq_encode,
)
from kafana_spark.store import append_table, read_table, replace_table

CENT_DIR = "centroids"
LLOYD_STATS_DIR = "lloyd_stats"
ASSIGN_DIR = "assignments"
PQ_CB_DIR = "pq_codebooks"
PQ_CODE_DIR = "pq_codes"
PQ_VEC_DIR = "pq_vectors"
LSH_PLANE_DIR = "lsh_planes"
LSH_CODE_DIR = "lsh_codes"


def build_ann_index(df: DataFrame, path: str, centroid_mod: int = 40,
                    method: str = "modulo", n_assign: int = 1,
                    n_vectors: int | None = None,
                    centroid_k: int | None = None) -> None:
    """Fit the quantizer and persist centroids + cell assignments.

    Work: one (broadcast) pass of the corpus against the centroids,
    collapsed map-side to n_assign rows per vector — the same plan as
    the inline operator, paid once instead of per query. Pass
    ``n_vectors`` (store metadata) so the kmeans path sizes k without
    a counting job; ``method='fixed'`` + ``centroid_k`` pins the cell
    count (see ivf_topk's scale note).
    """
    corpus = _with_norm(_vectors(df))
    centroids = _ivf_centroids(df, corpus, method, centroid_mod,
                               n_vectors, centroid_k)
    replace_table(centroids, f"{path}/{CENT_DIR}")
    replace_table(_ivf_assign(corpus, centroids, n_assign),
                  f"{path}/{ASSIGN_DIR}")


def append_ann_index(df: DataFrame, path: str, n_assign: int = 1, *,
                     batch: str) -> None:
    """Assign a NEW batch against the STORED centroids and append.

    Append-only: existing assignment rows never change. Centroids are
    not refit — monitor drift and rebuild when cell occupancy skews
    (the standard IVF maintenance trade). ``batch`` names the append
    (ingest day, stream batch): a redelivery under the same id
    REPLACES that batch's files instead of duplicating assignment
    rows.

    Merge-law audit (r8 verdict #6): duplicated vectors across
    batches CANNOT corrupt a serve — every probe path dedups
    candidates per (qid, vec_id) — so only the cheap fingerprint
    tripwire runs here: the same rows re-appended under a fresh
    batch id (the fresh-id retry footgun) raise instead of bloating
    the probed cells."""
    table = f"{path}/{ASSIGN_DIR}"
    meta = bm.fresh_batch_meta(df, "vec_id", table, batch)
    centroids = read_table(df.sparkSession, f"{path}/{CENT_DIR}")
    append_table(_ivf_assign(_with_norm(_vectors(df)), centroids,
                             n_assign), table, batch, meta=meta)


def ann_topk_from_index(spark: SparkSession, path: str,
                        queries: DataFrame, k: int = 10,
                        n_probe: int = 3) -> DataFrame:
    """Approximate top-k from the stored index: probe n_probe cells per
    query, rank members of those cells only. Reads centroids (tiny,
    broadcast) and the probed slice of the assignment table."""
    centroids = read_table(spark, f"{path}/{CENT_DIR}")
    assigned = read_table(spark, f"{path}/{ASSIGN_DIR}")
    return _ivf_probe_rank(assigned, centroids, queries, k, n_probe)


def build_lloyd_index(df: DataFrame, path: str, centroid_mod: int = 40,
                      n_iters: int = 3, dim: int = 64,
                      n_assign: int = 1) -> None:
    """Lloyd-refined IVF index WITH the walk's exact sufficient
    statistics persisted — the maintainable variant of
    ``build_ann_index(method='lloyd')`` (which runs the same walk but
    keeps only the centroids, so a later refresh would have to
    re-read the base corpus). Layout adds
    ``<path>/lloyd_stats``: (cid, cnt, s) with s the
    per-dimension µunit sums — the sufficient statistics of every
    cell, so refreshed centroids are EXACT over base+appends without
    touching base data again."""
    spark = df.sparkSession
    _, cents, stats = _km_loop(df, centroid_mod, n_iters, dim)
    cdf = spark.createDataFrame(
        [(c, [x / 1_000_000.0 for x in v]) for c, v in cents],
        "cid bigint, cv array<double>")
    centroids = cdf.select("cid", "cv",
                           l2_norm(F.col("cv")).alias("cnrm"))
    replace_table(centroids, f"{path}/{CENT_DIR}")
    replace_table(spark.createDataFrame(
        [(c, cnt, s) for c, (cnt, s) in sorted(stats.items())],
        "cid bigint, cnt bigint, s array<bigint>"),
        f"{path}/{LLOYD_STATS_DIR}")
    replace_table(_ivf_assign(_with_norm(_vectors(df)), centroids,
                              n_assign), f"{path}/{ASSIGN_DIR}")


def _lloyd_batch_stats(batch_df: DataFrame, centroids: DataFrame,
                       dim: int) -> DataFrame:
    """(cid, cnt, s) exact µunit sufficient statistics of a batch
    assigned against the given centroids. cv is exactly cu/1e6, so
    the µunit projection floor(cv·1e6 + 0.5) recovers the integer
    centroids bit-exactly."""
    cu = F.transform(F.col("cv"),
                     lambda x: F.floor(x * 1_000_000.0 + 0.5)
                     .cast("bigint"))
    cdf = centroids.select("cid", cu.alias("cu"))
    sums = [F.sum(F.col("vu")[j]).alias(f"s{j}") for j in range(dim)]
    return (_km_assign(_km_corpus(batch_df, dim), cdf, dim)
            .groupBy("cid")
            .agg(F.count(F.lit(1)).alias("cnt"), *sums)
            .select("cid", "cnt",
                    F.array(*[F.col(f"s{j}")
                              for j in range(dim)]).alias("s")))


def append_lloyd_index(df: DataFrame, path: str, n_assign: int = 1,
                       dim: int = 64, *, batch: str) -> None:
    """Append a NEW batch to the Lloyd index: (a) assigned against the
    STORED centroids and appended probe-servable, and (b) reduced to
    its exact sufficient statistics, both as batch ``batch`` — a
    redelivery REPLACES that batch's files, so the later centroid
    refresh counts every vector once."""
    # the stats are SUMMED at refresh time (event_index-class merge
    # law), so append_ann_index's fingerprint tripwire guards them too
    append_ann_index(df, path, n_assign, batch=batch)
    centroids = read_table(df.sparkSession, f"{path}/{CENT_DIR}")
    append_table(_lloyd_batch_stats(df, centroids, dim),
                 f"{path}/{LLOYD_STATS_DIR}", batch)


def refresh_lloyd_centroids(spark: SparkSession, path: str,
                            dim: int | None = None) -> DataFrame:
    """Refresh the stored centroids from ALL accumulated sufficient
    statistics (base + every appended/streamed batch) — the store
    twin of ``operators.similarity.lloyd_update``, and the answer to
    append-only drift: cnt = Σcnt, s = Σs elementwise, refreshed
    cu[j] = floor(s[j]/cnt + 0.5) — EXACT over everything ever
    ingested, no base re-read, no walk re-run.

    Replaces ``<path>/centroids`` (stored assignments keep their
    cells — the online-IVF contract: probes route by the refreshed
    centroid, members move only on full rebuild) and returns the
    drift report (cid, n_total, shift_u) vs the replaced centroids.

    Scale: the fold is |cells|·dim combinable rows, collected to the
    driver (it is centroid-sized).

    ``dim`` is derived from the stored arrays; passing it is only a
    cross-check (raises on mismatch with the built index).
    """
    import math

    old = {int(r.cid): [int(x) for x in r.cu] for r in
           read_table(spark, f"{path}/{CENT_DIR}")
           .select("cid", F.transform(
               "cv", lambda x: F.floor(x * 1_000_000.0 + 0.5)
               .cast("bigint")).alias("cu")).collect()}
    if not old:
        raise ValueError(
            f"no centroids found under {path}/{CENT_DIR} — build the "
            f"index before refreshing it")
    stored_dim = len(next(iter(old.values())))
    if dim is not None and dim != stored_dim:
        raise ValueError(
            f"dim={dim} does not match the stored index "
            f"(centroid arrays have {stored_dim} dimensions)")
    dim = stored_dim
    stats = (read_table(spark, f"{path}/{LLOYD_STATS_DIR}")
             .select("cid", "cnt", F.posexplode("s").alias("i", "si"))
             .groupBy("cid", "i")
             .agg(F.sum("si").alias("s"), F.sum("cnt").alias("cnt"))
             .groupBy("cid")
             .agg(F.max("cnt").alias("cnt"),
                  F.transform(
                      F.array_sort(F.collect_list(
                          F.struct("i", "s"))),
                      lambda t: t["s"]).alias("s"))
             .collect())
    rows = []
    for r in sorted(stats, key=lambda r: r.cid):
        if len(r.s) != dim:
            raise ValueError(
                f"stored stats for cell {r.cid} carry {len(r.s)} "
                f"dimensions; the index has {dim}")
        cu = [int(math.floor(s / r.cnt + 0.5)) for s in r.s]
        shift = sum(abs(cu[j] - old[int(r.cid)][j])
                    for j in range(dim))
        rows.append((int(r.cid), int(r.cnt),
                     [x / 1_000_000.0 for x in cu], shift))
    cents = spark.createDataFrame(
        [(c, cv) for c, _, cv, _ in rows],
        "cid bigint, cv array<double>") \
        .select("cid", "cv", l2_norm(F.col("cv")).alias("cnrm"))
    replace_table(cents, f"{path}/{CENT_DIR}")
    return spark.createDataFrame(
        [(c, n, s) for c, n, _, s in rows],
        "cid bigint, n_total bigint, shift_u bigint").orderBy("cid")


def build_pq_index(df: DataFrame, path: str, dim: int = 64,
                   m_total: int = 16, ksub: int = 32,
                   train_mod: int = 3) -> None:
    """Persist PQ codebooks + codes + refine vectors — the
    FAISS-IVFPQ+refine serving shape: the ADC scan reads m_total
    1-byte codes per vector (~dim/2× smaller than float32); the
    vectors table exists only for the fixed-size candidate re-rank.
    """
    replace_table(pq_codebooks(df, dim, m_total, ksub, train_mod),
                  f"{path}/{PQ_CB_DIR}")
    cb = read_table(df.sparkSession, f"{path}/{PQ_CB_DIR}")
    replace_table(pq_encode(df, cb, m_total, dim // m_total),
                  f"{path}/{PQ_CODE_DIR}")
    replace_table(_vectors(df), f"{path}/{PQ_VEC_DIR}")


def append_pq_index(df: DataFrame, path: str, dim: int = 64,
                    m_total: int = 16, *, batch: str) -> None:
    """Encode a NEW batch against the STORED codebooks and append as
    batch ``batch`` — append-only like the IVF assignments; rebuild
    codebooks on drift. Fingerprint tripwire as in
    ``append_ann_index`` (serve paths dedup candidates, so only the
    fresh-id retry footgun raises)."""
    cb = read_table(df.sparkSession, f"{path}/{PQ_CB_DIR}")
    table = f"{path}/{PQ_CODE_DIR}"
    meta = bm.fresh_batch_meta(df, "vec_id", table, batch)
    append_table(pq_encode(df, cb, m_total, dim // m_total), table, batch,
                 meta=meta)
    append_table(_vectors(df), f"{path}/{PQ_VEC_DIR}", batch)


def pq_topk_from_index(spark: SparkSession, path: str,
                       queries: DataFrame, k: int = 10,
                       pool: int | None = 100, dim: int = 64,
                       m_total: int = 16) -> DataFrame:
    """PQ top-k from the stored index: per-query distance table
    against the stored codebooks (tiny, broadcast), one lookup-join
    against the stored codes, then (with ``pool``) an exact re-rank
    of the pool from the stored refine vectors. ``pool=None`` serves
    raw ADC without touching any vector."""
    cb = read_table(spark, f"{path}/{PQ_CB_DIR}")
    codes = read_table(spark, f"{path}/{PQ_CODE_DIR}")
    sub = dim // m_total
    if pool is None:
        return _pq_adc_rank(codes, cb, queries, k, m_total, sub)
    cands = _pq_adc_rank(codes, cb, queries, pool, m_total, sub)
    vectors = read_table(spark, f"{path}/{PQ_VEC_DIR}")
    return _pq_refine(cands, vectors, queries, k, dim)


def build_lsh_index(df: DataFrame, path: str, n_tables: int = 6,
                    n_bits: int = 4, anchor_mod: int = 10,
                    dim: int = 64) -> None:
    """Persist LSH planes + sign-signature codes — the third stored ANN
    family (IVF cells, PQ codes, LSH buckets). Planes are a pure
    function of the corpus's anchor pool (RNG-free), so the stored
    index reproduces the inline ``lsh_topk`` exactly; the codes table
    carries its vectors, making query time a (t, code) equi-join plus
    the in-bucket rank with no second corpus read."""
    replace_table(lsh_planes(df, n_tables, n_bits, anchor_mod),
                  f"{path}/{LSH_PLANE_DIR}")
    planes = read_table(df.sparkSession, f"{path}/{LSH_PLANE_DIR}")
    replace_table(lsh_codes(_with_norm(_vectors(df)), planes, dim),
                  f"{path}/{LSH_CODE_DIR}")


def append_lsh_index(df: DataFrame, path: str, dim: int = 64, *,
                     batch: str) -> None:
    """Sign a NEW batch against the STORED planes and append as batch
    ``batch`` — append-only like the IVF assignments; planes never
    drift (they are anchored to the original corpus sample), rebuild
    to re-anchor. Fingerprint tripwire as in ``append_ann_index``."""
    table = f"{path}/{LSH_CODE_DIR}"
    meta = bm.fresh_batch_meta(df, "vec_id", table, batch)
    planes = read_table(df.sparkSession, f"{path}/{LSH_PLANE_DIR}")
    append_table(lsh_codes(_with_norm(_vectors(df)), planes, dim),
                 table, batch, meta=meta)


def lsh_topk_from_index(spark: SparkSession, path: str,
                        queries: DataFrame, k: int = 10,
                        dim: int = 64) -> DataFrame:
    """LSH top-k from the stored index: query signatures against the
    stored planes (tiny, broadcast), candidates from the stored codes'
    (t, code) buckets, exact cosine rank in-bucket."""
    planes = read_table(spark, f"{path}/{LSH_PLANE_DIR}")
    codes = read_table(spark, f"{path}/{LSH_CODE_DIR}")
    return _lsh_rank(codes, _lsh_qcodes(queries, planes, dim), k)


def semantic_pairs_from_index(spark: SparkSession, path: str,
                              threshold: float,
                              block_size: int = 2048) -> DataFrame:
    """x68's SemDeDup pairs served from the STORED IVF index: cell
    assignments are already persisted (the expensive pass), so the
    embedding-dedup consumption chain reduces to the cell-local
    blocked-BLAS verify — no centroid fit, no re-assignment, no norms
    recomputed. The dedup twin of ann_topk_from_index, and the
    embedding twin of dedup_index.near_dup_from_index: one index now
    serves BOTH similarity search and semantic dedup."""
    from kafana_spark.operators.dedup import _blocked_cosine_pairs

    assigned = read_table(spark, f"{path}/{ASSIGN_DIR}")
    e = assigned.select(F.col("cid").alias("cell"), "vec_id", "v")
    return _blocked_cosine_pairs(e, float(threshold), block_size)


def knn_graph_from_index(spark: SparkSession, path: str, k: int = 5,
                         n_probe: int = 2) -> DataFrame:
    """The x149 corpus k-NN graph served from the stored index: every
    INDEXED vector queries the stored cells — the assignment pass
    (the expensive half of the inline graph) is never re-run, so the
    repeated consumers (mutual edges, density clusters, label
    propagation, outlier triage) all amortize one build. Queries are
    reconstructed from the stored assignment rows themselves
    (vec_id, v), so no corpus re-read either."""
    centroids = read_table(spark, f"{path}/{CENT_DIR}")
    assigned = read_table(spark, f"{path}/{ASSIGN_DIR}")
    queries = (assigned.groupBy("vec_id")
               .agg(F.any_value("v").alias("v"))
               .select(F.col("vec_id").alias("qid"), "v"))
    return _ivf_probe_rank(assigned, centroids, queries, k, n_probe)


def mutual_knn_from_index(spark: SparkSession, path: str, k: int = 5,
                          n_probe: int = 2) -> DataFrame:
    """x150's mutual edges over the store-served graph — the
    one-pass canonical groupBy tail of ``similarity.mutual_knn``
    applied to ``knn_graph_from_index`` (no assignment pass, no
    corpus read; the r8 self-join ran the store-served scored leg
    twice)."""
    from kafana_spark.operators.similarity import _mutual_from_directed

    return _mutual_from_directed(
        knn_graph_from_index(spark, path, k, n_probe))


def knn_clusters_from_index(spark: SparkSession, path: str,
                            k: int = 5, n_probe: int = 2,
                            min_cos: float = 0.0,
                            max_iter: int = 25) -> DataFrame:
    """x151's density clusters served from the stored graph: mutual
    edges from the persisted assignments, then the shared CC/label
    machinery. The vec_id universe is the stored index itself."""
    from kafana_spark.operators.dedup import clusters_from_mutual

    assigned = read_table(spark, f"{path}/{ASSIGN_DIR}")
    ids = assigned.select("vec_id").distinct()
    mu = mutual_knn_from_index(spark, path, k, n_probe)
    return clusters_from_mutual(ids, mu, min_cos, max_iter)


def cluster_sample_from_index(spark: SparkSession, path: str,
                              k: int = 5, n_probe: int = 2,
                              min_cos: float = 0.0,
                              max_iter: int = 25) -> DataFrame:
    """x152's cluster-balanced sample served from the stored graph —
    the quota tail over ``knn_clusters_from_index``. With x175/x177
    this completes the served cluster-then-sample chain: one
    assignment build feeds graph, clusters, and the diversity
    sample."""
    from kafana_spark.operators.dedup import quota_sample_from_clusters

    cl = knn_clusters_from_index(spark, path, k, n_probe, min_cos,
                                 max_iter)
    return quota_sample_from_clusters(cl)


def pagerank_from_index(spark: SparkSession, path: str, k: int = 5,
                        n_probe: int = 2, iters: int = 3,
                        damp_bp: int = 8500,
                        top_k: int = 50) -> DataFrame:
    """x212's PageRank served from the stored graph — the walk tail
    (``similarity.pagerank_from_edges``) over
    ``mutual_knn_from_index``: centrality queries re-run with zero
    assignment work, the same amortization the cluster chain gets."""
    from kafana_spark.operators.similarity import pagerank_from_edges

    mu = mutual_knn_from_index(spark, path, k, n_probe).select("a", "b")
    return pagerank_from_edges(mu, iters, damp_bp, top_k)


# ------------------------------------------------ binary (sign-bit) index

BIN_WORDS_DIR = "binary_words"
BIN_VEC_DIR = "binary_vectors"


def _binary_tables(df: DataFrame, dim: int):
    """(sign words, rerank vectors) of a batch, with their tables."""
    return ((binary_signs(df, dim), BIN_WORDS_DIR),
            (_vectors(df), BIN_VEC_DIR))


def build_binary_index(df: DataFrame, path: str, dim: int = 64) -> None:
    """Persist the sign words + full-precision rerank vectors — the
    binary twin of the PQ layout (codes + refine vectors): the
    Hamming scan reads dim/8 bytes per vector from
    ``binary_words``; only pooled candidates touch
    ``binary_vectors``. Packing is append-only (no trained state, so
    appends never drift — unlike IVF/PQ there is nothing to refresh)."""
    for frame, sub in _binary_tables(df, dim):
        replace_table(frame, f"{path}/{sub}")


def append_binary_index(df_new: DataFrame, path: str, batch: str,
                        dim: int = 64) -> None:
    """Pack and append a new batch — stateless encode, idempotent
    per-batch replace (the ann/dedup append discipline).
    Fingerprint tripwire as in ``append_ann_index``."""
    meta = bm.fresh_batch_meta(df_new, "vec_id",
                               f"{path}/{BIN_WORDS_DIR}", batch)
    for frame, sub in _binary_tables(df_new, dim):
        append_table(frame, f"{path}/{sub}", batch,
                     meta=meta if sub == BIN_WORDS_DIR else None)


def binary_topk_from_index(spark: SparkSession, path: str,
                           queries: DataFrame, k: int = 10,
                           pool: int = 100,
                           dim: int = 64) -> DataFrame:
    """x298's binary ANN served from the store — the operator's own
    Hamming-pool + exact-rerank tail over the stored words/vectors;
    nothing is re-packed."""
    from kafana_spark.operators.similarity import (
        hamming_topk_from_parts,
    )

    words = read_table(spark, f"{path}/{BIN_WORDS_DIR}")
    vecs = read_table(spark, f"{path}/{BIN_VEC_DIR}")
    # dim cross-check against the stored word layout (the
    # refresh_lloyd_centroids discipline): serving dim=64 against an
    # index built at dim=128 would silently scan only the first half
    # of the sign words — a degraded candidate pool with no error.
    stored_words = sum(1 for c in words.columns
                       if c.startswith("w") and c[1:].isdigit())
    want_words = dim // 32  # _sign_words packs 32 bits per word
    if stored_words != want_words:
        raise ValueError(
            f"dim={dim} expects {want_words} sign word(s) but the "
            f"stored index at {path} has {stored_words} — rebuild the "
            f"index or pass the dim it was built with "
            f"({stored_words * 32})")
    return hamming_topk_from_parts(words, vecs, queries, k, pool, dim)
