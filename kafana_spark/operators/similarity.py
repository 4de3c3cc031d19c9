"""Vector similarity search over an embedding column (SURVEY.md §2.E3).

- brute_force_topk: exact cosine top-k — the correctness baseline and
  the oracle-checked path.
- ivf_topk: IVF-style approximate search — deterministic coarse
  quantizer (modulo-sampled centroids), assignment shuffle on
  centroid id, probes limited to n_probe cells. This is the 100 TB
  path: the per-query work drops from O(N) to O(N * n_probe / n_cells),
  and the inner join is an equi-join on cell id (shuffle-partitionable)
  instead of a cross join.

All math is Column-expression only (kafana_spark.functions.cosine);
no Python UDFs in the hot path.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints must
# resolve in module globals (PEP 563 strings are evaluated there)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafana_spark.functions import as_double_array, dot, l2_norm


def _vectors(df: DataFrame) -> DataFrame:
    return df.select("vec_id", as_double_array(F.col("embedding")).alias("v"))


def _with_norm(df: DataFrame, v: str = "v") -> DataFrame:
    """Precompute the L2 norm once per vector — the pairwise stage then
    evaluates ONE array aggregate (the dot product) per pair instead of
    three (dot + both norms)."""
    return df.withColumn("nrm", l2_norm(F.col(v)))


def brute_force_topk(df: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact cosine top-k for each query vector.

    queries: (qid, v) — typically few; broadcast against the corpus so
    the scan stays embarrassingly parallel (no shuffle of the corpus).
    Output: (qid, vec_id, cos, rank), self-matches excluded.
    """
    corpus = _with_norm(_vectors(df))
    q = _with_norm(queries)
    cos = F.round(dot(F.col("q.v"), F.col("c.v"))
                  / (F.col("q.nrm") * F.col("c.nrm")), 4)
    scored = (corpus.alias("c")
              .join(F.broadcast(q.alias("q")),
                    F.col("q.qid") != F.col("c.vec_id"))
              .select(F.col("q.qid").alias("qid"),
                      F.col("c.vec_id").alias("vec_id"),
                      cos.alias("cos")))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def modulo_queries(df: DataFrame, mod: int = 100) -> DataFrame:
    """Deterministic query subset: vec_id % mod == 0. NOTE the set
    grows with the corpus (n/mod queries) — the right shape for an
    eval sweep, the wrong one for a fixed dashboard/benchmark budget;
    use :func:`fixed_queries` when query count must not scale with n
    (the same knob story as the fixed-k quantizer)."""
    return _vectors(df).where(F.col("vec_id") % mod == 0) \
        .select(F.col("vec_id").alias("qid"), "v")


def fixed_queries(df: DataFrame, n_queries: int = 100) -> DataFrame:
    """EXACTLY ``n_queries`` deterministic queries regardless of
    corpus size — the fixed-budget twin of :func:`modulo_queries`.
    Seeds are the n lowest portable-hash vec_ids (engine-exact
    pseudo-random spread; TakeOrdered, no full sort) — the same
    selection discipline as the fixed-k IVF seeds."""
    from kafana_spark.functions import portable_hash64

    if n_queries < 1:
        raise ValueError("fixed_queries requires n_queries >= 1")
    h = portable_hash64(F.concat_ws(
        "#", F.col("vec_id").cast("string"), F.lit("queryseed")))
    return (_vectors(df).orderBy(h.asc(), F.col("vec_id"))
            .limit(n_queries)
            .select(F.col("vec_id").alias("qid"), "v"))


def _sign_words(frame: DataFrame, id_col: str, dim: int) -> DataFrame:
    """(id, w0..w{dim/32-1}) sign-bit words of the ``v`` column: bit i
    of word b is (v[32b+i] > 0) — exact integer packing, identical in
    both engines (shiftleft sums, no floats past the comparison)."""
    if dim < 32 or dim % 32 != 0:
        raise ValueError("sign packing requires dim % 32 == 0")
    words = [
        F.expr(f"aggregate(zip_with(slice(v, {32 * b + 1}, 32), "
               "sequence(0, 31), "
               "(x, i) -> IF(x > 0D, shiftleft(1L, i), 0L)), "
               "0L, (a, c) -> a + c)").alias(f"w{b}")
        for b in range(dim // 32)]
    return frame.select(F.col(id_col), *words)


def binary_signs(df: DataFrame, dim: int = 64) -> DataFrame:
    """1-bit (sign) quantization of the embedding column — the third
    compression tier beside int8 (x50) and PQ (x59): a 64-dim float64
    vector (512 B) serves from 8 B of sign bits. On L2-normalized
    data, Hamming distance between sign words is a monotone proxy for
    angular distance (the classic LSH/ITQ serving mode), so a Hamming
    scan + exact rerank recovers cosine top-k at a fraction of the
    scan bytes. Output: (vec_id, w0, w1, ...) bigint words.
    """
    return _sign_words(_vectors(df), "vec_id", dim)


def hamming_topk(df: DataFrame, queries: DataFrame, k: int = 10,
                 pool: int = 100, dim: int = 64) -> DataFrame:
    """Binary-ANN serving: Hamming top-``pool`` candidates over the
    sign words, exact-cosine rerank to top-``k`` — the
    binary-quantized sibling of PQ/ADC+refine (x59), fully
    deterministic so the DuckDB oracle replays it bit-for-bit.

    Scale: the candidate scan touches dim/8 BYTES per corpus vector
    (two bit_count(xor) words at dim=64 — ~64× fewer scan bytes than
    the float64 brute force) against a broadcast query table; only
    ``pool`` vectors per query are ever read at full precision. The
    rank windows partition by qid over corpus rows (Hamming) and the
    pooled candidates (rerank). Drop-in with the IVF bucketing for a
    probe-then-Hamming composite at 100 TB.

    Output: (qid, vec_id, ham, cos, rank), self-matches excluded.
    """
    return hamming_topk_from_parts(
        _sign_words(_vectors(df), "vec_id", dim), _vectors(df),
        queries, k, pool, dim)


def hamming_topk_from_parts(cb: DataFrame, corpus_vecs: DataFrame,
                            queries: DataFrame, k: int = 10,
                            pool: int = 100,
                            dim: int = 64) -> DataFrame:
    """The binary-ANN tail over an already-packed (vec_id, w0..wN)
    word frame and the matching (vec_id, v) full-precision vectors —
    shared with the persisted binary index's stored twin, so the
    store roundtrip is provable by the same oracle hash."""
    n_words = dim // 32
    qb = _sign_words(queries.select(F.col("qid").alias("vec_id"), "v"),
                     "vec_id", dim) \
        .select(F.col("vec_id").alias("qid"),
                *[F.col(f"w{b}").alias(f"qw{b}")
                  for b in range(n_words)])
    ham = None
    for b in range(n_words):
        t = F.expr(f"bit_count(w{b} ^ qw{b})")
        ham = t if ham is None else ham + t
    scored = (cb.join(F.broadcast(qb),
                      F.col("qid") != F.col("vec_id"))
              .select("qid", "vec_id", ham.cast("int").alias("ham")))
    wp = Window.partitionBy("qid").orderBy("ham", "vec_id")
    cand = (scored.withColumn("pr", F.row_number().over(wp))
            .where(F.col("pr") <= pool)
            .select("qid", "vec_id", "ham"))
    corpus = _with_norm(corpus_vecs)
    qv = _with_norm(queries)
    cos = F.round(dot(F.col("q.v"), F.col("c.v"))
                  / (F.col("q.nrm") * F.col("c.nrm")), 4)
    rer = (cand.join(corpus.alias("c"), "vec_id")
           .join(F.broadcast(qv.alias("q")), "qid")
           .select("qid", "vec_id", "ham", cos.alias("cos")))
    wr = Window.partitionBy("qid").orderBy(F.col("cos").desc(),
                                           F.col("vec_id"))
    return (rer.withColumn("rank", F.row_number().over(wr).cast("int"))
            .where(F.col("rank") <= k))


def kmeans_centroids(df: DataFrame, k: int, seed: int = 42,
                     max_iter: int = 10) -> DataFrame:
    """Fit MLlib KMeans over the corpus and return (cid, cv) centroid
    vectors — the quality upgrade over the modulo quantizer (cells
    follow the data distribution, so cell occupancy is balanced and
    probes hit true neighbors more often)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # fit on L2-normalized vectors (spherical k-means): on the unit
    # sphere euclidean and cosine orderings agree, so the euclidean
    # KMeans objective matches the cosine ranking used at probe time
    unit = F.transform(F.col("v"), lambda x: x / F.col("nrm"))
    vecs = (_with_norm(_vectors(df))
            .withColumn("fv", array_to_vector(unit)))
    model = KMeans(k=k, seed=seed, maxIter=max_iter,
                   featuresCol="fv").fit(vecs)
    spark = df.sparkSession
    return spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in
         enumerate(model.clusterCenters())],
        "cid int, cv array<double>")


def ivf_topk(df: DataFrame, queries: DataFrame, k: int = 10,
             centroid_mod: int = 40, n_probe: int = 3,
             method: str = "modulo", n_assign: int = 1,
             n_vectors: int | None = None,
             centroid_k: int | None = None) -> DataFrame:
    """IVF-bucketed approximate top-k.

    Coarse quantizer: ``method='modulo'`` uses vectors with
    vec_id % centroid_mod == 0 as centroids (deterministic, zero
    training cost); ``method='kmeans'`` fits MLlib KMeans with
    n/centroid_mod cells (balanced cells, better recall);
    ``method='fixed'`` takes EXACTLY ``centroid_k`` portable-hash-
    sampled vectors as centroids. Every corpus vector is assigned to
    its nearest centroid (broadcast join — centroids are tiny). Each
    query probes its n_probe nearest cells and ranks only those
    cells' members.

    Choosing the cell count at scale: 'modulo' ties cells to
    n/centroid_mod, so the assignment pass (n × cells comparisons)
    grows as n²/mod — fine when the corpus is small or mod is raised
    with n, pathological if mod stays fixed while n grows 100×.
    'fixed' pins cells = centroid_k regardless of n: assignment is
    n·k (linear) and the probe side scans n_probe·(n/k) candidates
    per query. The balanced operating point is k ≈ √n, chosen
    EXPLICITLY by the caller (both legs n^1.5) — the knob is
    surfaced rather than silently coupled to the corpus size.

    ``n_assign > 1`` stores each corpus vector in its n nearest cells
    (multi-assignment IVF): storage grows n×, but boundary vectors
    become reachable from adjacent cells — the standard recall lever
    when n_probe alone plateaus.
    """
    corpus = _with_norm(_vectors(df))
    ct = _collect_cents(_ivf_centroids(df, corpus, method,
                                       centroid_mod, n_vectors,
                                       centroid_k))
    assigned = _ivf_assign(corpus, ct, n_assign)
    return _ivf_probe_rank(assigned, ct, queries, k, n_probe,
                           dedup=n_assign > 1)


def _ivf_centroids(df: DataFrame, corpus: DataFrame, method: str,
                   centroid_mod: int,
                   n_vectors: int | None = None,
                   centroid_k: int | None = None) -> DataFrame:
    """(cid, cv, cnrm) coarse-quantizer centroids.

    ``n_vectors`` sizes the kmeans cell count (k = n/centroid_mod)
    without a counting job — pass the known corpus size (store
    metadata, ingest row count); only when absent does the build pay a
    one-off count() (never on the default modulo path).
    """
    if method == "kmeans":
        n = n_vectors if n_vectors is not None else corpus.count()
        raw = kmeans_centroids(df, k=max(2, n // centroid_mod))
        return raw.select("cid", "cv", l2_norm(F.col("cv")).alias("cnrm"))
    if method == "lloyd":
        return lloyd_centroids(df, centroid_mod)
    if method == "modulo":
        return corpus.where(F.col("vec_id") % centroid_mod == 0) \
            .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"),
                    F.col("nrm").alias("cnrm"))
    if method == "fixed":
        # EXACTLY centroid_k cells regardless of corpus size — the
        # scale knob stays in the caller's hand (k ≈ √n at scale).
        # Seeds are the centroid_k lowest portable-hash vec_ids: a
        # deterministic engine-exact pseudo-random spread (first-k by
        # vec_id would bias the seeds to whatever ingestion order
        # correlates with). orderBy+limit is a TakeOrdered — no full
        # sort, no single-partition window.
        from kafana_spark.functions import portable_hash64

        if not centroid_k or centroid_k < 1:
            raise ValueError("method='fixed' requires centroid_k >= 1")
        h = portable_hash64(F.concat_ws(
            "#", F.col("vec_id").cast("string"), F.lit("ivfseed")))
        return (corpus.orderBy(h.asc(), F.col("vec_id"))
                .limit(centroid_k)
                .select(F.col("vec_id").alias("cid"),
                        F.col("v").alias("cv"),
                        F.col("nrm").alias("cnrm")))
    raise ValueError(
        f"method must be modulo|kmeans|lloyd|fixed, got {method!r}")


def _stack(rows, dtype) -> "np.ndarray":
    """(rows, dim) matrix from an Arrow-batch sequence of per-row
    vectors (a pd.Series or an object ndarray of np arrays).

    ``np.array(list(seq), dtype=...)`` re-walks every element as a
    Python object — measured 1.7 s per 100k×64 batch, ~23% of a
    typical kernel batch next to its 5.7 s matmul. ``np.stack`` hits
    the C fast path (111 ms, 15×) because the elements are already
    materialized numpy arrays; the astype is a no-op view when the
    Arrow column was float64/int64 to begin with (r10, the r9
    verdict's zero-copy item)."""
    import numpy as np

    return np.stack(rows).astype(dtype, copy=False)


def _finite(s: "np.ndarray") -> "np.ndarray":
    """Neutralize non-finite cosines IN PLACE (zero-norm vectors
    yield 0/0 = NaN; np.rint(nan).astype(int64) is undefined —
    typically INT64_MIN, which then overflows under the ``*m`` key
    multiply and produces arbitrary cell picks). A zero-norm vector
    is 'similar to nothing': score 0 is the deterministic stance the
    r9 ADVICE asked for, and it matches what the interpreted Catalyst
    path effectively did (NaN sorted last)."""
    import numpy as np

    if not np.isfinite(s).all():
        np.nan_to_num(s, copy=False, nan=0.0, posinf=0.0, neginf=0.0)
    return s


def _half_away(x: "np.ndarray", dp: int) -> "np.ndarray":
    """Round half AWAY FROM ZERO to ``dp`` decimals — the exact
    semantics of Spark ``F.round`` (HALF_UP) and DuckDB ``ROUND``,
    which the oracle SQL replays. numpy's np.round/np.rint are
    half-TO-EVEN; the two agree everywhere except exact .5·10^-dp
    boundaries, which real-valued dot products do not hit — but the
    r9 ADVICE is right that parity should not rest on that
    assumption, so the kernels now round the way the SQL engines do:
    sign(x)·floor(|x|·10^dp + 0.5) / 10^dp."""
    import numpy as np

    s = 10.0 ** dp
    return np.sign(x) * np.floor(np.abs(x) * s + 0.5) / s


def _half_away_int(x: "np.ndarray", dp: int) -> "np.ndarray":
    """sign(x)·floor(|x|·10^dp + 0.5) as int64 — the half-away-
    from-zero integer sort key (see _half_away; input must already be
    finite — run _finite first)."""
    import numpy as np

    s = 10.0 ** dp
    return (np.sign(x) * np.floor(np.abs(x) * s + 0.5)).astype(np.int64)


class _Cents:
    """Collected (cid, cv, cnrm) centroid arrays — the |cells|×(dim+2)
    driver footprint every IVF path already budgets for (it is the
    same payload a broadcast join ships). Sorted by cid so 'array
    index asc' == 'cid asc' inside the vectorized kernels."""

    __slots__ = ("cid", "C", "cnrm")

    def __init__(self, cid, C, cnrm):
        self.cid, self.C, self.cnrm = cid, C, cnrm


def _collect_cents(centroids) -> "_Cents":
    """Collect a (cid, cv, cnrm) centroid frame to numpy arrays
    (pass-through if already collected, so multi-leg callers pay the
    centroid job once)."""
    import numpy as np

    if isinstance(centroids, _Cents):
        return centroids
    rows = centroids.select(F.col("cid").cast("long"), "cv",
                            "cnrm").collect()
    rows.sort(key=lambda r: r[0])
    if not rows:
        return _Cents(np.empty(0, dtype=np.int64),
                      np.empty((0, 0)), np.empty(0))
    cid = np.array([r[0] for r in rows], dtype=np.int64)
    C = np.array([r[1] for r in rows], dtype=np.float64)
    cnrm = np.array([r[2] for r in rows], dtype=np.float64)
    return _Cents(cid, C, cnrm)


def _kbest_pick_udf(ct: "_Cents", n: int):
    """pandas_udf (v, nrm) -> array<long>: the ``n`` nearest cell ids
    ((acos 6dp desc, cid asc) order) per row, vectorized.

    ONE map-only Arrow pass: each batch of vectors is scored against
    the in-closure centroid matrix with a BLAS matmul — no join, no
    groupBy, no window: NO exchange at all on this leg, and the
    compute runs at numpy speed. (The first r9 shape did the same
    pick as a Catalyst F.aggregate fold; higher-order functions
    evaluate INTERPRETED — measured ~275 µs/candidate, 24 s per leg
    at a mere 20k×141 — where the matmul does the identical 2.8M
    candidates in milliseconds.) Memory is flat: rows are sub-chunked
    so the score block stays ≤ ~32 MB regardless of |cells|.

    Tie order: acos is rounded to 6 decimals half-away-from-zero
    (_half_away_int — the exact F.round/DuckDB ROUND semantics, so
    parity no longer rests on the no-exact-boundary assumption; r10,
    per r9 ADVICE) and ties
    break to the SMALLEST cid — encoded into one integer sort key
    (acos_int·|cells| − cid_rank) so argpartition needs no lexsort
    and the pick order is total."""
    import numpy as np

    cid, C, cnrm = ct.cid, ct.C, ct.cnrm
    m = len(cid)
    nn = min(n, m)
    chunk = max(1, 4_000_000 // max(1, m))

    @F.pandas_udf("array<long>")
    def pick(v: pd.Series, nrm: pd.Series) -> pd.Series:
        if m == 0 or len(v) == 0:
            return pd.Series([[] for _ in range(len(v))])
        V = _stack(v.values, np.float64)
        nr = nrm.to_numpy(dtype=np.float64)
        out = []
        for i in range(0, len(V), chunk):
            s = _finite(V[i:i + chunk] @ C.T
                        / np.outer(nr[i:i + chunk], cnrm))
            key = (_half_away_int(s, 6) * m
                   - np.arange(m, dtype=np.int64))
            if nn < m:
                idx = np.argpartition(-key, nn - 1, axis=1)[:, :nn]
                sel = np.take_along_axis(key, idx, 1)
                idx = np.take_along_axis(idx, np.argsort(-sel, axis=1), 1)
            else:
                idx = np.argsort(-key, axis=1)
            out.extend(cid[idx].tolist())
        return pd.Series(out)

    return pick


def _ivf_assign(corpus: DataFrame, centroids,
                n_assign: int, extra: tuple[str, ...] = ()) -> DataFrame:
    """(vec_id, v, nrm, *extra, cid) cell assignment — one row per
    vector per assigned cell. ``extra`` columns of the corpus (e.g. a
    training label) ride along. ``centroids`` is a (cid, cv, cnrm)
    frame or a pre-collected ``_Cents``.

    Map-only via the vectorized k-best pick for EVERY n_assign: the
    r8 n_assign=1 branch broadcast-joined then groupBy-argmaxed,
    whose exchange moves |corpus| wide rows — at 100 TB that shuffle
    IS the assignment job; the pick leaves every vector on its
    partition and exchanges nothing."""
    pick = _kbest_pick_udf(_collect_cents(centroids), n_assign)
    return corpus.select(
        "vec_id", "v", "nrm", *extra,
        F.explode(pick(F.col("v"), F.col("nrm"))).alias("cid"))


def _cell_topk_scored(probes: DataFrame, members: DataFrame, k: int,
                      probe_extra: tuple[str, ...] = (),
                      member_extra: tuple[str, ...] = (),
                      schema: str = "qid long, vec_id long, cos double",
                      exclude_same_label: bool = False) -> DataFrame:
    """Per-cell scored top-k: cogroup probes and cell members on cell
    id and run ONE blocked-BLAS kernel per cell that scores every
    (probe, member) pair in the cell and emits only each probe's
    per-cell top-``k`` — (qid, *probe_extra, vec_id, *member_extra,
    cos 4dp).

    This leg is where the IVF family's at-scale cost lives, and the
    kernel attacks both terms at once:

    - compute: the pair cosines run as a numpy matmul instead of a
      per-pair array fold (Catalyst HOFs evaluate interpreted — the
      r8 sf10 decomposition's 1692 s 'scored leg' was mostly 179M
      interpreted 64-step dots, not the sort);
    - volume: the global top-k over a query's probed cells is exactly
      the top-k of the UNION OF PER-CELL TOP-Ks (within its own cell
      a globally-top-k member is beaten by < k members), so the
      kernel emits ≤ k rows per (probe, cell) and the downstream rank
      window sees queries·n_probe·k rows, never the full
      queries·n_probe·(n/cells) candidate expansion.

    Tie discipline matches the window it feeds: cos rounded to 4dp
    half-away-from-zero (_half_away — exact F.round/DuckDB ROUND
    semantics, r10), ties to the smallest
    vec_id, both encoded in one integer key (cos_int·|cell| −
    vec_id_rank). Self-pairs (qid == vec_id) and — when
    ``exclude_same_label`` — label-equal pairs are masked BEFORE the
    top-k so every emitted slot is a real candidate. Memory is flat:
    probe rows are sub-chunked so a score block stays ≤ ~32 MB even
    in a skewed cell."""
    import numpy as np
    import pandas as pd

    out_cols = [f.strip().split()[0] for f in schema.split(",")]
    # the two sides routinely share lineage (queries ARE corpus rows
    # in knn_graph / hard negatives), so their v/nrm columns carry the
    # SAME attribute ids — cogroup conflates duplicate attributes
    # across sides and silently drops the right side's copies; alias
    # the member side to fresh m_* names (fresh exprIds) so both
    # sides arrive whole
    members = members.select(
        F.col("cid").alias("m_cid"),
        F.col("vec_id").alias("m_vid"),
        F.col("v").alias("m_v"),
        F.col("nrm").alias("m_nrm"),
        *[F.col(c).alias(f"m_{c}") for c in member_extra])

    def kern(l: "pd.DataFrame", r: "pd.DataFrame") -> "pd.DataFrame":
        if len(l) == 0 or len(r) == 0:
            return pd.DataFrame({c: [] for c in out_cols})
        vid = r["m_vid"].to_numpy()
        order = np.argsort(vid)
        # a cell may carry the same vec_id twice (duplicated vectors
        # across pre-guard index batches; a vec_id names ONE vector,
        # so copies are identical) — keep one, or the copies crowd
        # real members out of the per-cell top-k
        keep = np.ones(len(order), dtype=bool)
        keep[1:] = vid[order][1:] != vid[order][:-1]
        order = order[keep]
        vid = vid[order]
        M = _stack(r["m_v"].to_numpy()[order], np.float64)
        mn = r["m_nrm"].to_numpy(dtype=np.float64)[order]
        qid = l["qid"].to_numpy()
        Q = _stack(l["v"].values, np.float64)
        qn = l["nrm"].to_numpy(dtype=np.float64)
        mlab = (r["m_label"].to_numpy()[order]
                if exclude_same_label else None)
        qlab = l["qlabel"].to_numpy() if exclude_same_label else None
        m = len(vid)
        kk = min(k, m)
        arange_m = np.arange(m, dtype=np.int64)
        # mask sentinel: int64 min OVERFLOWS under negation
        # (-imin == imin), which would make masked entries the BEST
        # candidates under the -key partition below; min+1 negates
        # cleanly to int64 max and sorts last
        bad = np.iinfo(np.int64).min + 1
        chunk = max(1, 4_000_000 // m)
        parts = []
        for i in range(0, len(Q), chunk):
            cos = _half_away(_finite(Q[i:i + chunk] @ M.T
                             / np.outer(qn[i:i + chunk], mn)), 4)
            key = np.rint(cos * 1e4).astype(np.int64) * m - arange_m
            key[qid[i:i + chunk, None] == vid[None, :]] = bad
            if exclude_same_label:
                key[qlab[i:i + chunk, None] == mlab[None, :]] = bad
            if kk < m:
                idx = np.argpartition(-key, kk - 1, axis=1)[:, :kk]
                sel = np.take_along_axis(key, idx, 1)
                srt = np.argsort(-sel, axis=1)
                idx = np.take_along_axis(idx, srt, 1)
                sel = np.take_along_axis(sel, srt, 1)
            else:
                idx = np.argsort(-key, axis=1)
                sel = np.take_along_axis(key, idx, 1)
            rr, cc = np.nonzero(sel != bad)
            j = idx[rr, cc]
            part = {"qid": qid[i:i + chunk][rr], "vec_id": vid[j],
                    "cos": cos[rr, j]}
            for c in probe_extra:
                part[c] = l[c].to_numpy()[i:i + chunk][rr]
            for c in member_extra:
                part[c] = r[f"m_{c}"].to_numpy()[order][j]
            parts.append(pd.DataFrame(part))
        return pd.concat(parts)[out_cols] if parts else \
            pd.DataFrame({c: [] for c in out_cols})

    return (probes.groupBy("cid")
            .cogroup(members.groupBy("m_cid"))
            .applyInPandas(kern, schema))


def _ivf_probe_rank(assigned: DataFrame, centroids,
                    queries: DataFrame, k: int, n_probe: int,
                    dedup: bool = True) -> DataFrame:
    """Probe n_probe nearest cells per query and rank only those
    cells' members.

    Plan shape (r9): the probe list is the map-only vectorized k-best
    pick (query rows never ride a sort; no exchange), probes meet
    members on a cell-id cogroup whose blocked-BLAS kernel emits per-
    cell top-k only (see ``_cell_topk_scored``), and the global rank
    window runs over the PRUNED (qid, vec_id, cos) frame —
    queries·n_probe·k rows, not the full candidate expansion.

    ``dedup=False`` skips the (qid, vec_id) duplicate collapse — at
    n_assign=1 every member lives in exactly ONE cell, so the pair is
    unique by construction. Stored-index serves keep the safe default
    (batches may have been appended with mixed n_assign). The
    collapse is max(cos), not dropDuplicates: two cells' BLAS batches
    may disagree in the last ulp, and max() is deterministic where
    keep-any is not (the x68 kernel precedent)."""
    q = _with_norm(queries)
    ct = _collect_cents(centroids)
    pick = _kbest_pick_udf(ct, n_probe)
    probes = q.select("qid", "v", "nrm",
                      F.explode(pick(F.col("v"), F.col("nrm")))
                      .alias("cid"))
    scored = _cell_topk_scored(
        probes, assigned.select("cid", "vec_id", "v", "nrm"), k)
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    if dedup:
        # one explicit qid exchange that BOTH the duplicate-collapse
        # aggregate and the rank window then ride (qid ⊂ (qid,
        # vec_id) satisfies the agg's clustering; the window needs
        # qid) — without it each would shuffle the scored frame once
        scored = (scored.repartition("qid")
                  .groupBy("qid", "vec_id")
                  .agg(F.max("cos").alias("cos")))
    return (scored
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def knn_graph(df: DataFrame, k: int = 5, centroid_mod: int = 40,
              n_probe: int = 2, n_assign: int = 1,
              method: str = "modulo",
              centroid_k: int | None = None) -> DataFrame:
    """Bucketed k-NN graph over the WHOLE corpus — every vector is a
    query against its own probed IVF cells (the SemDeDup/UMAP-style
    neighborhood structure: local-density analysis, graph dedup,
    semantic-domain discovery all start here).

    Output: (qid, vec_id, cos, rank) — up to ``k`` directed edges per
    vector; sparse cells may yield fewer (the honest bucketed
    contract, same as LSH's).

    Scale: identical plan shape to ``ivf_topk`` with n queries — the
    all-pairs n² never materializes; candidate work is
    Σ per-probed-cell members ≈ n·n_probe·(n/cells), an equi-join on
    cell id. ``method='lloyd'`` drops in for balanced cells when the
    corpus is skewed; ``method='fixed'`` (centroid_k cells, k ≈ √n)
    keeps the cell count an explicit caller knob instead of n/mod —
    see ``ivf_topk``'s scale note."""
    corpus = _vectors(df)
    queries = corpus.select(F.col("vec_id").alias("qid"), "v")
    return ivf_topk(df, queries, k, centroid_mod, n_probe, method,
                    n_assign, centroid_k=centroid_k)


#: the columns of a directed k-NN edge frame, ``knn_graph``'s output
KNN_GRAPH_COLS = ("qid", "vec_id", "cos", "rank")


def _given_graph(graph: DataFrame) -> DataFrame:
    """A caller's ``graph=`` edge frame, checked for ``KNN_GRAPH_COLS``:
    a frame missing one raises ``ValueError`` here instead of failing
    to resolve deep in the consumer's plan."""
    missing = [c for c in KNN_GRAPH_COLS if c not in graph.columns]
    if missing:
        raise ValueError(
            f"graph= lacks knn_graph column(s) {missing}: pass a directed "
            f"edge frame with columns {list(KNN_GRAPH_COLS)}")
    return graph


def mutual_knn(df: DataFrame, k: int = 5, centroid_mod: int = 40,
               n_probe: int = 2, n_assign: int = 1,
               method: str = "modulo",
               centroid_k: int | None = None,
               graph: DataFrame | None = None) -> DataFrame:
    """Mutual k-NN edges — keep (a, b) only when each is in the
    other's top-``k`` (THE standard local-density filter: one-way
    edges into dense hubs drop out, so downstream clustering does not
    chain through hub vectors).

    Output: (a, b, cos, rank_ab, rank_ba) with a < b canonical.

    Scale: the directed graph is n·k rows; mutuality is ONE pass over
    it — canonicalize each edge to (min, max) and groupBy, keeping a
    pair only when both directions contributed a rank. The r8 shape
    self-joined two copies of ``g``, and since the graph subplan is
    not an exchange Spark could reuse, the ENTIRE scored leg (the
    x151 sf10 decomposition's dominant cost) ran twice; the groupBy
    recomputes nothing and shuffles n·k canonical rows once instead
    of twice. cos is direction-symmetric bit-exactly (same products,
    same fold order; the norm product commutes), so max() over the
    ≤2 rows per pair reproduces the join's ab-side value."""
    # ``graph``: a precomputed directed kNN edge frame with the same
    # (k, quantizer) parameters — callers composing several consumers
    # of ONE graph (the v5 funnel's outlier drop + cluster quota)
    # pass a materialized copy so the Arrow-kernel scoring leg runs
    # once (PythonUDF stages are not exchange-reusable).
    g = _given_graph(graph) if graph is not None else knn_graph(
        df, k, centroid_mod, n_probe, n_assign, method, centroid_k)
    return _mutual_from_directed(g)


def _mutual_from_directed(g: DataFrame) -> DataFrame:
    """(a, b, cos, rank_ab, rank_ba), a < b, pairs present in BOTH
    directions of the directed edge frame — one canonical groupBy
    (shared by the inline chain and the stored-graph serve)."""
    fwd = F.col("qid") < F.col("vec_id")
    canon = g.select(
        F.least("qid", "vec_id").alias("a"),
        F.greatest("qid", "vec_id").alias("b"),
        "cos",
        F.when(fwd, F.col("rank")).alias("r_ab"),
        F.when(~fwd, F.col("rank")).alias("r_ba"))
    return (canon.groupBy("a", "b")
            .agg(F.max("cos").alias("cos"),
                 F.max("r_ab").alias("rank_ab"),
                 F.max("r_ba").alias("rank_ba"))
            .where(F.col("rank_ab").isNotNull()
                   & F.col("rank_ba").isNotNull())
            .select("a", "b", "cos", "rank_ab", "rank_ba"))


def hard_negative_topk(df: DataFrame, k: int = 10,
                       query_mod: int = 100, centroid_mod: int = 40,
                       n_probe: int = 3, n_assign: int = 1,
                       label_col: str = "label") -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the k most-similar corpus vectors whose ``label`` DIFFERS
    from the query's — the near-misses a contrastive loss learns most
    from (easy negatives are plentiful and uninformative).

    Composed on the IVF machinery (same modulo quantizer / probe shape
    as ivf_topk, so the 100 TB story is identical: per-query work is
    the probed cells, not the corpus); the label rides through cell
    assignment and the mismatch filter applies before ranking, so the
    k slots are all true negatives. Output:
    (qid, qlabel, vec_id, label, cos, rank).
    """
    corpus = _with_norm(
        df.select("vec_id", as_double_array(F.col("embedding")).alias("v"),
                  F.col(label_col).alias("label")))
    ct = _collect_cents(_ivf_centroids(df, corpus, "modulo",
                                       centroid_mod))
    assigned = _ivf_assign(corpus, ct, n_assign, extra=("label",))
    queries = (corpus.where(F.col("vec_id") % query_mod == 0)
               .select(F.col("vec_id").alias("qid"), "v", "nrm",
                       F.col("label").alias("qlabel")))

    # probe list: n_probe nearest centroids per query — the same
    # map-only vectorized pick as _ivf_probe_rank, with the query
    # label riding along; the scored leg is the per-cell top-k
    # kernel with the label-mismatch mask applied BEFORE the top-k,
    # so every emitted slot is a true negative
    pick = _kbest_pick_udf(ct, n_probe)
    probes = queries.select("qid", "v", "nrm", "qlabel",
                            F.explode(pick(F.col("v"), F.col("nrm")))
                            .alias("cid"))
    # the kernel output schema must carry the CALLER'S label type —
    # hardcoding 'int' broke string labels at Arrow conversion
    # (r9 ADVICE); derive the DDL from the input column
    lt = df.schema[label_col].dataType.simpleString()
    scored = _cell_topk_scored(
        probes, assigned.select("cid", "vec_id", "v", "nrm", "label"),
        k, probe_extra=("qlabel",), member_extra=("label",),
        schema=f"qid long, qlabel {lt}, vec_id long, label {lt}, "
               "cos double",
        exclude_same_label=True)
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    if n_assign > 1:
        # same shape as _ivf_probe_rank: at n_assign=1 each (qid,
        # vec_id) pair is unique by construction, so the dedup would
        # shuffle the scored frame for nothing; at n_assign>1 one
        # explicit qid exchange serves both the collapse and the
        # window (max() over ulp-twin copies, the x68 precedent)
        scored = (scored.repartition("qid")
                  .groupBy("qid", "qlabel", "vec_id", "label")
                  .agg(F.max("cos").alias("cos")))
    return (scored
            .select("qid", "qlabel", "vec_id", "label", "cos")
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


# --- hyperplane LSH (sign-random-projection buckets) -------------------
#
# The third ANN family next to IVF (cells) and PQ (codes): L tables of
# b-bit sign signatures (Charikar SimHash applied to dense vectors).
# Hyperplane normals are DIFFERENCES of consecutive modulo-sampled
# anchor vectors — data-derived and RNG-free (the same determinism
# stance as the modulo IVF quantizer), and the difference centers the
# direction distribution even when the corpus lives off-origin (raw
# corpus vectors as normals would collapse every bit to 1 on an
# all-positive-orthant embedding). Bit j of table t is the SIGN of the
# projection onto normal (t, j), computed in integer micro-units
# (floor(term*1e6 + 0.5) per dimension BEFORE the sum, the _l2sq_u
# stance) so the sum is pure integer arithmetic — both engines agree
# bit-for-bit regardless of accumulation order. Signing is a map-only
# Arrow kernel closed over the bounded plane matrix (r12; the
# _km_assign discipline — no plane join, no codes exchange).
# Candidates come from an equi-join on (table, code); the codes frame
# carries its vectors, so ranking needs no second corpus join. The
# 100 TB shape: the index IS the (t, code)-partitioned codes table,
# per-query work is O(L * bucket), and signing shuffles nothing.


def lsh_planes(df: DataFrame, n_tables: int = 6, n_bits: int = 4,
               anchor_mod: int = 10) -> DataFrame:
    """(t, j, h) hyperplane normals: consecutive pairs of the
    modulo-sampled anchor pool (vec_id % anchor_mod == 1, ordered by
    vec_id), normal = first - second. Raises at plan time nothing —
    short pools simply yield fewer planes (callers pin table/bit
    counts in tests)."""
    need = 2 * n_tables * n_bits
    # TakeOrdered the anchor pool down to `need` rows BEFORE the
    # row_number window (the pq_codebooks pattern): the pool is
    # ~n/anchor_mod rows, so windowing it first would push a corpus
    # tenth through one partition at scale just to pick ~need anchors
    pool = (_vectors(df).where(F.col("vec_id") % anchor_mod == 1)
            .orderBy("vec_id").limit(need))
    # row_number over <= need rows — driver-trivial by construction
    rn_w = Window.orderBy("vec_id")
    a = (pool.withColumn("rn", F.row_number().over(rn_w))
         .select(F.floor((F.col("rn") - 1) / 2).cast("int").alias("pid"),
                 (F.col("rn") % 2 == 1).alias("lead"), "v"))
    h = F.zip_with(F.any_value(F.when(F.col("lead"), F.col("v")), True),
                   F.any_value(F.when(~F.col("lead"), F.col("v")), True),
                   lambda p, q: p - q)
    return (a.groupBy("pid").agg(h.alias("h"))
            .select(F.floor(F.col("pid") / n_bits).cast("int").alias("t"),
                    (F.col("pid") % n_bits).cast("int").alias("j"), "h"))


def _lsh_plane_matrix(planes: DataFrame):
    """Collect the bounded (≤ n_tables·n_bits rows by construction)
    plane frame into (tvals, tidx, J, H): table ids, per-plane table
    index, per-plane bit positions, and the (p, dim) normal matrix,
    plane rows sorted by (t, j)."""
    import numpy as np

    rows = sorted(((int(r.t), int(r.j), list(r.h))
                   for r in planes.select("t", "j", "h").collect()))
    tvals = sorted({t for t, _, _ in rows})
    tpos = {t: i for i, t in enumerate(tvals)}
    tidx = np.array([tpos[t] for t, _, _ in rows], dtype=np.int64)
    J = np.array([j for _, j, _ in rows], dtype=np.int64)
    H = np.array([h for _, _, h in rows], dtype=np.float64)
    return tvals, tidx, J, H


def _lsh_du(V, H):
    """(n, p) integer µunit projections of the vector batch onto every
    plane: per-dimension floor((v[j]·h[j])·1e6 + 0.5), summed as
    int64 — each term is floored to an exact integer BEFORE the sum,
    so the result is order-independent, and numpy float64
    mult/add/floor are IEEE-identical to the JVM codegen chain this
    replaced (r5–r11's unrolled per-dimension Column fold), so the
    signs and codes replay exactly in SQL."""
    import numpy as np

    T = np.floor((V[:, None, :] * H[None, :, :]) * 1_000_000.0 + 0.5)
    return T.astype(np.int64).sum(axis=2)


def lsh_codes(vectors: DataFrame, planes: DataFrame, dim: int) -> DataFrame:
    """(vec_id, v, nrm, t, code): the b-bit sign signature of every
    vector in every table.

    Map-only Arrow kernel (r12, the _km_assign discipline): the plane
    frame is bounded by construction (n_tables·n_bits rows), so it is
    collected once and closed over; each batch computes all
    projections as one numpy tensor product and emits L rows per
    vector directly. The r5–r11 shape — broadcast-join ×(L·b)
    expansion, per-row 64-term codegen chains, then a groupBy whose
    exchange moved |vectors|·L rows WITH their vectors — had no
    corpus-scale shuffle left to remove but still paid (a) ~2 s of
    driver time per call building the unrolled projection Columns
    through Py4J and (b) the codes exchange; both are gone. µunit
    floor semantics are unchanged (see _lsh_du), so codes are
    bit-identical and the DuckDB oracle replays them."""
    import numpy as np

    tvals, tidx, J, H = _lsh_plane_matrix(planes)
    nt, p = len(tvals), len(J)
    chunk = max(1, 4_000_000 // max(1, p * dim))
    tarr = np.array(tvals, dtype=np.int64)

    def kern(batches):
        import pandas as _pd

        for pdf in batches:
            if len(pdf) == 0 or p == 0:
                continue
            for i in range(0, len(pdf), chunk):
                part = pdf.iloc[i:i + chunk]
                V = _stack(part["v"].values, np.float64)
                du = _lsh_du(V, H)
                bits = (du >= 0).astype(np.int64)
                codes = np.zeros((len(part), nt), dtype=np.int64)
                for q in range(p):
                    codes[:, tidx[q]] += bits[:, q] << J[q]
                yield _pd.DataFrame({
                    "vec_id": np.repeat(part["vec_id"].to_numpy(), nt),
                    "v": np.repeat(part["v"].values, nt),
                    "nrm": np.repeat(part["nrm"].to_numpy(), nt),
                    "t": np.tile(tarr, len(part)),
                    "code": codes.ravel()})

    return vectors.select("vec_id", "v", "nrm").mapInPandas(
        kern, "vec_id long, v array<double>, nrm double, t int, code long")


def lsh_topk(df: DataFrame, queries: DataFrame, k: int = 10,
             n_tables: int = 6, n_bits: int = 4, anchor_mod: int = 10,
             dim: int = 64) -> DataFrame:
    """Hyperplane-LSH bucketed approximate cosine top-k.

    Output: (qid, vec_id, cos, rank) — rank over the union of the
    query's L buckets only; queries may return fewer than k rows when
    their buckets are sparse (the honest LSH contract)."""
    planes = lsh_planes(df, n_tables, n_bits, anchor_mod)
    codes = lsh_codes(_with_norm(_vectors(df)), planes, dim)
    return _lsh_rank(codes, _lsh_qcodes(queries, planes, dim), k)


def _lsh_qcodes(queries: DataFrame, planes: DataFrame,
                dim: int) -> DataFrame:
    """(qid, qv, qnrm, t, code) query signatures against given planes."""
    q = _with_norm(queries)
    return (lsh_codes(q.select(F.col("qid").alias("vec_id"), "v", "nrm"),
                      planes, dim)
            .select(F.col("vec_id").alias("qid"),
                    F.col("v").alias("qv"), F.col("nrm").alias("qnrm"),
                    "t", "code"))


def lsh_multiprobe_topk(df: DataFrame, queries: DataFrame, k: int = 10,
                        n_tables: int = 6, n_bits: int = 4,
                        anchor_mod: int = 10, dim: int = 64) -> DataFrame:
    """Query-directed multiprobe LSH (Lv et al., VLDB'07 shape): per
    table, probe the query's own bucket AND the bucket with the
    WEAKEST bit flipped — the bit whose hyperplane margin |proj| is
    smallest, i.e. the boundary the query most nearly crossed. Doubles
    probed buckets (2L) for the recall that more tables would cost L×
    storage to buy; the corpus index is unchanged, so one stored codes
    table serves both probe depths. Margins are integer micro-units —
    the weakest-bit argmin replays exactly in SQL."""
    planes = lsh_planes(df, n_tables, n_bits, anchor_mod)
    codes = lsh_codes(_with_norm(_vectors(df)), planes, dim)
    return _lsh_rank(codes, _lsh_qprobes(queries, planes, dim), k)


def _lsh_qprobes(queries: DataFrame, planes: DataFrame,
                 dim: int) -> DataFrame:
    """(qid, qv, qnrm, t, code) multiprobe rows — per (query, table)
    the query's own code AND the code with the weakest bit flipped
    (smallest |du| margin, ties to the lowest j — the running
    strictly-less argmin over the j-sorted plane slice replays the
    old ``min_by(j, struct(abs(du), j))`` exactly). Same Arrow-kernel
    shape as lsh_codes; same µunit floor arithmetic, so the flipped
    codes are bit-identical and the DuckDB oracle replays them."""
    import numpy as np

    tvals, tidx, J, H = _lsh_plane_matrix(planes)
    nt, p = len(tvals), len(J)
    chunk = max(1, 4_000_000 // max(1, p * dim))
    tarr = np.array(tvals, dtype=np.int64)

    def kern(batches):
        import pandas as _pd

        for pdf in batches:
            if len(pdf) == 0 or p == 0:
                continue
            for i in range(0, len(pdf), chunk):
                part = pdf.iloc[i:i + chunk]
                V = _stack(part["v"].values, np.float64)
                du = _lsh_du(V, H)
                bits = (du >= 0).astype(np.int64)
                n = len(part)
                codes = np.zeros((n, nt), dtype=np.int64)
                flips = np.full((n, nt), np.iinfo(np.int64).max,
                                dtype=np.int64)
                jstar = np.zeros((n, nt), dtype=np.int64)
                for q in range(p):
                    codes[:, tidx[q]] += bits[:, q] << J[q]
                    a = np.abs(du[:, q])
                    better = a < flips[:, tidx[q]]
                    flips[better, tidx[q]] = a[better]
                    jstar[better, tidx[q]] = J[q]
                probe2 = codes ^ (np.int64(1) << jstar)
                both = np.stack([codes, probe2], axis=2)  # (n, nt, 2)
                yield _pd.DataFrame({
                    "qid": np.repeat(part["qid"].to_numpy(), nt * 2),
                    "qv": np.repeat(part["v"].values, nt * 2),
                    "qnrm": np.repeat(part["nrm"].to_numpy(), nt * 2),
                    "t": np.tile(np.repeat(tarr, 2), n),
                    "code": both.reshape(n, nt * 2).ravel()})

    q = _with_norm(queries)
    return q.select("qid", "v", "nrm").mapInPandas(
        kern, "qid long, qv array<double>, qnrm double, t int, code long")


def _lsh_rank(codes: DataFrame, qcodes: DataFrame, k: int) -> DataFrame:
    """Bucket-join candidates and rank by exact cosine."""
    # bucket equi-join on (t, code); groupBy dedups candidates found in
    # several tables while keeping both vectors for the ranking stage
    cand = (qcodes.join(codes, ["t", "code"])
            .where(F.col("qid") != F.col("vec_id"))
            .groupBy("qid", "vec_id")
            .agg(F.any_value("qv").alias("qv"),
                 F.any_value("qnrm").alias("qnrm"),
                 F.any_value("v").alias("v"),
                 F.any_value("nrm").alias("nrm")))
    cos = F.round(dot(F.col("qv"), F.col("v"))
                  / (F.col("qnrm") * F.col("nrm")), 4)
    scored = cand.select("qid", "vec_id", cos.alias("cos"))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


# --- product quantization (PQ / ADC) ----------------------------------
#
# The 100 TB ANN memory story next to IVF (cells) and int8 (4× cut):
# each vector becomes m_total 1-byte codes — dim×4-byte floats shrink
# ~dim/2× (64-dim float32 → 8 bytes), and queries never touch the
# original vectors (Asymmetric Distance Computation sums per-subspace
# lookup-table entries). Deterministic codebooks (modulo-sampled
# training rows, same stance as IVF's modulo quantizer) make every
# step SQL-expressible, so x59/x63 run under a full DuckDB oracle.
# Distances are integer micro-units end-to-end: each per-DIMENSION
# squared difference is rounded to floor(t·1e6 + 0.5) (half-up for
# the nonneg squares) BEFORE any accumulation, so every sum downstream
# (subspace, ADC, refine) is an integer sum — order-independent by
# construction, so Spark's fixed left fold and DuckDB's unspecified
# SUM order agree bit-for-bit. (r4 rounded only after the per-subspace
# float sum; a distance landing within FP noise of a 0.5 µunit
# boundary could then hash-mismatch across engines — ADVICE.md r5.)


def _l2sq_u(a: str, b: str, dim: int) -> F.Column:
    """Squared L2 distance in integer micro-units (exact, portable).
    ``a``/``b`` are SQL column references (qualified names allowed).

    Each dimension's squared difference is rounded to µunits BEFORE
    accumulation (floor(t·1e6 + 0.5) — round-half-up for nonneg), so
    every sum downstream is pure integer arithmetic: independent of
    accumulation order across engines by construction. ``dim`` is
    static at plan time, so the sum is UNROLLED into a left-folded
    chain of codegen'd GetArrayItem/multiply/add nodes — the
    interpreted F.aggregate/zip_with higher-order form costs ~3× more
    per row on the encode path (1M+ rows at bench scale).

    The chain is built as ONE ``F.expr`` string parsed JVM-side (r12):
    composing it from Python Column operators cost ~8 Py4J roundtrips
    per dimension — ~0.5 s of pure driver time for the 64-term refine
    chain alone, ~half of x59/x63's warm wall. The parsed tree is
    node-identical (``D``-suffixed double literals, left-assoc sum),
    so plans and results are unchanged.

    round-half-up == floor(t + 0.5) for the nonneg squares; Spark's
    ROUND on doubles detours through BigDecimal (~1.6× measured on
    the encode/refine paths) while floor codegens to Math.floor and
    yields LONG directly — integer sums from the first add. DuckDB
    floors bit-identically.
    """
    return F.expr(" + ".join(
        f"FLOOR(({a}[{j}] - {b}[{j}]) * ({a}[{j}] - {b}[{j}])"
        f" * 1000000.0D + 0.5D)"
        for j in range(dim)))


def pq_codebooks(df: DataFrame, dim: int, m_total: int = 8,
                 ksub: int = 8, train_mod: int = 7) -> DataFrame:
    """(m, code, cv) product-quantizer codebooks: the ksub
    modulo-sampled training vectors contribute their m-th subvector as
    code ``code`` of subspace ``m``. Zero training cost, deterministic
    across engines; swap in per-subspace k-means centroids via
    ``kmeans_centroids`` for production recall (same downstream plan).
    """
    sub = dim // m_total
    train = (_vectors(df).where(F.col("vec_id") % train_mod == 0)
             .orderBy("vec_id").limit(ksub))
    # row_number over ksub rows — driver-trivial by construction
    w = Window.orderBy("vec_id")
    coded = train.withColumn("code", F.row_number().over(w) - 1)
    return (coded.select(
        "code",
        F.explode(F.sequence(F.lit(0), F.lit(m_total - 1))).alias("m"),
        "v")
        .select("m", "code",
                F.expr(f"slice(v, m*{sub}+1, {sub})").alias("cv")))


def pq_encode(df: DataFrame, codebooks: DataFrame, m_total: int,
              sub: int) -> DataFrame:
    """(vec_id, m, code) PQ codes: nearest codebook entry per subspace.

    Scale: the broadcast join expands corpus×ksub per subspace, but the
    argmin groupBy collapses map-side (min(struct) is combinable) — the
    exchange moves |corpus|·m_total code rows (~16 bytes each), never
    the expanded frame and never the vectors.
    """
    expanded = (_vectors(df)
                .select("vec_id",
                        F.explode(F.sequence(
                            F.lit(0), F.lit(m_total - 1))).alias("m"),
                        "v")
                .select("vec_id", "m",
                        F.expr(f"slice(v, m*{sub}+1, {sub})").alias("sv")))
    scored = (expanded.alias("x")
              .join(F.broadcast(codebooks.alias("cb")),
                    F.col("x.m") == F.col("cb.m"))
              .select("vec_id", F.col("x.m").alias("m"),
                      F.col("cb.code").alias("code"),
                      _l2sq_u("x.sv", "cb.cv", sub).alias("d2u")))
    # argmin(d2u, tie → smallest code) == lexicographic struct min
    best = F.min(F.struct("d2u", "code")).alias("b")
    return (scored.groupBy("vec_id", "m").agg(best)
            .select("vec_id", "m", F.col("b.code").alias("code")))


def _pq_adc_rank(codes: DataFrame, codebooks: DataFrame,
                 queries: DataFrame, k: int, m_total: int,
                 sub: int) -> DataFrame:
    """ADC top-k from stored codes: per-query distance TABLE against
    the codebooks (|q|·m_total·ksub rows — broadcast), then one
    lookup-join against the codes and an exact integer sum per
    (query, vector). The corpus vectors are never read."""
    qexp = (queries
            .select("qid",
                    F.explode(F.sequence(
                        F.lit(0), F.lit(m_total - 1))).alias("m"),
                    "v")
            .select("qid", "m",
                    F.expr(f"slice(v, m*{sub}+1, {sub})").alias("qsv")))
    table = (qexp.alias("q")
             .join(F.broadcast(codebooks.alias("cb")),
                   F.col("q.m") == F.col("cb.m"))
             .select("qid", F.col("q.m").alias("m"), "code",
                     _l2sq_u("q.qsv", "cb.cv", sub).alias("d2u")))
    scored = (codes.alias("c")
              .join(F.broadcast(table.alias("t")),
                    (F.col("c.m") == F.col("t.m"))
                    & (F.col("c.code") == F.col("t.code")))
              .where(F.col("t.qid") != F.col("c.vec_id"))
              .groupBy("qid", "vec_id")
              .agg(F.sum("d2u").alias("adist_u")))
    w = Window.partitionBy("qid").orderBy("adist_u", "vec_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def pq_topk(df: DataFrame, queries: DataFrame, k: int = 10,
            dim: int = 64, m_total: int = 8, ksub: int = 8,
            train_mod: int = 7) -> DataFrame:
    """PQ/ADC approximate top-k by squared-L2 (on normalized vectors
    this ranks like cosine): codebooks → codes → ADC, end to end.
    Output: (qid, vec_id, adist_u, rank), self-matches excluded."""
    sub = dim // m_total
    cb = pq_codebooks(df, dim, m_total, ksub, train_mod)
    codes = pq_encode(df, cb, m_total, sub)
    return _pq_adc_rank(codes, cb, queries, k, m_total, sub)


def _pq_refine(cands: DataFrame, corpus: DataFrame, queries: DataFrame,
               k: int, dim: int) -> DataFrame:
    """Exact squared-L2 re-rank of an ADC candidate pool (FAISS-style
    refine): the candidate list (|queries|·pool rows) broadcasts
    against ONE corpus scan, so true vectors are read for candidates
    only and nothing larger than the pool ever shuffles."""
    d2u = _l2sq_u("q.v", "c.v", dim)
    scored = (corpus.alias("c")
              .join(F.broadcast(cands.select("qid", "vec_id")), "vec_id")
              .join(F.broadcast(queries.alias("q")), "qid")
              .select("qid", "vec_id", d2u.alias("d2u")))
    w = Window.partitionBy("qid").orderBy("d2u", "vec_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def pq_topk_refined(df: DataFrame, queries: DataFrame, k: int = 10,
                    pool: int = 100, dim: int = 64, m_total: int = 16,
                    ksub: int = 32, train_mod: int = 3) -> DataFrame:
    """PQ/ADC candidate generation + exact re-rank — the production
    PQ serving pipeline (ADC scans codes only; the true vectors are
    touched for the ``pool`` candidates per query, then exact
    squared-L2 picks the final k). The pool is FIXED as the corpus
    grows, so at 100 TB the refine cost per query is constant while
    the ADC scan stays ~dim/2× lighter than a float scan.
    Output: (qid, vec_id, d2u, rank) with exact integer-µunit d2u."""
    cands = pq_topk(df, queries, pool, dim, m_total, ksub, train_mod)
    return _pq_refine(cands, _vectors(df), queries, k, dim)


def _km_corpus(df: DataFrame, dim: int) -> DataFrame:
    """(vec_id, vu) corpus in integer µunits: vu[j] = floor(v[j]·1e6
    + 0.5) — every distance downstream is pure bigint arithmetic,
    order-independent and bit-identical across engines."""
    vu = F.transform(F.col("v"),
                     lambda x: F.floor(x * 1_000_000.0 + 0.5)
                     .cast("bigint"))
    d = _vectors(df)
    if dim is not None:
        d = d.where(F.size("v") == dim)
    return d.select("vec_id", vu.alias("vu"))


def _km_assign(corpus: DataFrame, cents: DataFrame,
               dim: int) -> DataFrame:
    """(vec_id, vu, d2, cid) nearest-centroid assignment — EXACT
    integer µunit squared L2, ties to the lowest cid.

    Map-only Arrow kernel (r9, the _kbest_pick_udf discipline): each
    batch computes d2 = |vu|² + |cu|² − 2·vu@cu against the collected
    centroid matrix in int64 — numpy integer matmul is exact, so d2
    is bit-identical to the old unrolled Column expression (unit
    µunit vectors keep every term ≤ ~1.7e14, five decades inside
    int64) — and argmins on the cid-sorted matrix (first minimum =
    lowest cid, the documented tie rule). No broadcast-join
    expansion, no argmin exchange: each vector stays on its
    partition. The centroid side is the |cells|×(dim+1) driver list
    the Lloyd loop already materializes every round."""
    import numpy as np

    rows = sorted((int(r[0]), list(r[1]))
                  for r in cents.select("cid", "cu").collect())
    cid = np.array([c for c, _ in rows], dtype=np.int64)
    CU = np.array([u for _, u in rows], dtype=np.int64)
    if len(cid):
        cu2 = np.einsum("ij,ij->i", CU, CU)
    chunk = max(1, 4_000_000 // max(1, len(cid)))

    def kern(batches):
        import pandas as _pd

        for pdf in batches:
            if len(pdf) == 0 or len(cid) == 0:
                continue
            VU = _stack(pdf["vu"].values, np.int64)
            vids = pdf["vec_id"].to_numpy()
            for i in range(0, len(VU), chunk):
                V = VU[i:i + chunk]
                d2 = (np.einsum("ij,ij->i", V, V)[:, None] + cu2
                      - 2 * (V @ CU.T))
                j = np.argmin(d2, axis=1)
                rr = np.arange(len(V))
                yield _pd.DataFrame({
                    "vec_id": vids[i:i + chunk],
                    "vu": list(V),
                    "d2": d2[rr, j],
                    "cid": cid[j]})

    return corpus.mapInPandas(
        kern, "vec_id long, vu array<bigint>, d2 long, cid long")


def _km_cell_stats(corpus: DataFrame, cent_rows, dim: int) -> DataFrame:
    """Per-cell sufficient statistics of the nearest-centroid
    assignment, long-form: (cid, j, s) with j = -2 → Σ d2 (µunit²
    inertia), j = -1 → count, j ∈ [0, dim) → per-dimension µunit sum.

    Same exact-int64 assignment as ``_km_assign`` (same centroid
    matrix prep, same argmin-on-cid-sorted-matrix tie rule), but the
    kernel folds each partition's statistics instead of emitting
    per-vector rows (the ``_pca_moments_frame`` partials shape): the
    shuffle carries ≤ |cells|·(dim+2) rows per partition instead of
    the corpus, and the dim separate ``sum(vu[j])`` expressions — a
    heavyweight analyze/codegen step that the Lloyd loop was paying
    PER ROUND — disappear from the plan. Integer partials are
    associative, so the combined stats are bit-identical to the old
    per-vector groupBy. ``cent_rows`` is the plain-Python
    [(cid, cu), ...] list the driver loop already holds — passing it
    directly skips the createDataFrame→re-collect round trip the
    DataFrame-taking kernel forced on every round."""
    import numpy as np

    rows = sorted((int(c), list(u)) for c, u in cent_rows)
    cid = np.array([c for c, _ in rows], dtype=np.int64)
    CU = np.array([u for _, u in rows], dtype=np.int64)
    if len(cid):
        cu2 = np.einsum("ij,ij->i", CU, CU)
    chunk = max(1, 4_000_000 // max(1, len(cid)))

    def kern(batches):
        import pandas as _pd

        cnt = np.zeros(len(cid), dtype=np.int64)
        inu = np.zeros(len(cid), dtype=np.int64)
        S = np.zeros((len(cid), dim), dtype=np.int64)
        seen = False
        for pdf in batches:
            if len(pdf) == 0 or len(cid) == 0:
                continue
            VU = _stack(pdf["vu"].values, np.int64)
            for i in range(0, len(VU), chunk):
                V = VU[i:i + chunk]
                d2 = (np.einsum("ij,ij->i", V, V)[:, None] + cu2
                      - 2 * (V @ CU.T))
                j = np.argmin(d2, axis=1)
                rr = np.arange(len(V))
                np.add.at(cnt, j, 1)
                np.add.at(inu, j, d2[rr, j])
                np.add.at(S, j, V)
                seen = True
        if not seen:
            return
        nz = np.flatnonzero(cnt)
        d = np.arange(dim)
        yield _pd.DataFrame({
            "cid": np.concatenate([np.repeat(cid[nz], dim),
                                   cid[nz], cid[nz]]),
            "j": np.concatenate([np.tile(d, len(nz)),
                                 np.full(len(nz), -1),
                                 np.full(len(nz), -2)]),
            "s": np.concatenate([S[nz].ravel(), cnt[nz], inu[nz]]),
        })

    return (corpus.select("vu").mapInPandas(kern, "cid long, j int, s long")
            .groupBy("cid", "j").agg(F.sum("s").alias("s")))


def _km_collect_cell_stats(corpus: DataFrame, cent_rows,
                           dim: int) -> dict:
    """Collect ``_km_cell_stats`` into {cid: (cnt, inertia_u,
    [per-dim sums])} — the |cells|·(dim+2)-row driver table every
    Lloyd round materializes anyway."""
    cells: dict[int, list] = {}
    for r in _km_cell_stats(corpus, cent_rows, dim).collect():
        e = cells.setdefault(int(r.cid), [0, 0, [0] * dim])
        j = int(r.j)
        if j == -1:
            e[0] = int(r.s)
        elif j == -2:
            e[1] = int(r.s)
        else:
            e[2][j] = int(r.s)
    return {c: (cnt, inu, s) for c, (cnt, inu, s) in cells.items()}


def kmeans_refine(df: DataFrame, centroid_mod: int = 40,
                  n_iters: int = 3, dim: int = 64) -> DataFrame:
    """Unrolled Lloyd k-means refinement of the deterministic modulo
    seed centroids — the oracle-checkable counterpart of the MLlib
    ``kmeans_centroids`` path (MLlib's init is engine-private, so its
    exact centroids can never cross-check; this loop can).

    Per iteration: assign every vector to its nearest centroid (exact
    integer-µunit squared L2, ties to the lowest cid), report the
    convergence row, then recompute each non-empty cell's centroid as
    the per-dimension rounded mean (floor(sum/cnt + 0.5) on the exact
    double quotient — identical IEEE ops in both engines). Empty
    cells drop out and stay out.

    Output: (it, n_cells, max_cell, inertia_u) — one row per
    iteration; inertia_u is the summed µunit² assignment distance,
    THE Lloyd monotone. Bigint headroom: unit vectors give d2 ≤
    dim·(1.16e6)² ≈ 8.6e13, so ~1e5 corpus rows fit; beyond that
    report per-vector mean inertia instead.

    Scale: the iteration loop is driver-coordinated exactly like a
    production distributed Lloyd (and like ``bpe_merge_train``): each
    round is ONE corpus-scale job — broadcast-join assignment, two
    nested map-side-combinable aggregations — and the driver only
    ever materializes the |cells|×(dim+2) sufficient-statistics
    table to derive the next centroids. The corpus is re-scanned per
    round; at 100 TB you would cache/checkpoint the µunit projection
    once and reuse it across rounds.
    """
    out, _, _ = _km_loop(df, centroid_mod, n_iters, dim)
    return (df.sparkSession.createDataFrame(
        out, "it int, n_cells bigint, max_cell bigint, inertia_u bigint")
        .orderBy("it"))


def _km_loop(df: DataFrame, centroid_mod: int, n_iters: int,
             dim: int):
    """The shared driver-coordinated Lloyd walk: returns (per-round
    stats rows, final µunit centroid list, final-round sufficient
    statistics {cid: (cnt, [per-dim µunit sums])}) — the update AFTER
    the last round included, so the returned centroids are
    ``n_iters`` FULL Lloyd rounds from the modulo seed and are
    exactly the rounded means of the returned statistics."""
    import math

    corpus = _km_corpus(df, dim)
    cents = sorted(
        (int(r.vec_id), [int(x) for x in r.vu])
        for r in corpus.where(F.col("vec_id") % centroid_mod == 0)
        .collect())
    out = []
    stats = {}
    for it in range(1, n_iters + 1):
        # one long-form cell-stats job per round (_km_cell_stats):
        # bit-identical to the old per-vector _km_assign + dim-wide
        # groupBy, without re-analyzing dim sum expressions or
        # round-tripping the centroid list through createDataFrame
        cell = _km_collect_cell_stats(corpus, cents, dim)
        out.append((it, len(cell),
                    max(cnt for cnt, _, _ in cell.values()),
                    sum(inu for _, inu, _ in cell.values())))
        stats = {c: (cnt, s) for c, (cnt, _, s) in cell.items()}
        cents = sorted(
            (c, [int(math.floor(s[j] / cnt + 0.5)) for j in range(dim)])
            for c, (cnt, _, s) in cell.items())
    return out, cents, stats


def lloyd_centroids(df: DataFrame, centroid_mod: int = 40,
                    n_iters: int = 3, dim: int = 64) -> DataFrame:
    """(cid, cv, cnrm) centroids after ``n_iters`` full Lloyd rounds
    from the modulo seed — the oracle-checkable quantizer upgrade:
    ``_ivf_centroids(method='kmeans')`` rides MLlib's engine-private
    init, while this walk is bit-reproducible in any engine (cv is
    the exact double µunit/1e6, so downstream cosine roundings match
    too). Drop-in for every consumer of the (cid, cv, cnrm) contract:
    inline IVF probes, the persisted ANN index, SemDeDup cells."""
    _, cents, _ = _km_loop(df, centroid_mod, n_iters, dim)
    cdf = df.sparkSession.createDataFrame(
        [(c, [x / 1_000_000.0 for x in v]) for c, v in cents],
        "cid bigint, cv array<double>")
    return cdf.select("cid", "cv", l2_norm(F.col("cv")).alias("cnrm"))


def lloyd_update(df: DataFrame, batch_mod: int = 2,
                 centroid_mod: int = 40, n_iters: int = 3,
                 dim: int = 64) -> DataFrame:
    """Mini-batch centroid maintenance — the drift answer to
    ``append_ann_index``'s "no refit, monitor drift" contract: run
    the Lloyd walk on the BASE slice (vec_id % batch_mod == 0), then
    fold the NEW slice's sufficient statistics into the cells
    WITHOUT re-running the walk — one assignment pass over the batch
    (new centroid = rounded mean of base+batch µunit sums, exact
    integers both engines; empty-for-the-batch cells keep their
    centroid, shift 0).

    Output: (cid, n_base, n_new, shift_u) — one row per cell;
    shift_u = Σ_j |merged_cu[j] − walk_cu[j]| (integer L1 drift in
    µunits) is the rebuild trigger: alert when it approaches the
    typical inter-centroid distance.

    Scale: the batch pays ONE broadcast assignment + one combinable
    stats aggregate (the streaming-sink shape); the driver merges
    two |cells|×(dim+1) tables. Nothing about the base corpus is
    re-read at update time when stats come from a store.
    """
    import math

    spark = df.sparkSession
    base = df.where(F.col("vec_id") % batch_mod == 0)
    newb = df.where(F.col("vec_id") % batch_mod != 0)
    _, cents, stats = _km_loop(base, centroid_mod, n_iters, dim)
    # same long-form cell-stats kernel as the walk rounds (the
    # inertia rows are simply unused here); bit-identical to the old
    # per-vector assignment + dim-wide groupBy
    bstat = {c: (cnt, s) for c, (cnt, _, s) in
             _km_collect_cell_stats(_km_corpus(newb, dim), cents,
                                    dim).items()}
    out = []
    for cid, cu in cents:
        n_base, s_base = stats[cid]
        n_new, s_new = bstat.get(cid, (0, [0] * dim))
        merged = [int(math.floor((s_base[j] + s_new[j])
                                 / (n_base + n_new) + 0.5))
                  for j in range(dim)]
        out.append((cid, n_base, n_new,
                    sum(abs(merged[j] - cu[j]) for j in range(dim))))
    return (spark.createDataFrame(
        out, "cid bigint, n_base bigint, n_new bigint, shift_u bigint")
        .orderBy("cid"))


def label_centroids(df: DataFrame, label_col: str = "label",
                    vec_col: str = "embedding") -> DataFrame:
    """Per-class embedding centroids — elementwise mean vector of every
    label (nearest-class-mean classification, cluster health checks,
    IVF/PQ codebook seeding).

    Scale: posexplode expands to (label, pos, component) — a dim× row
    expansion, but the average is map-side combinable on (label, pos),
    so the shuffle carries one partial (sum, count) per (label, pos)
    per input partition, NOT the expanded rows. The centroid array is
    rebuilt with a per-label sort over dim elements. No driver-side
    math, no collect.
    """
    e = df.select(F.col(label_col).alias("label"),
                  F.posexplode(vec_col).alias("pos", "v"))
    agg = e.groupBy("label", "pos").agg(F.avg("v").alias("c"))
    return (agg.groupBy("label")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"]).alias("centroid")))


def int8_quantize(df: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Scalar int8 quantization of an embedding column: per-vector
    max-abs scale, components mapped into [-127, 127] — the standard
    4× memory cut for an ANN corpus (recall impact pinned by test).

    Engine-portable determinism: q = FLOOR(x·127/maxabs). FLOOR, not
    round-half-anything — Spark truncates double→int casts while DuckDB
    rounds them, so an explicit FLOOR is the only mapping both engines
    agree on bit-for-bit (float→double widening is exact, and IEEE
    double ops are identical given identical expression shape).

    Scale: pure per-row column math, map-only — no shuffle, no UDF.
    The transform/array_max lambdas are interpreted, but over dim
    elements once per row at WRITE time; the read path consumes the
    int8 codes.
    """
    v = as_double_array(F.col(vec_col))
    # max(|x|) = max(max(x), -min(x)) — array_max/array_min are native
    # (codegen'd), vs an interpreted per-element abs() transform
    maxabs = F.greatest(F.array_max(v), -F.array_min(v))
    q = F.when(maxabs == 0, F.transform(v, lambda x: F.lit(0))) \
        .otherwise(F.transform(
            v, lambda x: F.floor(x * F.lit(127.0) / maxabs).cast("int")))
    return df.select(
        F.col(id_col),
        F.round(maxabs / F.lit(127.0), 8).alias("scale"),
        q.alias("q8"))


def dequantize(df: DataFrame, q_col: str = "q8",
               scale_col: str = "scale") -> DataFrame:
    """Inverse of int8_quantize (modulo quantization error): component
    ≈ q·scale. Used by the recall tests to bound the accuracy cost."""
    return df.withColumn(
        "v", F.transform(F.col(q_col),
                         lambda x: x.cast("double") * F.col(scale_col)))


# ------------------------------------------------------------------ MMR

#: λ = 0.7 in tenths — MMR score = 7·rel_u − 3·max_sim_u, kept integer
#: so selection order is bit-identical across engines.
MMR_LAMBDA_NUM = 7
MMR_CAND = 25
MMR_K = 10


def mmr_rerank(df: DataFrame, queries: DataFrame, k: int = MMR_K,
               n_cand: int = MMR_CAND,
               lambda_tenths: int = MMR_LAMBDA_NUM) -> DataFrame:
    """Maximal Marginal Relevance diversified rerank (Carbonell &
    Goldstein, SIGIR 1998) — the standard RAG retrieval step that
    trades relevance against redundancy:

        pick argmax  λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)

    Stage 1 (distributed, column expressions): exact top-n_cand
    candidates per query + the candidate-candidate cosine matrix, all
    in integer 0.1-milli units (4dp-rounded cosines ×10⁴ — the proven
    x07 grain). Stage 2 (inherently sequential greedy): an
    applyInPandas kernel per query over ≤ n_cand + n_cand² tiny rows —
    integer arithmetic only, ties broken by vec_id, so the selection
    replays exactly in the unrolled-CTE oracle.

    Scale: the corpus is touched only by the stage-1 candidate scan
    (broadcast queries, no corpus shuffle); the pairwise matrix and
    the Python kernel see candidate sets only. Output:
    (qid, rank, vec_id, rel_u, mmr_u).
    """
    import pandas as pd

    cands = brute_force_topk(df, queries, n_cand)
    cv = cands.select(
        "qid", "vec_id",
        F.round(F.col("cos") * 10000).cast("long").alias("rel_u"))
    vecs = _with_norm(_vectors(df))
    cvv = cv.join(vecs, "vec_id").select("qid", "vec_id", "v", "nrm")
    a, b = cvv.alias("a"), cvv.alias("b")
    sim = F.round(dot(F.col("a.v"), F.col("b.v"))
                  / (F.col("a.nrm") * F.col("b.nrm")), 4)
    pairs = (a.join(b, (F.col("a.qid") == F.col("b.qid"))
                    & (F.col("a.vec_id") < F.col("b.vec_id")))
             .select(F.col("a.qid").alias("qid"),
                     F.col("a.vec_id").alias("va"),
                     F.col("b.vec_id").alias("vb"),
                     F.round(sim * 10000).cast("long").alias("sim_u")))
    rel_rows = cv.select(
        "qid", F.col("vec_id").alias("va"),
        F.lit(None).cast("long").alias("vb"),
        F.col("rel_u").alias("sim_u"))
    g = pairs.unionByName(rel_rows)
    lam, lam2 = lambda_tenths, 10 - lambda_tenths

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        rel: dict[int, int] = {}
        sims: dict[tuple[int, int], int] = {}
        for r in pdf.itertuples(index=False):
            if pd.isna(r.vb):
                rel[int(r.va)] = int(r.sim_u)
            else:
                sims[(int(r.va), int(r.vb))] = int(r.sim_u)
        qid = int(pdf["qid"].iloc[0])

        def s(x: int, y: int) -> int:
            return sims.get((x, y), sims.get((y, x), 0))

        sel: list[int] = []
        out = []
        remaining = set(rel)
        while remaining and len(sel) < k:
            best = None
            for c in sorted(remaining):  # ascending ⇒ ties keep min id
                mx = max((s(c, x) for x in sel), default=0)
                sc = lam * rel[c] - lam2 * mx
                if best is None or sc > best[0]:
                    best = (sc, c)
            sel.append(best[1])
            remaining.discard(best[1])
            out.append((qid, len(sel), best[1], rel[best[1]], best[0]))
        return pd.DataFrame(
            out, columns=["qid", "rank", "vec_id", "rel_u", "mmr_u"])

    return (g.groupBy("qid").applyInPandas(
        kernel, "qid long, rank int, vec_id long, rel_u long, mmr_u long"))


def knn_label_prop(df: DataFrame, k: int = 5, centroid_mod: int = 40,
                   n_probe: int = 2, n_assign: int = 1,
                   method: str = "modulo",
                   centroid_k: int | None = None,
                   label_col: str = "label") -> DataFrame:
    """k-NN majority-vote label propagation with leave-one-out
    evaluation — the label-quality / annotation-transfer check over
    an embedding space (propagate labels from neighbors, score
    against each vector's own label; knn_graph already excludes
    self, so the evaluation is leave-one-out by construction).

    Winner per vector: most neighbor votes, ties to the smallest
    label (deterministic both engines). Vectors with no graph
    neighbors (singleton cells) do not participate — the honest
    bucketed contract.

    Output: (label, n, n_correct, acc_bp) per true label, ordered.

    Scale: the vote frame is <= n·k rows; the winner window runs
    over <= k rows per vector (bounded frame, reduce-before-window);
    the summary is one combinable aggregate on label."""
    per = _knn_label_pred(df, k, centroid_mod, n_probe, n_assign,
                          method, centroid_k, label_col)
    return (per.groupBy(F.col("own").alias("label"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum((F.col("pred") == F.col("own")).cast("long"))
                 .alias("n_correct"))
            .select("label", "n", "n_correct",
                    F.expr("10000 * n_correct div n").cast("long")
                    .alias("acc_bp"))
            .orderBy("label"))


def knn_outliers(df: DataFrame, k: int = 5, centroid_mod: int = 40,
                 n_probe: int = 2, n_assign: int = 1,
                 method: str = "modulo",
                 centroid_k: int | None = None,
                 bottom: int = 25,
                 graph: DataFrame | None = None) -> DataFrame:
    """Embedding-space outlier report — the ``bottom`` vectors whose
    mean top-k neighbor cosine is LOWEST (isolated points: noise,
    mislabeled data, or genuinely novel content — the triage list a
    curation run reviews before sampling). Vectors with no graph
    neighbors rank first with the -10000 sentinel.

    cos is the 4dp-rounded double; it is re-quantized to integer
    basis points BEFORE summation so the per-vector sum is
    order-independent (a double sum's value depends on reduction
    order). The mean is floor-on-double (negative-safe, identical
    IEEE quotient both engines).

    Output: (vec_id, n_nbrs, mean_cos_bp), ``bottom`` rows ascending.

    Scale: one combinable aggregate over the n·k edge frame, a
    broadcast-size left join back to ids, and a TakeOrdered —
    no window, no full sort.

    ``graph``: a precomputed ``knn_graph`` edge frame, as for
    ``mutual_knn``; one without ``KNN_GRAPH_COLS`` raises
    ``ValueError``."""
    g = _given_graph(graph) if graph is not None else knn_graph(
        df, k, centroid_mod, n_probe, n_assign, method, centroid_k)
    cb = g.select("qid",
                  F.round(F.col("cos") * 10000).cast("long")
                  .alias("cb"))
    per = (cb.groupBy("qid")
           .agg(F.count(F.lit(1)).alias("n_nbrs"),
                F.sum("cb").alias("sc")))
    base = _vectors(df).select("vec_id")
    out = (base.join(per.withColumnRenamed("qid", "vec_id"),
                     "vec_id", "left")
           .select(
               "vec_id",
               F.coalesce("n_nbrs", F.lit(0)).cast("long")
               .alias("n_nbrs"),
               F.coalesce(
                   F.floor(F.col("sc").cast("double")
                           / F.col("n_nbrs")),
                   F.lit(-10000)).cast("long").alias("mean_cos_bp")))
    return (out.orderBy(F.col("mean_cos_bp").asc(), F.col("vec_id"))
            .limit(bottom))


def pca_power(df: DataFrame, n_iters: int = 4, dim: int = 64,
              bin_w: int = 200_000_000_000) -> DataFrame:
    """Top principal component by unrolled power iteration + the
    corpus's projection histogram onto it — the variance-structure
    probe run before whitening / dimensionality reduction (a corpus
    whose first component explains most variance embeds redundantly;
    the histogram also feeds 1-d stratified sampling along the
    dominant semantic axis).

    Engine-exact like the Lloyd walk (``_km_loop``): vectors are
    µunit integers; the scaled covariance C = n·S − s·sᵀ (S = Gram
    matrix, s = column sums) is EXACT integer arithmetic; each of
    the ``n_iters`` unrolled rounds multiplies C·v in arbitrary-
    precision integers (Python here, HUGEINT in the DuckDB oracle)
    and renormalizes to max-norm 1e6 with sign-safe truncating
    division (DuckDB ``//`` truncates toward zero on negatives while
    Python floors — sign·(abs//norm) is identical in both). The
    projection n·(xu·v) − s·v stays in int64 (≤ ~4e16 at the gate
    corpus; double-exact below 2^53 for the final floor-binning;
    int64 overflow at n ≳ 9e6 rows — scale units down or shard the
    Gram pass beyond that).

    Output: (bin, n) histogram of floor(centered_proj / bin_w),
    ordered by bin.

    Scale: the Gram pass is the one corpus-scale job — a map-only
    Arrow kernel computing per-partition XᵀX partials in exact int64
    (``_pca_moments``), reduced by a combinable d²-cell sum (d² =
    4096 cells; no exchange ever carries more than partitions·d²
    partial rows). The iteration itself is driver-side O(d²·iters)
    on a d×d integer table — exactly the sufficient-statistics shape
    the Lloyd walk materializes. The projection is one
    broadcast-literal zip_with pass; the histogram is a combinable
    count."""
    corpus = _km_corpus(df, dim)
    sj, S, n = _pca_moments(corpus, dim)
    v, _ = _pca_walk(sj, S, n, dim, n_iters)
    sv = sum(sj[j] * v[j] for j in range(dim))
    vcol = F.array(*[F.lit(int(x)).cast("bigint") for x in v])
    raw = (corpus.withColumn("vv", vcol)
           .select("vec_id", F.expr(
               "aggregate(zip_with(vu, vv, (a, b) -> a * b), "
               "CAST(0 AS BIGINT), (acc, x) -> acc + x)").alias("r")))
    cen = F.col("r") * n - F.lit(sv)
    b = F.floor(cen.cast("double")
                / F.lit(float(n) * float(bin_w))).cast("long")
    return (raw.select(b.alias("bin"))
            .groupBy("bin").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("bin"))


def _pca_moments(corpus: DataFrame, dim: int):
    """Collect the exact integer first/second moments (s_j, S_jk, n)
    — the d + d² sufficient statistics of the covariance; the ONE
    corpus-scale job behind the PCA family (see ``pca_power``).

    Map-only Arrow kernel (r11, the ``_km_assign`` discipline): each
    partition computes its XᵀX partial, column sums, and row count in
    exact int64 numpy (integer matmul, no BLAS, bit-exact), emitting
    d² + d + 1 partial rows; a combinable groupBy sums them and ONE
    d²-row collect lands the statistics on the driver. The previous
    shape — posexplode to n·d rows, then a self equi-join on vec_id
    producing n·d² rows through a shuffle before the groupBy reduced
    them — was correct but pushed n·d² rows through an exchange;
    this pass moves n·d values once and shuffles only
    partitions·(d²+d+1) partial rows. Same int64 headroom as before:
    |Σ x_j·x_k| ≤ n·1e12 (µunit entries), overflow at n ≳ 9e6 rows
    exactly as ``pca_power`` documents."""
    rows = _pca_moments_frame(corpus, dim).collect()
    sj, S, n = {}, {}, 0
    for r in rows:
        j, k = int(r.j), int(r.k)
        if j == -2:
            n = int(r.s)
        elif k == -1:
            sj[j] = int(r.s)
        else:
            S[(j, k)] = int(r.s)
    return sj, S, n


def _pca_moments_frame(corpus: DataFrame, dim: int) -> DataFrame:
    """The (j, k, s) sufficient-statistics frame behind
    ``_pca_moments``, pre-collect — split out so the plan-shape test
    can pin that the Gram pass stays map-only (one MapInPandas, one
    combinable groupBy, NO join)."""

    def partials(batches):
        import numpy as _np
        import pandas as _pd

        G = _np.zeros((dim, dim), dtype=_np.int64)
        s = _np.zeros(dim, dtype=_np.int64)
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            X = _stack(pdf["vu"], _np.int64)
            G += X.T @ X
            s += X.sum(axis=0, dtype=_np.int64)
            n += len(pdf)
        if not n:
            return
        d = _np.arange(dim)
        yield _pd.DataFrame({
            "j": _np.concatenate([_np.repeat(d, dim), d, [-2]]),
            "k": _np.concatenate([_np.tile(d, dim),
                                  _np.full(dim, -1), [-2]]),
            "s": _np.concatenate([G.ravel(), s, [n]]),
        })

    return (corpus.select("vu")
            .mapInPandas(partials, "j int, k int, s long")
            .groupBy("j", "k").agg(F.sum("s").alias("s")))


def _pca_cov(sj, S, n: int, dim: int):
    """The exact scaled covariance C = n·S − s·sᵀ as a dense dict."""
    return {(j, k): n * S[(j, k)] - sj[j] * sj[k]
            for j in range(dim) for k in range(dim)}


def _trunc_div(p: int, d: int) -> int:
    """Truncate-toward-zero integer division — DuckDB's ``//``
    semantics (Python's ``//`` floors, which differs on negatives)."""
    return -((-p) // d) if p < 0 else p // d


def _power_walk(C, dim: int, n_iters: int):
    """The exact-integer power-iteration rounds shared by the PCA
    family: returns (final max-norm-1e6 vector, per-round Rayleigh
    quotients λ_t = vᵀCv // vᵀv). Index-perturbed start (1e6 + j)
    so a top component exactly orthogonal to the all-ones vector
    still gets a nonzero seed projection; the oracle uses the same
    0-based perturbation."""
    v = [1_000_000 + j for j in range(dim)]
    lams = []
    for _ in range(n_iters):
        mv = [sum(C[(j, k)] * v[k] for k in range(dim))
              for j in range(dim)]
        num = sum(v[j] * mv[j] for j in range(dim))
        den = sum(v[j] * v[j] for j in range(dim))
        lams.append(num // den)
        norm = max(abs(x) for x in mv)
        if norm == 0:
            break
        v = [(1 if x >= 0 else -1) * ((abs(x) * 1_000_000) // norm)
             for x in mv]
    return v, lams


def _pca_walk(sj, S, n: int, dim: int, n_iters: int):
    return _power_walk(_pca_cov(sj, S, n, dim), dim, n_iters)


def pca_convergence(df: DataFrame, n_iters: int = 4,
                    dim: int = 64) -> DataFrame:
    """Per-round Rayleigh quotient ladder of the ``pca_power`` walk —
    the eigen-walk's convergence diagnostic, exactly as x145's
    inertia rows are the Lloyd walk's: λ_t = v_{t-1}ᵀ C v_{t-1} //
    v_{t-1}ᵀ v_{t-1} (exact nonneg integer division — C is PSD so
    the quotient is the nonneg variance estimate, monotone
    non-decreasing up to renormalization rounding). A flat ladder
    says the walk has converged; rising says spend more rounds.

    Output: (it, lam_u) — λ in n·µ² units (divide by n·1e12 for the
    variance along the component).

    Scale: the same d + d² sufficient statistics as ``pca_power``
    (one corpus job); the ladder itself is driver-side O(d²·iters)."""
    corpus = _km_corpus(df, dim)
    sj, S, n = _pca_moments(corpus, dim)
    _, lams = _pca_walk(sj, S, n, dim, n_iters)
    return (df.sparkSession.createDataFrame(
        [(t + 1, int(l)) for t, l in enumerate(lams)],
        "it int, lam_u bigint").orderBy("it"))


def pca_corpus_map(df: DataFrame, n_iters: int = 4, dim: int = 64,
                   bin_w: int = 200_000_000_000) -> DataFrame:
    """2-D semantic corpus map: the projection GRID onto the top two
    principal components — the at-a-glance density picture of the
    embedding space (cluster structure, outlier shelves, mixture
    imbalance) that an interactive curation UI renders as a heatmap.

    Component 1 is ``pca_power``'s walk. Component 2 is the same walk
    on the DEFLATED covariance C₂ = C − (Cv₁)(Cv₁)ᵀ/(v₁ᵀCv₁),
    carried exactly: the rank-1 term is computed in scaled integers
    (mv // 1e10 products over num // 1e20, truncate-toward-zero like
    DuckDB ``//``) so both engines subtract the identical matrix —
    the deflation is approximate ONLY in that shared deterministic
    rounding, never engine-divergent.

    Output: (bin1, bin2, n) — floor-binned centered projections,
    ordered. Same headroom notes as ``pca_power``.

    Scale: the corpus-scale work is unchanged (ONE moment job + ONE
    projection pass computing both coordinates); the deflation and
    second walk are driver-side O(d²)."""
    corpus = _km_corpus(df, dim)
    sj, S, n = _pca_moments(corpus, dim)
    C = _pca_cov(sj, S, n, dim)
    v1, _ = _power_walk(C, dim, n_iters)
    mvf = [sum(C[(j, k)] * v1[k] for k in range(dim))
           for j in range(dim)]
    num = sum(v1[j] * mvf[j] for j in range(dim))
    if num <= 0:
        raise ValueError("degenerate corpus: zero variance along v1")
    mvs = [_trunc_div(x, 10**10) for x in mvf]
    nums = num // 10**20
    if nums <= 0:
        raise ValueError("variance too small for the deflation scale")
    C2 = {(j, k): C[(j, k)] - _trunc_div(mvs[j] * mvs[k], nums)
          for j in range(dim) for k in range(dim)}
    v2, _ = _power_walk(C2, dim, n_iters)
    sv1 = sum(sj[j] * v1[j] for j in range(dim))
    sv2 = sum(sj[j] * v2[j] for j in range(dim))
    a1 = F.array(*[F.lit(int(x)).cast("bigint") for x in v1])
    a2 = F.array(*[F.lit(int(x)).cast("bigint") for x in v2])
    raw = (corpus.withColumn("w1", a1).withColumn("w2", a2)
           .select(
               "vec_id",
               F.expr("aggregate(zip_with(vu, w1, (a, b) -> a * b), "
                      "CAST(0 AS BIGINT), (acc, x) -> acc + x)")
               .alias("r1"),
               F.expr("aggregate(zip_with(vu, w2, (a, b) -> a * b), "
                      "CAST(0 AS BIGINT), (acc, x) -> acc + x)")
               .alias("r2")))
    den = F.lit(float(n) * float(bin_w))
    b1 = F.floor((F.col("r1") * n - F.lit(sv1)).cast("double") / den)
    b2 = F.floor((F.col("r2") * n - F.lit(sv2)).cast("double") / den)
    return (raw.select(b1.cast("long").alias("bin1"),
                       b2.cast("long").alias("bin2"))
            .groupBy("bin1", "bin2")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("bin1", "bin2"))


def _knn_label_pred(df: DataFrame, k: int = 5, centroid_mod: int = 40,
                    n_probe: int = 2, n_assign: int = 1,
                    method: str = "modulo",
                    centroid_k: int | None = None,
                    label_col: str = "label") -> DataFrame:
    """(qid, pred, own) per participating vector — the shared
    majority-vote core of ``knn_label_prop`` (accuracy summary) and
    ``knn_label_confusion`` (full confusion matrix)."""
    g = knn_graph(df, k, centroid_mod, n_probe, n_assign, method,
                  centroid_k)
    lbl = df.select("vec_id",
                    F.col(label_col).cast("long").alias("lbl"))
    votes = (g.join(lbl, "vec_id")
             .groupBy("qid", "lbl")
             .agg(F.count(F.lit(1)).alias("votes")))
    w = Window.partitionBy("qid").orderBy(
        F.col("votes").desc(), F.col("lbl").asc())
    pred = (votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("qid", F.col("lbl").alias("pred")))
    own = lbl.select(F.col("vec_id").alias("qid"),
                     F.col("lbl").alias("own"))
    return pred.join(own, "qid")


def knn_label_confusion(df: DataFrame, k: int = 5,
                        centroid_mod: int = 40, n_probe: int = 2,
                        n_assign: int = 1, method: str = "modulo",
                        centroid_k: int | None = None,
                        label_col: str = "label") -> DataFrame:
    """Leave-one-out CONFUSION MATRIX of the kNN majority vote —
    which classes bleed into which semantic neighborhoods (x163
    reports only the diagonal's per-class accuracy; label-taxonomy
    cleanup wants the off-diagonal mass: systematically confused
    pairs are merge/relabel candidates).

    Output: (label, pred, n) for every observed (true, predicted)
    pair, ordered.

    Scale: the x163 chain unchanged plus one combinable (own, pred)
    count."""
    per = _knn_label_pred(df, k, centroid_mod, n_probe, n_assign,
                          method, centroid_k, label_col)
    return (per.groupBy(F.col("own").alias("label"),
                        F.col("pred"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("label", "pred"))


# --- Rocchio nearest-class-centroid classifier -------------------------

def rocchio_confusion(df: DataFrame, train_mod: int = 3,
                      label_col: str = "label") -> DataFrame:
    """Rocchio / nearest-class-mean classifier with a held-out
    confusion matrix — the third embedding classifier next to kNN
    voting (knn_label_prop) and NB-over-tokens: train = vec_id %
    train_mod != 0, test = the rest; each test vector is assigned
    the class whose TRAINING centroid maximizes the inner product.

    Exact cross-engine arithmetic: components are integer µunits
    (floor(x·1e6 + 0.5)), the per-class centroid is the sign-safe
    truncating division of the per-dimension µunit SUM by the class
    count (DuckDB ``//`` truncates toward zero on negatives — the
    Spark side mirrors with sign·(abs div n)), and the score is the
    pure bigint dot product (|score| <= dim·1e12 — bigint-safe).
    Ties break to the smallest class label.

    Output: (true_label, pred_label, n) — the held-out confusion
    matrix, ordered; diagonal mass / total = accuracy.

    Scale: centroid fitting is a map-side-combinable (label, pos)
    sum — the shuffle carries |labels|·dim partials, never vectors;
    the |labels|-row centroid table broadcasts to the test side, so
    scoring is a map-only cross of each test vector with L arrays.
    No window over the corpus; the argmax is a combinable
    max(struct) per test vector."""
    vu = F.transform(as_double_array(F.col("embedding")),
                     lambda x: F.floor(x * 1_000_000.0 + 0.5)
                     .cast("bigint"))
    xu = df.select("vec_id", F.col(label_col).alias("label"),
                   vu.alias("u"))
    tr = xu.where(F.col("vec_id") % train_mod != 0)
    te = xu.where(F.col("vec_id") % train_mod == 0)
    sums = (tr.select("label", F.posexplode("u").alias("pos", "v"))
            .groupBy("label", "pos")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")))
    cv = F.when(F.col("s") >= 0, F.expr("s div n")) \
        .otherwise(-F.expr("(-s) div n"))
    cent = (sums.select("label", "pos", cv.cast("bigint").alias("c"))
            .groupBy(F.col("label").alias("cand"))
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda st: st["c"]).alias("cu")))
    scored = (te.crossJoin(F.broadcast(cent))
              .select("vec_id", F.col("label").alias("true_label"),
                      "cand",
                      F.aggregate(
                          F.zip_with(F.col("u"), F.col("cu"),
                                     lambda a, b: a * b),
                          F.lit(0).cast("bigint"),
                          lambda acc, x: acc + x).alias("score")))
    best = (scored.groupBy("vec_id", "true_label")
            .agg(F.max(F.struct(F.col("score"), (-F.col("cand"))
                                .alias("neg"), F.col("cand")))
                 .alias("b"))
            .select("true_label", F.col("b.cand").alias("pred_label")))
    return (best.groupBy("true_label", "pred_label")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("true_label", "pred_label"))


# --------------------------------------------------------------- graph
# Whole-graph analytics over the mutual k-NN structure (x150): the
# "which vectors matter / how clumpy is the space" views a semantic
# graph supports once it exists — PageRank centrality, triangle
# closure, and the degree profile. All arithmetic is exact-integer so
# the DuckDB twins hash-match (the x145/x167 unrolled-walk
# discipline); graphs without coordinates exist in the reference only
# as ES Graph explore (query.py graph_explore covers that API).


def pagerank_mutual(df: DataFrame, iters: int = 3,
                    damp_bp: int = 8500, top_k: int = 50,
                    k: int = 5, centroid_mod: int = 40,
                    n_probe: int = 2, n_assign: int = 1,
                    method: str = "modulo",
                    centroid_k: int | None = None) -> DataFrame:
    """PageRank over the mutual k-NN graph — the centrality pass that
    surfaces the corpus's semantic hubs (e.g. pick the most-connected
    exemplar per topic, or weight curation toward central documents).

    Integer µunit walk, unrolled ``iters`` rounds: every mutual-edge
    vertex starts at pr = 1e6; each round pushes ``pr div deg`` along
    every directed edge and sets pr' = teleport + damp·Σin div 10000
    with teleport = (10000−damp_bp)·1e6 div 10000. All divisions are
    nonnegative truncating div — identical in both engines, so the
    walk is hash-checkable (the x145 Lloyd discipline). Isolated
    vertices (no mutual edge) have no rank — documented, matches the
    oracle.

    Output: (vec_id, deg, pr, rank) — top_k by (pr DESC, vec_id).

    Scale: the edge frame (≤ n·k rows) is persisted once and reused
    by all rounds; each round is one equi-join on the sender id plus
    a combinable sum per receiver — no corpus access after the graph
    build, no window anywhere until the final rank over ≤ top_k rows.
    """
    mu = mutual_knn(df, k, centroid_mod, n_probe, n_assign, method,
                    centroid_k).select("a", "b")
    return pagerank_from_edges(mu, iters, damp_bp, top_k)


def _local_result(df: DataFrame, *cached: DataFrame) -> DataFrame:
    """Materialize a BOUNDED result frame (top-k / 1-row graph
    rollups), release the persisted walk inputs, and hand back a
    driver-local copy — the edge/vertex cache lives exactly as long
    as the walk (the dedup.py try/finally discipline) instead of
    accumulating executor memory across repeated calls, while callers
    still receive an ordinary DataFrame."""
    try:
        rows = df.collect()
    finally:
        for c in cached:
            c.unpersist()
    return df.sparkSession.createDataFrame(rows, df.schema)


def _gated_edge_rows(mu: DataFrame, max_edges: int | None
                     ) -> tuple[DataFrame, list | None]:
    """The graph-walk driver gate (r12) — the ``dedup._cc_labels``
    hybrid discipline applied to the fixed-iteration walk tails:
    mutual-kNN edge lists are k-pruned (≤ n·k/2 rows, two longs
    each), and below the heap-derived gate a driver pass beats one
    shuffle-joined round per iteration by an order of magnitude; the
    distributed branch stays for larger graphs (and is pinned equal
    by test). Returns ``(persisted_mu, rows-or-None)``: rows when the
    edge count fits the gate (``mu`` already unpersisted), else None
    (caller owns the persisted frame — pass it to _local_result)."""
    from kafana_spark.operators.dedup import _derived_cc_gate

    if max_edges is None:
        max_edges = _derived_cc_gate(mu.sparkSession)
    mu = mu.persist()
    if mu.count() <= max_edges:
        try:
            return mu, [(r["a"], r["b"]) for r in mu.collect()]
        finally:
            mu.unpersist()
    return mu, None


def _directed_degrees(edge_pairs: list) -> tuple[list, dict]:
    """Directed edge list (both orientations) + per-vertex degree for
    a canonical a<b pair list — the walk tails' shared driver shape."""
    directed: list = []
    for a, b in edge_pairs:
        directed.append((a, b))
        directed.append((b, a))
    deg: dict = {}
    for a, _ in directed:
        deg[a] = deg.get(a, 0) + 1
    return directed, deg


def _pagerank_local(spark, edge_pairs: list, iters: int, damp_bp: int,
                    top_k: int) -> DataFrame:
    """Driver replay of the pagerank_from_edges walk — identical
    integer arithmetic (pr div deg contributions, damp_bp·s div 10000
    update, teleport constant), identical (pr DESC, vec_id) ranking."""
    directed, deg = _directed_degrees(edge_pairs)
    teleport = (10000 - damp_bp) * 1_000_000 // 10000
    pr = {v: 1_000_000 for v in deg}
    for _ in range(iters):
        s: dict = {}
        for a, b in directed:
            s[b] = s.get(b, 0) + pr[a] // deg[a]
        pr = {v: teleport + damp_bp * s.get(v, 0) // 10000
              for v in deg}
    top = sorted(pr.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
    return spark.createDataFrame(
        [(v, deg[v], p, i + 1) for i, (v, p) in enumerate(top)],
        "vec_id long, deg long, pr long, rank int")


def _ppr_local(spark, edge_pairs: list, seed_mod: int, iters: int,
               damp_bp: int, top_k: int) -> DataFrame:
    """Driver replay of the ppr_from_edges walk (seed-only teleport
    mass; otherwise the pagerank arithmetic)."""
    directed, deg = _directed_degrees(edge_pairs)
    teleport = (10000 - damp_bp) * 1_000_000 // 10000
    seed = {v: v % seed_mod == 0 for v in deg}
    pr = {v: 1_000_000 if seed[v] else 0 for v in deg}
    for _ in range(iters):
        s: dict = {}
        for a, b in directed:
            s[b] = s.get(b, 0) + pr[a] // deg[a]
        pr = {v: (teleport if seed[v] else 0)
              + damp_bp * s.get(v, 0) // 10000 for v in deg}
    top = sorted(pr.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
    return spark.createDataFrame(
        [(v, deg[v], seed[v], p, i + 1) for i, (v, p) in enumerate(top)],
        "vec_id long, deg long, is_seed boolean, pr long, rank int")


def _link_prediction_local(spark, edge_pairs: list,
                           top_k: int) -> DataFrame:
    """Driver replay of link_prediction_from_edges: common-neighbour
    enumeration per middle vertex, existing (canonical) edges
    excluded, ra_u = Σ 1000000 div deg(m), ranked (ra_u DESC,
    n_common DESC, a, b)."""
    eset = set(edge_pairs)
    nbrs: dict = {}
    for a, b in edge_pairs:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    acc: dict = {}
    for m, us in nbrs.items():
        w = 1_000_000 // len(us)
        us = sorted(us)
        for i in range(len(us)):
            for j in range(i + 1, len(us)):
                p = (us[i], us[j])
                if p in eset:
                    continue
                e = acc.setdefault(p, [0, 0])
                e[0] += 1
                e[1] += w
    ranked = sorted(acc.items(),
                    key=lambda kv: (-kv[1][1], -kv[1][0], kv[0]))[:top_k]
    return spark.createDataFrame(
        [(a, b, nc, ra, i + 1)
         for i, ((a, b), (nc, ra)) in enumerate(ranked)],
        "a long, b long, n_common long, ra_u long, rank int")


def _modularity_local(spark, edge_pairs: list,
                      asg_rows: list) -> DataFrame:
    """Driver replay of modularity_from_assignment's rollup: inner-join
    semantics on the assignment (edges with an unassigned endpoint
    drop from e_c/d_c but still count in m), the identical
    (10000.0 · (4m·Σe_c − Σd_c²)) / ((4.0·m)·m) double expression,
    floor, and the integer intra_bp div."""
    import math

    cid = dict(asg_rows)
    m = len(edge_pairs)
    ec: dict = {}
    dc: dict = {}
    for a, b in edge_pairs:
        ca, cb = cid.get(a), cid.get(b)
        if ca is not None and cb is not None and ca == cb:
            ec[ca] = ec.get(ca, 0) + 1
        if ca is not None:
            dc[ca] = dc.get(ca, 0) + 1
        if cb is not None:
            dc[cb] = dc.get(cb, 0) + 1
    n_cells = len(dc)
    if n_cells == 0 or m == 0:
        sum_ec = sum(ec.get(c, 0) for c in dc) if n_cells else None
        row = (n_cells, m,
               sum_ec * 10000 // m if (sum_ec is not None and m) else None,
               None)
        return spark.createDataFrame(
            [row], "n_cells long, m_edges long, intra_bp long, "
                   "q_bp long")
    sum_ec = sum(ec.get(c, 0) for c in dc)
    sum_dc2 = sum(d * d for d in dc.values())
    q_bp = math.floor(10000.0 * float(4 * m * sum_ec - sum_dc2)
                      / ((4.0 * m) * m))
    return spark.createDataFrame(
        [(n_cells, m, sum_ec * 10000 // m, q_bp)],
        "n_cells long, m_edges long, intra_bp long, q_bp long")


def _triangles_local(spark, edge_pairs: list) -> DataFrame:
    """Driver replay of triangles_from_edges: canonical-wedge closure
    census with the identical integer div expressions."""
    eset = set(edge_pairs)
    _, deg = _directed_degrees(edge_pairs)
    n_vertices = len(deg)
    n_edges = len(edge_pairs)
    n_wedges = (sum(d * (d - 1) // 2 for d in deg.values())
                if deg else None)
    # wedge (a<b, b<c) closed by (a, c) — both constituent edges
    # canonical, matching the e2.a == e1.b join
    fwd: dict = {}
    for a, b in edge_pairs:
        fwd.setdefault(a, []).append(b)
    n_triangles = 0
    for a, b in edge_pairs:
        for c in fwd.get(b, ()):
            if (a, c) in eset:
                n_triangles += 1
    cc = (3 * n_triangles * 10000 // n_wedges
          if n_wedges and n_wedges > 0 else 0)
    return spark.createDataFrame(
        [(n_vertices, n_edges, n_wedges, n_triangles, cc)],
        "n_vertices long, n_edges long, n_wedges long, "
        "n_triangles long, global_cc_bp long")


def pagerank_from_edges(mu: DataFrame, iters: int = 3,
                        damp_bp: int = 8500, top_k: int = 50,
                        driver_walk_max_edges: int | None = None
                        ) -> DataFrame:
    """The PageRank walk over a canonical a<b mutual-edge frame —
    shared tail, also directly usable on any undirected edge list.
    Hybrid (r12): edge lists under the heap-derived driver gate run
    the identical integer walk on the driver (``_pagerank_local``,
    pinned equal by test); larger graphs take the one-shuffle-per-
    round distributed walk below."""
    mu, rows = _gated_edge_rows(mu, driver_walk_max_edges)
    if rows is not None:
        return _pagerank_local(mu.sparkSession, rows, iters, damp_bp,
                               top_k)
    edges = (mu.unionByName(mu.select(F.col("b").alias("a"),
                                      F.col("a").alias("b"))))
    # partitioned by the per-round join key, so the cached edge
    # blocks satisfy the join's distribution directly (zero
    # edge-side exchanges across all rounds)
    edges = edges.repartition("a").persist()
    deg = edges.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    verts = deg.select(F.col("a").alias("vec_id"), "deg").persist()
    teleport = (10000 - damp_bp) * 1_000_000 // 10000
    pr = verts.withColumn("pr", F.lit(1_000_000).cast("long"))
    zero = verts.select("vec_id", "deg",
                        F.lit(None).cast("long").alias("c"))
    for _ in range(iters):
        # One shuffle per round (r12): the old shape joined the sums
        # BACK to verts with a per-round left join just to give
        # contribution-less vertices their teleport row; unioning a
        # zero-contribution row per vertex into the SAME combinable
        # aggregation computes the identical integer result —
        # sum(c) over {nulls} is null → coalesce 0, max(deg) picks
        # the vertex row's degree — with one fewer join per round.
        contrib = (edges.join(pr.select(F.col("vec_id").alias("a"),
                                        "deg", "pr"), "a")
                   .select(F.col("b").alias("vec_id"),
                           F.lit(None).cast("long").alias("deg"),
                           F.expr("pr div deg").alias("c")))
        pr = (contrib.unionByName(zero)
              .groupBy("vec_id")
              .agg(F.max("deg").alias("deg"), F.sum("c").alias("s"))
              .select("vec_id", "deg",
                      (F.lit(teleport)
                       + F.expr(f"{damp_bp} * coalesce(s, 0) "
                                "div 10000"))
                      .cast("long").alias("pr")))
    top = pr.orderBy(F.desc("pr"), "vec_id").limit(top_k)
    w = Window.orderBy(F.desc("pr"), "vec_id")
    out = (top.withColumn("rank", F.row_number().over(w).cast("int"))
           .select("vec_id", "deg", "pr", "rank"))
    return _local_result(out, edges, verts, mu)


def graph_triangles(df: DataFrame, k: int = 5,
                    centroid_mod: int = 40, n_probe: int = 2,
                    n_assign: int = 1, method: str = "modulo",
                    centroid_k: int | None = None) -> DataFrame:
    """Global triangle census of the mutual k-NN graph — the
    clumpiness check (high closure = tight topical clusters, low =
    hub-and-spoke sprawl) run before trusting cluster-based dedup or
    diversity sampling.

    Output: ONE row (n_vertices, n_edges, n_wedges, n_triangles,
    global_cc_bp) where n_wedges = Σ deg·(deg−1)/2 and global_cc_bp =
    3·triangles·10000 div wedges (0 when wedge-free).

    Scale: the canonical a<b edge list is ≤ n·k/2 rows with degree
    bounded by k, so the wedge self-join fans out ≤ deg per edge and
    the closing-edge check is an equi-join back on the (lo, hi) pair
    — never corpus², never a window.
    """
    mu = (mutual_knn(df, k, centroid_mod, n_probe, n_assign, method,
                     centroid_k)
          .select("a", "b"))
    return triangles_from_edges(mu)


def triangles_from_edges(mu: DataFrame,
                         driver_walk_max_edges: int | None = None
                         ) -> DataFrame:
    """The triangle census over a canonical a<b edge frame.
    Hybrid driver gate (r12) — see pagerank_from_edges."""
    mu, rows = _gated_edge_rows(mu, driver_walk_max_edges)
    if rows is not None:
        return _triangles_local(mu.sparkSession, rows)
    edges = mu.unionByName(mu.select(F.col("b").alias("a"),
                                     F.col("a").alias("b")))
    deg = edges.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    base = (mu.agg(F.count(F.lit(1)).alias("n_edges"))
            .crossJoin(F.broadcast(
                deg.agg(F.count(F.lit(1)).alias("n_vertices"),
                        F.sum(F.expr("deg * (deg - 1) div 2"))
                        .alias("n_wedges")))))
    # wedges a<b<c via two canonical edges sharing the middle vertex
    wedges = (mu.alias("e1")
              .join(mu.alias("e2"), F.col("e2.a") == F.col("e1.b"))
              .select(F.col("e1.a").alias("wa"),
                      F.col("e2.b").alias("wc")))
    tri = (wedges
           .join(mu.alias("e3"), (F.col("wa") == F.col("e3.a"))
                 & (F.col("wc") == F.col("e3.b")))
           .agg(F.count(F.lit(1)).alias("n_triangles")))
    out = (base.crossJoin(F.broadcast(tri))
           .select("n_vertices", "n_edges", "n_wedges", "n_triangles",
                   F.when(F.col("n_wedges") > 0,
                          F.expr("3 * n_triangles * 10000 "
                                 "div n_wedges"))
                   .otherwise(F.lit(0)).cast("long")
                   .alias("global_cc_bp")))
    return _local_result(out, mu)


def degree_histogram(df: DataFrame, k: int = 5,
                     centroid_mod: int = 40, n_probe: int = 2,
                     n_assign: int = 1, method: str = "modulo",
                     centroid_k: int | None = None) -> DataFrame:
    """Degree distribution of the mutual k-NN graph (degree ≤ k by
    construction): how many vertices kept d mutual neighbours, with
    the vertex share per bucket — the hub/orphan profile that decides
    whether the graph is usable for clustering at all.

    Output: (deg, n_vertices, share_bp) ordered by deg; vertices with
    zero mutual edges are not graph members (the x150 contract).

    Scale: a combinable count over the ≤ n·k edge frame, then a
    window over the ≤ k histogram rows.
    """
    mu = mutual_knn(df, k, centroid_mod, n_probe, n_assign, method,
                    centroid_k).select("a", "b")
    return degree_histogram_from_edges(mu)


def degree_histogram_from_edges(mu: DataFrame) -> DataFrame:
    """The degree histogram over a canonical a<b edge frame."""
    edges = mu.unionByName(mu.select(F.col("b").alias("a"),
                                     F.col("a").alias("b")))
    deg = edges.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    hist = deg.groupBy("deg").agg(F.count(F.lit(1)).alias("n_vertices"))
    wt = Window.partitionBy()
    return (hist.withColumn("tot", F.sum("n_vertices").over(wt))
            .select("deg", "n_vertices",
                    F.expr("n_vertices * 10000 div tot")
                    .alias("share_bp"))
            .orderBy("deg"))


def cell_modularity(df: DataFrame, k: int = 5,
                    centroid_mod: int = 40, n_probe: int = 2,
                    n_assign: int = 1, method: str = "modulo",
                    centroid_k: int | None = None) -> DataFrame:
    """Newman modularity of the IVF cell partition measured against
    the mutual k-NN graph — the quantizer-quality diagnostic: cells
    that respect neighborhood structure (high Q) give high IVF
    recall per probe; cells that cut through neighborhoods (low Q)
    force multi-probe. Q = Σ_c [e_c/m − (d_c/2m)²] over cells, with
    e_c = intra-cell edges, d_c = summed member degrees, m = total
    edges. Exact-integer numerators: q_bp = floor(10000·(4m·Σe_c −
    Σd_c²)/(4m²)) on the identical double in both engines (x166
    floor-on-double discipline; can be negative).

    Output: ONE row (n_cells, m_edges, intra_bp, q_bp) where
    intra_bp = Σe_c·10000 div m and n_cells counts cells holding at
    least one edge endpoint.

    Scale: assignment is the broadcast argmax pass (corpus-linear);
    edge labeling is two equi-joins of the ≤ n·k/2 edge list to the
    assignment; everything else is a 1-row aggregate.
    """
    corpus = _with_norm(_vectors(df))
    centroids = _ivf_centroids(df, corpus, method, centroid_mod,
                               centroid_k=centroid_k)
    cc = _collect_cents(centroids)   # one centroid job for both legs
    asg = (_ivf_assign(corpus, cc, 1)
           .select("vec_id", "cid"))
    mu = mutual_knn(df, k, centroid_mod, n_probe, n_assign, method,
                    centroid_k).select("a", "b")

    # r13 (verdict #7): on the driver branch the modularity rollup
    # needs cell ids for EDGE ENDPOINTS only, but the argmax kernel is
    # opaque — the endpoint semi-join cannot push below it, so the
    # full-corpus assignment ran just to be filtered. Assigning the
    # semi-joined corpus computes cids for <= 2*edges vectors instead
    # (identical values: the pick is a pure per-vector function). The
    # distributed branch still consumes the full `asg`.
    def _asg_of_ids(ids):
        return (_ivf_assign(corpus.join(F.broadcast(ids), "vec_id",
                                        "left_semi"), cc, 1)
                .select("vec_id", "cid"))

    return modularity_from_assignment(mu, asg, asg_of_ids=_asg_of_ids)


def modularity_from_assignment(mu: DataFrame, asg: DataFrame,
                               driver_walk_max_edges: int | None = None,
                               asg_of_ids=None) -> DataFrame:
    """The modularity rollup over a canonical a<b edge frame and a
    (vec_id, cid) partition assignment — shared testable tail.
    Hybrid driver gate (r12) — see pagerank_from_edges; the driver
    branch reads the assignment ONLY for edge endpoints (≤ 2·edges
    rows via a broadcast semi-join — the corpus-sized assignment
    never moves to the driver).

    ``asg_of_ids`` (r13, optional): ids-frame → (vec_id, cid) builder
    that computes the assignment for ONLY those ids. The default
    filters the full ``asg`` frame, which cannot push the filter
    below an opaque assignment kernel — callers whose assignment is a
    pure per-vector function pass a builder so the kernel runs over
    endpoints, not the corpus. Must agree with ``asg`` on every id
    (same deterministic function); the distributed branch always
    uses ``asg``."""
    mu, rows = _gated_edge_rows(mu, driver_walk_max_edges)
    if rows is not None:
        spark = mu.sparkSession
        endpoints = sorted({v for e in rows for v in e})
        asg_rows = []
        if endpoints:
            ids = spark.createDataFrame([(v,) for v in endpoints],
                                        "vec_id long")
            src = (asg_of_ids(ids) if asg_of_ids is not None
                   else asg.join(F.broadcast(ids), "vec_id"))
            asg_rows = [(r["vec_id"], r["cid"]) for r in
                        src.select("vec_id", "cid").collect()]
        return _modularity_local(spark, rows, asg_rows)
    lab = (mu.join(asg.select(F.col("vec_id").alias("a"),
                              F.col("cid").alias("ca")), "a")
           .join(asg.select(F.col("vec_id").alias("b"),
                            F.col("cid").alias("cb")), "b"))
    ec = (lab.where(F.col("ca") == F.col("cb"))
          .groupBy(F.col("ca").alias("cid"))
          .agg(F.count(F.lit(1)).alias("e_c")))
    edges = mu.unionByName(mu.select(F.col("b").alias("a"),
                                     F.col("a").alias("b")))
    dc = (edges.join(asg.select(F.col("vec_id").alias("a"), "cid"),
                     "a")
          .groupBy("cid").agg(F.count(F.lit(1)).alias("d_c")))
    stats = (dc.join(ec, "cid", "left")
             .select("cid", F.coalesce("e_c", F.lit(0)).alias("e_c"),
                     "d_c"))
    agg = stats.agg(F.count(F.lit(1)).alias("n_cells"),
                    F.sum("e_c").alias("sum_ec"),
                    F.sum(F.col("d_c") * F.col("d_c")).alias("sum_dc2"))
    m = mu.agg(F.count(F.lit(1)).alias("m_edges"))
    q = F.floor(F.lit(10000.0)
                * (4 * F.col("m_edges") * F.col("sum_ec")
                   - F.col("sum_dc2")).cast("double")
                / (4.0 * F.col("m_edges") * F.col("m_edges")))
    out = (agg.crossJoin(F.broadcast(m))
           .select("n_cells", "m_edges",
                   F.expr("sum_ec * 10000 div m_edges")
                   .alias("intra_bp"),
                   q.cast("long").alias("q_bp")))
    return _local_result(out, mu)


def personalized_pagerank(df: DataFrame, seed_mod: int = 50,
                          iters: int = 3, damp_bp: int = 8500,
                          top_k: int = 50, k: int = 5,
                          centroid_mod: int = 40, n_probe: int = 2,
                          n_assign: int = 1, method: str = "modulo",
                          centroid_k: int | None = None) -> DataFrame:
    """Personalized PageRank: random walk with restart toward a SEED
    set (vec_id % seed_mod == 0 among graph vertices) — the
    similarity-expansion primitive ("more like these") that rides
    the same mutual k-NN graph as x212. Seeds start at 1e6 µunits and
    keep the whole teleport mass; non-seeds accumulate only walked-in
    relevance, so the ranking is proximity-to-the-seed-set.

    Output: (vec_id, deg, is_seed, pr, rank) — top_k by (pr DESC,
    vec_id). Same integer discipline as pagerank_mutual.
    """
    mu = mutual_knn(df, k, centroid_mod, n_probe, n_assign, method,
                    centroid_k).select("a", "b")
    return ppr_from_edges(mu, seed_mod, iters, damp_bp, top_k)


def ppr_from_edges(mu: DataFrame, seed_mod: int = 50,
                   iters: int = 3, damp_bp: int = 8500,
                   top_k: int = 50,
                   driver_walk_max_edges: int | None = None
                   ) -> DataFrame:
    """The personalized-PageRank walk over a canonical a<b edge
    frame; seeds = graph vertices with vec_id % seed_mod == 0.
    Hybrid driver gate (r12) — see pagerank_from_edges."""
    mu, rows = _gated_edge_rows(mu, driver_walk_max_edges)
    if rows is not None:
        return _ppr_local(mu.sparkSession, rows, seed_mod, iters,
                          damp_bp, top_k)
    edges = (mu.unionByName(mu.select(F.col("b").alias("a"),
                                      F.col("a").alias("b"))))
    edges = edges.repartition("a").persist()
    deg = edges.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    verts = (deg.select(F.col("a").alias("vec_id"), "deg",
                        (F.col("a") % seed_mod == 0).alias("is_seed"))
             .persist())
    teleport = (10000 - damp_bp) * 1_000_000 // 10000
    tele = F.when(F.col("is_seed"), F.lit(teleport)).otherwise(F.lit(0))
    pr = verts.withColumn(
        "pr", F.when(F.col("is_seed"), F.lit(1_000_000))
        .otherwise(F.lit(0)).cast("long"))
    zero = verts.select("vec_id", "deg", "is_seed",
                        F.lit(None).cast("long").alias("c"))
    for _ in range(iters):
        # same one-shuffle round shape as pagerank_from_edges (r12):
        # zero-contribution vertex rows replace the per-round left
        # join; identical integer result by sum/coalesce semantics
        contrib = (edges.join(pr.select(F.col("vec_id").alias("a"),
                                        "deg", "pr"), "a")
                   .select(F.col("b").alias("vec_id"),
                           F.lit(None).cast("long").alias("deg"),
                           F.lit(None).cast("boolean").alias("is_seed"),
                           F.expr("pr div deg").alias("c")))
        pr = (contrib.unionByName(zero)
              .groupBy("vec_id")
              .agg(F.max("deg").alias("deg"),
                   F.max("is_seed").alias("is_seed"),
                   F.sum("c").alias("s"))
              .select("vec_id", "deg", "is_seed",
                      (tele + F.expr(f"{damp_bp} * coalesce(s, 0) "
                                     "div 10000"))
                      .cast("long").alias("pr")))
    top = pr.orderBy(F.desc("pr"), "vec_id").limit(top_k)
    w = Window.orderBy(F.desc("pr"), "vec_id")
    out = (top.withColumn("rank", F.row_number().over(w).cast("int"))
           .select("vec_id", "deg", "is_seed", "pr", "rank"))
    return _local_result(out, edges, verts, mu)


def link_prediction(df: DataFrame, top_k: int = 30, k: int = 5,
                    centroid_mod: int = 40, n_probe: int = 2,
                    n_assign: int = 1, method: str = "modulo",
                    centroid_k: int | None = None) -> DataFrame:
    """Link prediction over the mutual k-NN graph: the top candidate
    NON-edges ranked by the resource-allocation index (Zhou et al.
    2009) ra = sum over common neighbours m of 1/deg(m) — the
    "these two documents should be neighbours" recommender that
    surfaces pairs the k-NN cutoff just missed (dedup candidates,
    related-content suggestions).

    The RA weight is kept integer as 1000000 div deg(m) (deg >= 1 by
    graph membership), so scores are exact µunit sums — no ln, no
    doubles. Ties break by (n_common DESC, a, b).

    Output: (a, b, n_common, ra_u, rank) — top_k by (ra_u DESC,
    n_common DESC, a, b); a < b canonical.

    Scale: common-neighbour enumeration fans out per middle vertex m
    as deg(m)^2 <= k^2 pairs over the directed-edge frame (never
    corpus^2); existing edges drop via an anti-join on the canonical
    pair; the rank window runs over the post-TakeOrdered <= top_k
    rows.
    """
    mu = mutual_knn(df, k, centroid_mod, n_probe, n_assign, method,
                    centroid_k).select("a", "b")
    return link_prediction_from_edges(mu, top_k)


def link_prediction_from_edges(mu: DataFrame, top_k: int = 30,
                               driver_walk_max_edges: int | None = None
                               ) -> DataFrame:
    """The link-prediction tail over a canonical a<b edge frame.
    Hybrid driver gate (r12) — see pagerank_from_edges."""
    mu, rows = _gated_edge_rows(mu, driver_walk_max_edges)
    if rows is not None:
        return _link_prediction_local(mu.sparkSession, rows, top_k)
    edges = mu.unionByName(mu.select(F.col("b").alias("a"),
                                     F.col("a").alias("b")))
    deg = edges.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    nb = edges.select(F.col("a").alias("m"), F.col("b").alias("u"))
    pairs = (nb.alias("e1")
             .join(nb.alias("e2"),
                   (F.col("e1.m") == F.col("e2.m"))
                   & (F.col("e1.u") < F.col("e2.u")))
             .select(F.col("e1.u").alias("pa"),
                     F.col("e2.u").alias("pb"),
                     F.col("e1.m").alias("m")))
    open_pairs = pairs.join(
        mu, (pairs["pa"] == mu["a"]) & (pairs["pb"] == mu["b"]),
        "left_anti")
    scored = (open_pairs
              .join(deg.select(F.col("a").alias("m"),
                               F.col("deg").alias("dm")), "m")
              .groupBy("pa", "pb")
              .agg(F.count(F.lit(1)).alias("n_common"),
                   F.sum(F.expr("1000000 div dm")).alias("ra_u")))
    top = (scored.orderBy(F.desc("ra_u"), F.desc("n_common"),
                          "pa", "pb")
           .limit(top_k))
    w = Window.orderBy(F.desc("ra_u"), F.desc("n_common"), "pa", "pb")
    out = (top.withColumn("rank", F.row_number().over(w).cast("int"))
           .select(F.col("pa").alias("a"), F.col("pb").alias("b"),
                   "n_common", "ra_u", "rank"))
    return _local_result(out, mu)


def _vectors_labeled(df: DataFrame) -> DataFrame:
    return df.select("vec_id",
                     as_double_array(F.col("embedding")).alias("v"),
                     "label")


def filtered_topk(df: DataFrame, queries: DataFrame, k: int = 10,
                  labels: tuple[int, ...] = (0,)) -> DataFrame:
    """ES ``knn`` with ``filter`` — PRE-filter semantics
    (kafana delegates search to ES, whose knn filter restricts the
    candidate set BEFORE the top-k): every query gets k results drawn
    from the eligible subset. The naive alternative — rank unfiltered,
    then filter — silently returns fewer than k rows whenever
    high-cosine ineligible vectors crowd the pool, which is the
    classic filtered-ANN correctness trap.

    This is the exact baseline (scan = |eligible| per query); the
    scale path is filtered_ivf_topk. Output: (qid, vec_id, cos, rank).
    """
    corpus = (_with_norm(_vectors_labeled(df))
              .where(F.col("label").isin(*labels)))
    q = _with_norm(queries)
    cos = F.round(dot(F.col("q.v"), F.col("c.v"))
                  / (F.col("q.nrm") * F.col("c.nrm")), 4)
    scored = (corpus.alias("c")
              .join(F.broadcast(q.alias("q")),
                    F.col("q.qid") != F.col("c.vec_id"))
              .select(F.col("q.qid").alias("qid"),
                      F.col("c.vec_id").alias("vec_id"),
                      cos.alias("cos")))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(),
                                          F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def filtered_ivf_topk(df: DataFrame, queries: DataFrame, k: int = 10,
                      centroid_mod: int = 40, n_probe: int = 6,
                      labels: tuple[int, ...] = (0,),
                      n_assign: int = 1, method: str = "modulo",
                      centroid_k: int | None = None) -> DataFrame:
    """Filtered IVF: ONE label-blind index serves every filter.

    The quantizer and the cell assignment are built over the full
    corpus (indexes are shared across requests — rebuilding per
    filter would defeat the point); the label predicate is applied to
    cell MEMBERS at probe time, and the caller over-probes (n_probe
    above the unfiltered operating point) to restore the candidate
    pool the filter thins out: with selectivity s, a probed cell
    contributes ~s× the members, so probes scale by ~1/s to keep the
    pool size — still O(n·probes/cells) per query, never a full scan.

    Quantizer knob (the x149/x68 story): the default modulo seeding
    makes n/centroid_mod cells, so the ASSIGNMENT pass is n²/mod —
    ``method='fixed'`` + ``centroid_k`` ≈ √n pins the cell count and
    keeps both legs at n^1.5 (ladder-demonstrated, BASELINE.md §sf1).
    """
    corpus = _with_norm(_vectors_labeled(df))
    ct = _collect_cents(_ivf_centroids(df, corpus, method,
                                       centroid_mod,
                                       centroid_k=centroid_k))
    assigned = _ivf_assign(corpus, ct, n_assign, extra=("label",))
    eligible = assigned.where(F.col("label").isin(*labels)) \
        .drop("label")
    return _ivf_probe_rank(eligible, ct, queries, k, n_probe,
                           dedup=n_assign > 1)
