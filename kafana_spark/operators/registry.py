"""Registry of extension-operator queries (SURVEY.md §2.E) exposed to the
driver's correctness harness via __spark_entry__.queries()/oracle_sql().

Every Spark plan here has a DuckDB oracle generated from the SAME
constants (MinHash coefficients, thresholds, marker word lists), so the
two sides compute the identical deterministic algorithm. The only
rows-only entry (no oracle) is the one genuinely non-SQL-expressible
op: sequence packing (x29 — per-partition greedy state, output depends
on Spark partitioning). Everything else — including the full IVF ANN
pipeline (x08, r2), PQ/ADC+refine (x59, r4) and rolling-hash CDC
chunking (x13 — full oracle since r4 via set-wise window hashes + a
jump-pointer recursive CTE) — hash-matches a DuckDB twin.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafana_spark.operators import (
    asof, dedup, events as ev_ops, multimodal, relational, similarity,
    text,
)
from kafana_spark.operators.dedup import (
    MINHASH_BANDS, MINHASH_COEFFS, MINHASH_P, MINHASH_ROWS, SIMHASH_BITS,
    SIMHASH_CHUNKS, SIMHASH_MAX_HAMMING,
)
from kafana_spark.session import tune_session
from kafana_spark.sources.tables import load_table

NEAR_DUP_THRESHOLD = 0.5
EMB_DUP_THRESHOLD = 0.45
EMB_BUCKET_CELL_MOD = 40   # x68 coarse-quantizer sampling modulus
#: x68 multi-assignment width. On the synthetic near-random embeddings
#: the modulo quantizer's cells are loose, so boundary duplication is
#: the recall lever that matters: measured recall vs the exhaustive
#: x06 kernel at sf0.01 is 0.14/0.57/0.86/1.00 for n_assign=1/2/3/4
#: (zero false positives throughout — pairs only ever go missing, as
#: bucketing guarantees). 4 keeps assignment storage 4× and verify
#: still cell-local; production k-means cells would need less.
EMB_BUCKET_N_ASSIGN = 4
ANN_QUERY_MOD = 100
ANN_K = 10
ANN_CENTROID_MOD = 40
ANN_N_PROBE = 3
ANN_N_ASSIGN = 2
#: x280–x282 filtered kNN (ES knn `filter`): labels 0–2 keep ~30% of
#: the corpus; the filtered IVF over-probes 2× (6 cells vs x08's 3)
#: to restore the candidate pool the filter thins out.
FILTER_LABELS = (0, 1, 2)
FILTERED_N_PROBE = 6
#: x81 hyperplane-LSH shape. On the near-random synthetic embeddings
#: (weak true-neighbor cosines — the hardest case for sign LSH) the
#: measured recall@10 vs exact x07 at sf0.01 is pinned in
#: tests/test_similarity.py; 6 tables × 4 bits keeps the candidate
#: fraction well under the corpus while the union of tables recovers
#: boundary neighbors (same lever as IVF's n_assign).
LSH_N_TABLES = 6
LSH_N_BITS = 4
LSH_ANCHOR_MOD = 10
EMB_DIM = 64

#: x145 Lloyd refinement: seed = vec_id % KM_MOD == 0, KM_ITERS
#: unrolled rounds (both engines walk the identical centroid path).
KM_MOD = 40
KM_ITERS = 3

#: x149/x150 k-NN graph: directed degree cap, probes per vector.
KNN_K = 5
KNN_N_PROBE = 2
KNN_N_ASSIGN = 1
#: x149–x153/x161 coarse-quantizer cell count — FIXED (method='fixed',
#: hash-sampled seeds), not n/mod: at 100× corpus growth the cell
#: count stays a caller-chosen knob (raise it like k ≈ √n) instead of
#: silently scaling the assignment pass to n²/mod. 20 ≈ √500 at the
#: sf0.01 gate corpus.
KNN_CELLS = 20
#: x151 cluster edge floor: mutual edges below this cosine are cut.
KNN_CLUSTER_MIN_COS = 0.0
#: x153 cluster labeling: clusters described, terms per cluster,
#: in-cluster doc-frequency floor.
CLTERM_TOP = 5
CLTERM_K = 5
CLTERM_MIN_DF = 2
#: x155 sequence-length histogram bin width (tokens).
LEN_BIN_W = 20
#: x156 mini-batch Lloyd: base slice = vec_id % mod == 0, rest is
#: the arriving batch.
LLOYD_BATCH_MOD = 2
#: x158 language-fair gate: keep docs at or above this within-lang
#: quality percentile (bp).
LANG_FAIR_KEEP_BP = 5000
#: x162 Gopher-rule gate thresholds — calibrated so EVERY rule has
#: real failures on the synthetic corpus (sf0.01 ranges: n_words
#: 10–99, mwl_x10 37–53, n_stop 0–2, dup2_bp 0–2666).
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 1000
GOPHER_MIN_MWL = 40
GOPHER_MAX_MWL = 100
GOPHER_MIN_STOP = 2
GOPHER_MAX_DUP2_BP = 1500
#: x164 NB calibration bin width (µunits; sf0.01 scores span ~0.9M–6.4M).
NB_CAL_BIN_W_U = 500_000
#: x165 gate-agreement NB operating point (µunits; pred>=0 passes
#: everything at the gate SFs, so kappa needs a real cut).
NB_KAPPA_CUT_U = 5_000_000
#: x166 outlier report size.
OUTLIER_K = 25
#: x167 PCA power iteration: unrolled rounds, projection bin width.
PCA_ITERS = 4
PCA_BIN_W = 200_000_000_000
#: x160 skew advisor: assumed shuffle width and keys reported.
SKEW_PARTS = 32
SKEW_K = 10


def _docs(spark, sf_dir):
    tune_session(spark)
    return load_table(spark, sf_dir, "documents")


def _embs(spark, sf_dir):
    tune_session(spark)
    return load_table(spark, sf_dir, "embeddings")


def _spread(df):
    """Guide §2: restore executor-wide parallelism before a HEAVY
    narrow stage. The local testdata tables are single-row-group
    parquet files, which Spark cannot split, so a query's whole
    pre-shuffle leg would otherwise run as ONE task regardless of
    cores. No-op whenever the scan already yields
    >= defaultParallelism partitions (any real multi-file /
    multi-row-group table — the cluster case), so the spread is
    scale-adaptive, not a local[32] constant. Applied ONLY at sites
    whose narrow leg measurably dominates (r12 scan-spread A/B:
    x72 0.35x, x94 0.35x, x113 0.46x, x50 0.52x, x45 0.61x,
    x04 0.68x, x101 0.84x): a blanket spread REGRESSES
    shuffle-first queries (x01 1.8x, x186-family 1.6x) by adding a
    pointless full-frame exchange in front of their first groupBy."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism)


# ------------------------------------------------------------ Spark side

def x_dedup_keep_first(spark, sf_dir):
    return (dedup.exact_dedup(_docs(spark, sf_dir))
            .select("doc_id").orderBy("doc_id"))


def x_minhash_near_dup(spark, sf_dir):
    return (dedup.minhash_near_dup(_docs(spark, sf_dir), NEAR_DUP_THRESHOLD)
            .orderBy("da", "db"))


def x_ngram_jaccard_dup(spark, sf_dir):
    # _spread: the md5+explode index leg is heavy narrow work feeding
    # the h self-join — one task on the unsplittable local scan
    # without it (r13 A/B: 3.94 -> 1.40 s)
    return (dedup.ngram_jaccard_dup(_spread(_docs(spark, sf_dir)),
                                    NEAR_DUP_THRESHOLD)
            .orderBy("da", "db"))


def x_minhash_prod(spark, sf_dir):
    """x301 — the PRODUCTION-path twin of x02 (r12 verdict #3): the
    same MinHash+LSH pipeline keyed on ``hash_fn="xxhash64"`` — no md5
    string materialization per shingle row, so the signature exchange
    and every downstream equi-join hash 8-byte native longs (~2-3×
    cheaper per row, guide §4). xxhash64 is not DuckDB-replayable, so
    this key is rows-only by design (the declared-twin split: every
    ORACLE-checked key keeps md5, the cross-engine contract); parity
    of the two settings' output is pinned by
    test_minhash_hash_fn_knob_parity."""
    return (dedup.minhash_near_dup(_docs(spark, sf_dir),
                                   NEAR_DUP_THRESHOLD,
                                   hash_fn="xxhash64")
            .orderBy("da", "db"))


def x_simhash_fingerprints(spark, sf_dir):
    # _spread: heavy narrow per-doc hashing leg (r12 scan-spread A/B)
    return dedup.simhash(_spread(_docs(spark, sf_dir))).orderBy("doc_id")


def x_simhash_near_dup(spark, sf_dir):
    # _spread: r12 left this borderline (0.86x inside noise); the r13
    # min-of-5 quiet re-run confirms it (1.93 -> 1.66 s)
    return dedup.simhash_near_dup(_spread(_docs(spark, sf_dir))) \
        .orderBy("da", "db")


def x_embedding_near_dup(spark, sf_dir):
    # no orderBy: see x_rolling_chunks (double-exec of the BLAS stage).
    # This is the EXACT/verify kernel — all block pairs, O((n/block)²)
    # tasks; the scale default is x68 (cell-local verify below).
    return dedup.embedding_near_dup(_embs(spark, sf_dir), EMB_DUP_THRESHOLD)


def x_embedding_near_dup_bucketed(spark, sf_dir):
    """x68 — the DEFAULT embedding-dedup path (SemDeDup shape): IVF
    cell assignment buckets the corpus, the blocked-BLAS verify runs
    cell-locally only. Deterministic end-to-end, so the oracle replays
    assignment + in-cell pairing exactly; recall vs the exhaustive x06
    kernel is pinned by pytest."""
    return dedup.embedding_near_dup_bucketed(
        _embs(spark, sf_dir), EMB_DUP_THRESHOLD,
        centroid_mod=EMB_BUCKET_CELL_MOD, n_assign=EMB_BUCKET_N_ASSIGN)


def x_semantic_dedup(spark, sf_dir):
    """x73 — the SemDeDup CONSUMPTION chain: cluster assignment over
    the x68 cell-local pair graph + deterministic keep-one flag, for
    every corpus vector. Same oracle pattern as x24 (recursive
    reachability CTE); the returned plan is JVM-only (labels are
    materialized during the call), so the orderBy is safe."""
    return (dedup.embedding_dup_clusters(
        _embs(spark, sf_dir), EMB_DUP_THRESHOLD,
        centroid_mod=EMB_BUCKET_CELL_MOD, n_assign=EMB_BUCKET_N_ASSIGN)
        .orderBy("vec_id"))


def x_exact_substr(spark, sf_dir):
    """x69 — ExactSubstr-style duplicated-span detection over the
    documents corpus (pure column/window plan — JVM end to end)."""
    return (dedup.exact_substr_spans(_docs(spark, sf_dir))
            .orderBy("doc_id", "span_idx"))


def x_exact_substr_strip(spark, sf_dir):
    """x75 — the ExactSubstr CONSUMPTION step under the oracle: every
    duplicated span removed, surviving tokens reassembled in position
    order (docs stripped to nothing kept with empty text)."""
    return (dedup.exact_substr_strip(_docs(spark, sf_dir))
            .orderBy("doc_id"))


WS_SAMPLE_K = 100


def x_snm_near_dup(spark, sf_dir):
    """x79 — sorted-neighborhood (merge/purge) near-dup: the fifth
    blocking family. Sort inside 16 key-space buckets by the
    leading-token key, compare each record with its window-1
    successors, verify with exact shingle Jaccard."""
    return (dedup.sorted_neighborhood_dup(_docs(spark, sf_dir),
                                          NEAR_DUP_THRESHOLD)
            .orderBy("da", "db"))


def x_weighted_sample(spark, sf_dir):
    """x80 — deterministic quality-weighted subsampling
    (Efraimidis–Spirakis A-ES): portable-hash uniforms, fixed-point
    ln(u)/w keys, top-K by key — inclusion probability tracks
    quality_bp."""
    from kafana_spark.operators import sample

    d = _docs(spark, sf_dir)
    q = text.quality_score(d).select("doc_id", "quality_bp")
    return sample.weighted_sample(q, "quality_bp", WS_SAMPLE_K)


def x_benchmark_spans(spark, sf_dir):
    """x77 — span-level benchmark decontamination: maximal corpus
    token spans covered by any k-gram occurring in the held-out
    benchmark slice (x31's doc_id % 50 fixture). x31 scores documents;
    this localizes the contamination for surgical removal."""
    d = _docs(spark, sf_dir)
    bench = d.where(F.col("doc_id") % DECON_BENCH_MOD == 0)
    corpus = d.where(F.col("doc_id") % DECON_BENCH_MOD != 0)
    return (dedup.benchmark_contamination_spans(corpus, bench,
                                                k=DECON_SPAN_K)
            .orderBy("doc_id", "span_idx"))


def x_stored_substr_spans(spark, sf_dir):
    """x76 — x69's duplicated spans served from the PERSISTED gram
    index (built once, cached per corpus): the token explode + per-gram
    md5 pass is paid at write time; serving is count + semi-join +
    islands only, no text read. Same oracle as x69 — a hash match
    proves the store roundtrip is lossless."""
    from kafana_spark import dedup_index

    d = _docs(spark, sf_dir)
    root = _cached_index_root(
        "subidx", sf_dir,
        lambda r: dedup_index.build_substr_index(d, r))
    return (dedup_index.spans_from_index(spark, root)
            .orderBy("doc_id", "span_idx"))


def x_stored_semantic_pairs(spark, sf_dir):
    """x74 — x68's SemDeDup pairs served from the PERSISTED IVF index
    (built once with the x68 quantizer settings, cached per corpus):
    the stored cell assignments skip centroid fit + re-assignment, so
    the serving cost is the cell-local verify only. Same oracle as
    x68 — a hash match proves the store roundtrip is lossless and one
    index serves both ANN search and semantic dedup."""
    from kafana_spark import ann_index

    e = _embs(spark, sf_dir)
    root = _cached_index_root(
        "semidx", sf_dir,
        lambda r: ann_index.build_ann_index(
            e, r, centroid_mod=EMB_BUCKET_CELL_MOD,
            n_assign=EMB_BUCKET_N_ASSIGN))
    return ann_index.semantic_pairs_from_index(spark, root,
                                               EMB_DUP_THRESHOLD)


def x_ann_brute_force(spark, sf_dir):
    e = _embs(spark, sf_dir)
    q = similarity.modulo_queries(e, ANN_QUERY_MOD)
    return (similarity.brute_force_topk(e, q, ANN_K)
            .select("qid", "vec_id", "cos", "rank").orderBy("qid", "rank"))


def x_ann_ivf(spark, sf_dir):
    e = _embs(spark, sf_dir)
    q = similarity.modulo_queries(e, ANN_QUERY_MOD)
    # n_assign=2 (multi-assignment IVF): 2x cell storage for the recall
    # lift that n_probe alone can't buy at the cell-boundary
    return (similarity.ivf_topk(e, q, ANN_K, centroid_mod=ANN_CENTROID_MOD,
                                n_probe=ANN_N_PROBE, n_assign=ANN_N_ASSIGN)
            .select("qid", "vec_id", "cos", "rank").orderBy("qid", "rank"))


def x_filtered_knn(spark, sf_dir):
    """x280 — ES knn with `filter` (PRE-filter semantics): exact
    cosine top-k over the label∈{0,1,2} subset only, so every query
    gets k hits from the eligible set — the correctness baseline the
    post-filter shortcut (rank all, then filter) silently breaks.
    Parity: /root/reference delegates search to ES 6.8 whose knn/
    script_score requests take a filter context."""
    e = _embs(spark, sf_dir)
    q = similarity.modulo_queries(e, ANN_QUERY_MOD)
    return (similarity.filtered_topk(e, q, ANN_K, labels=FILTER_LABELS)
            .select("qid", "vec_id", "cos", "rank").orderBy("qid", "rank"))


def x_filtered_ivf(spark, sf_dir):
    """x281 — filtered IVF: the ONE label-blind index (same modulo
    quantizer and n_assign=2 assignment as x08) serves the filtered
    request; the label predicate applies to cell members at probe
    time and the probe count doubles (FILTERED_N_PROBE) to offset the
    ~30% selectivity. Fully deterministic → full DuckDB oracle."""
    e = _embs(spark, sf_dir)
    q = similarity.modulo_queries(e, ANN_QUERY_MOD)
    return (similarity.filtered_ivf_topk(
        e, q, ANN_K, centroid_mod=ANN_CENTROID_MOD,
        n_probe=FILTERED_N_PROBE, labels=FILTER_LABELS,
        n_assign=ANN_N_ASSIGN)
        .select("qid", "vec_id", "cos", "rank").orderBy("qid", "rank"))


def x_filtered_recall(spark, sf_dir):
    """x282 — the eval loop for the filtered pair: per-query overlap
    of the filtered IVF (x281) against the filtered exact truth
    (x280) in integer basis points — the x125 discipline applied to
    the filter path, where recall loss from thinned cells is exactly
    what over-probing must be tuned against."""
    e = _embs(spark, sf_dir)
    q = similarity.modulo_queries(e, ANN_QUERY_MOD)
    bf = (similarity.filtered_topk(e, q, ANN_K, labels=FILTER_LABELS)
          .select("qid", "vec_id"))
    iv = (similarity.filtered_ivf_topk(
        e, q, ANN_K, centroid_mod=ANN_CENTROID_MOD,
        n_probe=FILTERED_N_PROBE, labels=FILTER_LABELS,
        n_assign=ANN_N_ASSIGN)
        .select("qid", "vec_id").withColumn("hit", F.lit(1)))
    return (bf.join(iv, ["qid", "vec_id"], "left")
            .groupBy("qid")
            .agg(F.count("hit").cast("int").alias("n_overlap"))
            .select("qid", "n_overlap",
                    F.expr(f"10000 * n_overlap div {ANN_K}")
                    .cast("long").alias("recall_bp"))
            .orderBy("qid"))


def x_ann_lsh(spark, sf_dir):
    """x81 — hyperplane-LSH bucketed ANN: the third index family next
    to IVF cells (x08) and PQ codes (x59). L sign-signature tables,
    candidates from an equi-join on (table, code), exact cosine rank
    over the bucket union only. RNG-free (anchor-difference normals)
    and integer micro-unit projections make the whole approximate path
    DuckDB-replayable. Queries with sparse buckets honestly return
    fewer than k rows."""
    e = _embs(spark, sf_dir)
    q = similarity.modulo_queries(e, ANN_QUERY_MOD)
    return (similarity.lsh_topk(e, q, ANN_K, n_tables=LSH_N_TABLES,
                                n_bits=LSH_N_BITS,
                                anchor_mod=LSH_ANCHOR_MOD, dim=EMB_DIM)
            .select("qid", "vec_id", "cos", "rank").orderBy("qid", "rank"))


def x_stored_lsh(spark, sf_dir):
    """x83 — x81's LSH top-k served from the PERSISTED codes index
    (planes + signatures built once, cached per corpus): query time is
    the query's own 24 projections + the (t, code) bucket join, no
    corpus signing. Same oracle as x81 — a hash match proves the store
    roundtrip is lossless."""
    from kafana_spark import ann_index

    e = _embs(spark, sf_dir)
    root = _cached_index_root(
        "lshidx", sf_dir,
        lambda r: ann_index.build_lsh_index(
            e, r, n_tables=LSH_N_TABLES, n_bits=LSH_N_BITS,
            anchor_mod=LSH_ANCHOR_MOD, dim=EMB_DIM))
    q = similarity.modulo_queries(e, ANN_QUERY_MOD)
    return (ann_index.lsh_topk_from_index(spark, root, q, ANN_K, EMB_DIM)
            .select("qid", "vec_id", "cos", "rank").orderBy("qid", "rank"))


def x_ann_lsh_multiprobe(spark, sf_dir):
    """x84 — query-directed multiprobe LSH: per table, probe the
    query's bucket AND the weakest-bit-flipped bucket (the hyperplane
    the query most nearly crossed). Recall lift over x81 without
    touching the corpus index — the standard probe-vs-storage trade."""
    e = _embs(spark, sf_dir)
    q = similarity.modulo_queries(e, ANN_QUERY_MOD)
    return (similarity.lsh_multiprobe_topk(
        e, q, ANN_K, n_tables=LSH_N_TABLES, n_bits=LSH_N_BITS,
        anchor_mod=LSH_ANCHOR_MOD, dim=EMB_DIM)
        .select("qid", "vec_id", "cos", "rank").orderBy("qid", "rank"))


def x_hard_negatives(spark, sf_dir):
    """x82 — hard-negative mining for contrastive training: per query,
    the k most-similar vectors with a DIFFERENT label (the near-misses
    a contrastive loss learns from). IVF-composed — same quantizer /
    probe shape as x08, label rides through cell assignment, mismatch
    filter applies before ranking so all k slots are true negatives."""
    e = _embs(spark, sf_dir)
    return (similarity.hard_negative_topk(
        e, ANN_K, query_mod=ANN_QUERY_MOD, centroid_mod=ANN_CENTROID_MOD,
        n_probe=ANN_N_PROBE, n_assign=ANN_N_ASSIGN)
        .select("qid", "qlabel", "vec_id", "label", "cos", "rank")
        .orderBy("qid", "rank"))


def x_token_count(spark, sf_dir):
    return text.token_count(_docs(spark, sf_dir)).orderBy("doc_id")


def x_lang_id(spark, sf_dir):
    return text.lang_id(_docs(spark, sf_dir)).orderBy("doc_id")


def x_quality_score(spark, sf_dir):
    return text.quality_score(_docs(spark, sf_dir)).orderBy("doc_id")


def x_fingerprint(spark, sf_dir):
    return text.fingerprint(_docs(spark, sf_dir)).orderBy("doc_id")


def x_rolling_chunks(spark, sf_dir):
    # no global orderBy: a range sort directly over a mapInPandas stage
    # runs the Python stage TWICE (the range partitioner's sampling job
    # re-executes the child), and the driver's value hash is
    # order-insensitive anyway — same for every Python-stage output.
    return text.rolling_hash_chunks(_docs(spark, sf_dir))


SESSION_GAP = "30 minutes"
SESSION_GAP_US = 30 * 60 * 1_000_000


def x_sessionize(spark, sf_dir):
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    return (asof.sessionize_batch(ev, SESSION_GAP)
            .orderBy("user_id", "start_us"))


def x_asof_join(spark, sf_dir):
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase")
    errors = ev.where(F.col("event_type") == "error")
    joined = asof.asof_join(purchases, errors, on="user_id")
    return (joined.select("event_id",
                          F.unix_micros("asof_ts").alias("asof_us"))
            .orderBy("event_id"))


PCT_QS = (0.5, 0.95, 0.99)


def x_percentiles(spark, sf_dir):
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    aggs = [F.round(F.percentile("value", F.lit(q)), 4)
            .alias(f"p{int(q * 100)}") for q in PCT_QS]
    return (ev.where(F.col("value").isNotNull())
            .groupBy("event_type").agg(*aggs).orderBy("event_type"))


SLIDE_US = 30 * 60 * 1_000_000  # 30-minute slide of a 1-hour window


def x_sliding_histogram(spark, sf_dir):
    """C12 extended: sliding-window date histogram (1h window / 30m
    slide) — the same window() operator the streaming path uses, here
    batch + oracle-checked. Each event lands in exactly W/S windows."""
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.unix_micros(F.col("w.start")).alias("ws_us"), "cnt")
            .orderBy("ws_us"))


def x_suppliers_by_region(spark, sf_dir):
    """Dim-chain join (supplier → nation → region): both dims broadcast;
    completes table coverage (supplier/region were otherwise unused)."""
    tune_session(spark)
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    return (sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
            .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
            .groupBy("r_name").agg(F.count(F.lit(1)).alias("supps"))
            .orderBy("r_name"))


def x_cube(spark, sf_dir):
    """CUBE aggregation: all 4 grouping combinations of
    (event_type, user_id decile) in one pass."""
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    decile = (F.col("user_id") % 10).cast("string")
    return (ev.select("event_type", decile.alias("ud"), "event_id")
            .cube("event_type", "ud")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.coalesce("event_type", F.lit("ALL")).alias("et"),
                    F.coalesce("ud", F.lit("ALL")).alias("ud"), "cnt")
            .orderBy("et", "ud"))


def x_multimodal_meta(spark, sf_dir):
    media = multimodal.attach_binary_payload(
        _docs(spark, sf_dir), "text", "doc_id")
    return multimodal.media_metadata(media).orderBy("media_id")


def x_tfidf(spark, sf_dir):
    return (text.tfidf_top_terms(_docs(spark, sf_dir), k=3)
            .orderBy("doc_id", "rk"))


def x_enrich_discover(spark, sf_dir):
    """The core ingest path itself, oracle-checked: events → Kafka
    envelope → enrich (SMT chain + _id) → a discover-style filter on
    the enriched document's fields."""
    from kafana_spark.ingest import enrich, events_as_kafka_records

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    docs = enrich(events_as_kafka_records(ev))
    return (docs.where(F.col("message.event_type") == "purchase")
            .select("_id", "key", "topic", "offset",
                    F.col("message.event_type").alias("event_type"))
            .orderBy("offset"))


def x_latest_state(spark, sf_dir):
    """Changelog latest-state view over the enriched store frame
    (offset-ordered per key, tombstone-aware), oracle-checked."""
    from kafana_spark.ingest import enrich, events_as_kafka_records
    from kafana_spark.store import latest_state

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    docs = enrich(events_as_kafka_records(ev))
    return (latest_state(docs).select("key", "offset").orderBy("key"))


#: x284/x285 write-API predicates: purge keys whose live record is an
#: 'error'; archive keys whose live record is a 'purchase'.
DBQ_TYPE = "error"
UBQ_FROM, UBQ_TO = "purchase", "purchase_archived"


def x_delete_by_query(spark, sf_dir):
    """x284 — ES _delete_by_query over the changelog store: every key
    whose LIVE record is an '{error}' event gets an appended TOMBSTONE
    (no file rewrite — the delete is an ordinary ordered write, the
    reference's own deletion model through Kafka null values); the
    result is the served latest-state view after the purge."""
    from kafana_spark import store
    from kafana_spark.ingest import enrich, events_as_kafka_records

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    docs = enrich(events_as_kafka_records(ev))
    after = store.delete_by_query(
        docs, F.col("message.event_type") == DBQ_TYPE)
    return (store.latest_state(after)
            .select("key",
                    F.col("message.event_type").alias("event_type"),
                    "offset")
            .orderBy("key"))


def x_update_by_query(spark, sf_dir):
    """x285 — ES _update_by_query: every key whose LIVE record is a
    'purchase' gets an appended NEW VERSION with event_type rewritten
    to 'purchase_archived' (append-after-max-offset, prior version
    stays replayable below it); served latest-state view after."""
    from kafana_spark import store
    from kafana_spark.ingest import enrich, events_as_kafka_records

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    docs = enrich(events_as_kafka_records(ev))
    after = store.update_by_query(
        docs, F.col("message.event_type") == UBQ_FROM,
        {"event_type": F.lit(UBQ_TO)})
    return (store.latest_state(after)
            .select("key",
                    F.col("message.event_type").alias("event_type"),
                    "offset")
            .orderBy("key"))


def x_dup_clusters(spark, sf_dir):
    """Near-dup cluster assignment (connected components over the
    verified pair graph) — the linear-output consumption shape of
    dedup at scale."""
    return dedup.dup_clusters(_docs(spark, sf_dir)).orderBy("doc_id")


#: x25 mixture weights: upsample zh, downsample en, default for rest
STRATA_FRACTIONS = {"en": 0.3, "zh": 0.8, "de": 0.5}
STRATA_DEFAULT = 0.6


def x_stratified_sample(spark, sf_dir):
    """Deterministic per-language mixture sampling over documents."""
    from kafana_spark.operators.sample import stratified_sample

    return (stratified_sample(_docs(spark, sf_dir), STRATA_FRACTIONS,
                              default=STRATA_DEFAULT)
            .select("doc_id", "lang").orderBy("doc_id"))


VOCAB_K = 30


def x_vocab_topk(spark, sf_dir):
    """Top-k corpus vocabulary (tokenizer-training prep)."""
    return text.vocab_topk(_docs(spark, sf_dir), k=VOCAB_K) \
        .orderBy("rk")


CURATE_MIN_QUALITY = 5000
CURATE_LANGS = ("en", "de")
CURATE_FRACTIONS = {"en": 0.5}


def x_curation(spark, sf_dir):
    """End-to-end curation composition — the whole point of the
    pipeline operators: quality gate → language gate → exact dedup
    keep-first → deterministic per-language downsample, one lazy plan,
    fully oracle-checked."""
    from kafana_spark.operators.dedup import exact_dedup
    from kafana_spark.operators.sample import stratified_sample

    d = _docs(spark, sf_dir)
    q = text.quality_score(d).select("doc_id", "quality_bp")
    kept = (d.join(q, "doc_id")
            .where((F.col("quality_bp") >= CURATE_MIN_QUALITY)
                   & F.col("lang").isin(*CURATE_LANGS)))
    deduped = exact_dedup(kept)
    sampled = stratified_sample(deduped, CURATE_FRACTIONS, default=1.0)
    return (sampled.select("doc_id", "lang", "quality_bp")
            .orderBy("doc_id"))


def x_redact(spark, sf_dir):
    """PII-pattern redaction over documents (tags url/email/phone/ip)."""
    return (text.redact(_docs(spark, sf_dir))
            .select("doc_id", "redacted", "was_redacted")
            .orderBy("doc_id"))


#: A2 roundtrip: the reference's events value schema as Avro
AVRO_EVENT_SCHEMA = (
    '{"type": "record", "name": "event", "fields": ['
    '{"name": "event_type", "type": "string"}, '
    '{"name": "value", "type": ["null", "double"]}, '
    '{"name": "props", "type": ["null", "string"]}]}'
)


def x_avro_roundtrip(spark, sf_dir):
    """A1+A2 under the oracle: events → Kafka envelope → Confluent-Avro
    SERIALIZE (fromConnectData) → jar-free DESERIALIZE (toConnectData)
    → enrich → discover filter. The oracle is the plain-events SQL — a
    single corrupted varint/frame byte anywhere breaks the hash."""
    from kafana_spark.ingest import enrich, events_as_kafka_records
    from kafana_spark.sources.avro_codec import (
        from_confluent_avro_py,
        to_confluent_avro,
    )

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    # The envelope is a single synthetic Kafka partition over a
    # single-row-group parquet file, so the scan is ONE task and the
    # whole encode→decode→enrich chain (two Python codec stages + the
    # JSON render) would run serialized until the final sort's
    # Exchange. Spread it across the executor cores first — the
    # shuffle moves only the raw envelope bytes, orders of magnitude
    # cheaper than the per-record codec work it parallelizes. Real
    # Kafka ingest gets this parallelism from source partitions.
    recs = events_as_kafka_records(ev) \
        .repartition(spark.sparkContext.defaultParallelism)
    framed = to_confluent_avro(recs, AVRO_EVENT_SCHEMA, schema_id=1)
    decoded = from_confluent_avro_py(
        framed, AVRO_EVENT_SCHEMA,
        "event_type string, value double, props string")
    docs = enrich(decoded)
    # message.value is the InsertValueAsString JSON render (the enrich
    # contract) — read the numeric field back out of the JSON, proving
    # the value survived Avro encode -> decode -> to_json bit-exactly
    val = F.get_json_object(F.col("message.value"), "$.value") \
        .cast("double")
    return (docs.where(F.col("message.event_type") == "error")
            .select("_id", "key", F.col("offset").alias("off"),
                    F.col("message.event_type").alias("event_type"),
                    F.round(val, 2).alias("val"))
            .orderBy("off"))


PACK_BUDGET = 128


def x_pack_sequences(spark, sf_dir):
    """Greedy token-budget sequence packing (per-partition next-fit;
    sequential bin assignment → rows-only driver check, invariants
    pinned by pytest)."""
    from kafana_spark.operators.pack import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), budget=PACK_BUDGET)


#: decontamination fixture: every doc_id divisible by this is "benchmark"
DECON_BENCH_MOD = 50
PAIR_K = 30


def x_decontaminate(spark, sf_dir):
    """Benchmark decontamination: corpus docs scored by distinct
    3-gram overlap with a held-out benchmark slice (doc_id % 50 == 0
    stands in for the eval set)."""
    d = _docs(spark, sf_dir)
    bench = d.where(F.col("doc_id") % DECON_BENCH_MOD == 0)
    corpus = d.where(F.col("doc_id") % DECON_BENCH_MOD != 0)
    return dedup.benchmark_overlap(corpus, bench).orderBy("doc_id")


def x_repetition(spark, sf_dir):
    """Gopher-style duplicated-bigram repetition ratios per document."""
    return text.repetition_stats(_docs(spark, sf_dir)).orderBy("doc_id")


def x_pair_counts(spark, sf_dir):
    """BPE merge-candidate table: corpus-wide top-k adjacent token
    pairs."""
    return text.pair_counts(_docs(spark, sf_dir), PAIR_K).orderBy("rk")


def x_mixture_rebalance(spark, sf_dir):
    """Self-tuning mixture sampler: per-lang rates equalize strata to
    the smallest one, applied as a deterministic hash sample."""
    from kafana_spark.operators.sample import mixture_rebalance

    return (mixture_rebalance(_docs(spark, sf_dir))
            .select("doc_id", "lang").orderBy("doc_id"))


def x_incremental_near_dup(spark, sf_dir):
    """Cross-corpus near-dup: odd doc_ids play the incoming batch, even
    the historical corpus; pairs within either side are excluded by
    construction."""
    d = _docs(spark, sf_dir)
    return (dedup.incremental_near_dup(
        d.where(F.col("doc_id") % 2 == 1),
        d.where(F.col("doc_id") % 2 == 0),
        NEAR_DUP_THRESHOLD).orderBy("da", "db"))


#: Kibana-surface features beyond the screenshots: ?-wildcard, regex
#: clause, fuzzy clause (Lucene edit distance), all in one boolean query
QS_X36 = "lang:e? OR source:src1* OR lang:/z.+/ OR lang:fra~2"


def x_query_string_search(spark, sf_dir):
    """C5/C6 extended: the query-string compiler's wildcard / regex /
    fuzzy clauses, hash-checked against the SQL each clause documents
    (LIKE / regexp_matches / levenshtein)."""
    from kafana_spark.query_string import compile_query_string

    d = _docs(spark, sf_dir)
    return (d.where(compile_query_string(QS_X36, default_field="text"))
            .select("doc_id", "lang", "source").orderBy("doc_id"))


ROLLUP_DS0, ROLLUP_DS1 = "2024-01-05", "2024-01-20"


def x_rollup_metrics(spark, sf_dir):
    """Continuous-aggregate roll-through: raw events → daily rollup
    partials → arbitrary day-range re-aggregation. The oracle is the
    DIRECT single-level aggregation — a hash match proves the two-level
    partial merge is lossless (the HLL ndv columns are the pytest-
    tolerance part and are excluded here)."""
    from kafana_spark.rollup import build_rollup, rollup_range

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("event_type", F.to_date("ts").alias("ds"), "value")
    ru = build_rollup(days, by=("event_type",), value_col="value")
    rng = rollup_range(ru, ROLLUP_DS0, ROLLUP_DS1, by=("event_type",),
                       value_col="value")
    return (rng.select(
        "event_type", "cnt",
        F.round("sum_value", 2).alias("sum_val"),
        F.round("min_value", 4).alias("min_val"),
        F.round("max_value", 4).alias("max_val"))
        .orderBy("event_type"))


INDEX_TERM = "scan"


def x_indexed_token_search(spark, sf_dir):
    """Inverted-index token search: postings for the term semi-join the
    corpus — result must equal the direct scan (the oracle IS the
    direct scan in SQL). The sharded on-disk path (one-bucket pruning,
    append maintenance) is pinned by tests/test_index.py."""
    from kafana_spark.index import build_token_index

    d = _docs(spark, sf_dir)
    postings = build_token_index(d, field="text", id_col="doc_id")
    ids = (postings.where(F.col("token") == INDEX_TERM)
           .select(F.col("_id").alias("doc_id")))
    return (d.join(ids, "doc_id", "left_semi")
            .select("doc_id", "lang").orderBy("doc_id"))


SIGTERMS_K = 20
SIGTERMS_MIN_FG = 3


def x_significant_terms(spark, sf_dir):
    """ES significant-terms agg: tokens over-represented in the
    English-language foreground vs the whole corpus."""
    d = _docs(spark, sf_dir)
    return text.significant_terms(d, F.col("lang") == "en",
                                  k=SIGTERMS_K, min_fg=SIGTERMS_MIN_FG)


# --- ES bucket / pipeline aggregation surface (x40-x44) ---------------

PIPE_MA_BUCKETS = 3


def x_pipeline_aggs(spark, sf_dir):
    """ES pipeline aggregations over the daily date-histogram:
    derivative, cumulative sum, 3-bucket moving average (the Kibana
    TSVB / Timelion panel surface)."""
    from kafana_spark import query

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    p = query.pipeline_aggs(ev, "ts", "value", unit="day",
                            ma_buckets=PIPE_MA_BUCKETS)
    return (p.select(
        F.to_date("bucket").alias("ds"),
        "cnt",
        F.round("sum_v", 2).alias("sum_val"),
        "deriv_cnt",
        "cum_cnt",
        F.round("ma_sum", 4).alias("ma_sum"))
        .orderBy("ds"))


SDIFF_LAG = 7        # weekly serial_diff over daily buckets
BUCKET_MIN_CNT = 320  # bucket_selector threshold (drops ~1/3 at sf0.01)
BUCKET_TOP = 10       # bucket_sort size


def x_bucket_pipeline(spark, sf_dir):
    """x85 — the remaining ES pipeline aggs beside x40: weekly
    serial_diff, bucket_script (sum/count), bucket_selector
    (cnt >= threshold, applied after the windows per ES pipeline
    order), bucket_sort (top-N buckets by exact integer count)."""
    from kafana_spark import query

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    p = query.bucket_pipeline(ev, "ts", "value", unit="day",
                              lag=SDIFF_LAG, min_count=BUCKET_MIN_CNT,
                              size=BUCKET_TOP)
    return p.select(
        F.to_date("bucket").alias("ds"),
        "cnt",
        F.round("sum_v", 2).alias("sum_val"),
        F.round("serial_diff", 2).alias("serial_diff"),
        F.round("per_doc", 4).alias("per_doc"))


MATRIX_FIELDS = ("l_quantity", "l_extendedprice", "l_discount")


def x_matrix_stats(spark, sf_dir):
    """x86 — ES matrix_stats over lineitem's numeric triple: one
    moment pass, tidy one-row-per-pair correlation matrix."""
    from kafana_spark import query

    tune_session(spark)
    li = load_table(spark, sf_dir, "lineitem")
    return (query.matrix_stats(li, MATRIX_FIELDS)
            .orderBy("fa", "fb"))


COMPOSITE_KEYS = ("lang", "source")
COMPOSITE_AFTER = ("de", "src12")
COMPOSITE_SIZE = 10


def x_composite_agg(spark, sf_dir):
    """ES composite aggregation: page of (lang, source) buckets AFTER
    the ('de','src12') after-key — the tuple predicate is applied to
    raw rows before the aggregation shuffle."""
    from kafana_spark import query

    return query.composite_agg(_docs(spark, sf_dir), list(COMPOSITE_KEYS),
                               after=COMPOSITE_AFTER, size=COMPOSITE_SIZE)


RANGE_BOUNDS = (50.0, 150.0, 300.0)


def x_range_agg(spark, sf_dir):
    """ES range aggregation: explicit half-open value buckets with
    per-bucket count + sum."""
    from kafana_spark import query

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    return query.range_agg(ev, "value", RANGE_BOUNDS)


#: x283 variable_width_histogram bucket count.
VWH_BUCKETS = 8

#: x286 terms + sum_other_doc_count: top users by event count.
TWO_TOP_N = 10


def x_terms_with_other(spark, sf_dir):
    """x286 — ES terms agg with sum_other_doc_count: top-10 users by
    event count plus the '__other__' remainder bucket (exact, so
    doc_count_error_upper_bound ≡ 0 — documented, not emitted)."""
    from kafana_spark import query

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    return query.terms_with_other(ev, "user_id", TWO_TOP_N)


def x_variable_width_histogram(spark, sf_dir):
    """x283 — ES variable_width_histogram on events.value: bucket
    boundaries at the 7 largest gaps between adjacent distinct cent
    values (the deterministic ideal of ES's order-dependent streaming
    clusterer); per-bucket min/max/centroid-key/doc_count."""
    from kafana_spark import query

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    return query.variable_width_histogram(ev, "value", VWH_BUCKETS)


def x_filters_agg(spark, sf_dir):
    """ES filters aggregation: three OVERLAPPING named buckets counted
    in one scan."""
    from kafana_spark import query

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    return query.filters_agg(ev, {
        "clicks": F.col("event_type") == "click",
        "big_value": F.col("value") > 400,
        "view_small": (F.col("event_type") == "view") & (F.col("value") < 100),
    })


RARE_MAX_DF = 2


def x_rare_terms(spark, sf_dir):
    """ES rare_terms aggregation over word bigrams: phrases appearing
    in at most RARE_MAX_DF documents (the long tail a terms/top-N agg
    can never surface)."""
    from kafana_spark import query
    from kafana_spark.functions import shingles

    d = _docs(spark, sf_dir)
    terms_df = d.select(F.explode(shingles(F.col("text"), 2)).alias("term"))
    return query.rare_terms(terms_df, "term", max_count=RARE_MAX_DF)


# --- training-pipeline consumption ops (x45-x47) ----------------------

CHUNK_BLOCK_TOKENS = 3
CHUNK_MAX_FREQ = 2


def x_chunk_dedup(spark, sf_dir):
    """Boilerplate-chunk removal with in-order reconstruction (CCNet
    line-dedup shape): 3-token blocks occurring more than twice across
    the corpus are dropped from every document."""
    return (text.chunk_dedup(_spread(_docs(spark, sf_dir)),
                             block_tokens=CHUNK_BLOCK_TOKENS,
                             max_freq=CHUNK_MAX_FREQ)
            .orderBy("doc_id"))


def x_canonical_docs(spark, sf_dir):
    """Keeper selection per near-dup cluster: highest quality_bp wins,
    doc_id breaks ties — dup_clusters → deduplicated corpus."""
    return (dedup.canonical_per_cluster(_docs(spark, sf_dir),
                                        NEAR_DUP_THRESHOLD)
            .orderBy("cluster_id"))


SHARD_N = 8
SHARD_SEED = 0


def x_shard_assign(spark, sf_dir):
    """Deterministic training-order (shard, pos) assignment — the
    reproducible global shuffle, keyed on portable hashes."""
    from kafana_spark.operators import sample

    return (sample.shard_assign(_docs(spark, sf_dir), n_shards=SHARD_N,
                                seed=SHARD_SEED)
            .orderBy("doc_id"))


def x_label_centroids(spark, sf_dir):
    """Per-label embedding centroids, exploded to (label, pos, c) long
    format for the oracle hash (arrays stay the operator's output
    shape)."""
    cent = similarity.label_centroids(_embs(spark, sf_dir))
    return (cent.select("label", F.posexplode("centroid").alias("pos", "c"))
            .select("label", "pos", F.round("c", 4).alias("c"))
            .orderBy("label", "pos"))


def x_adjacency_matrix(spark, sf_dir):
    """ES adjacency_matrix agg: named filters + pairwise intersections
    over events, one scan."""
    from kafana_spark import query

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    return query.adjacency_matrix(ev, {
        "click": F.col("event_type") == "click",
        "big": F.col("value") > 300,
        "even_user": F.col("user_id") % 2 == 0,
    })


def x_int8_quantize(spark, sf_dir):
    """Scalar int8 quantization of the embeddings corpus, exploded to
    (vec_id, pos, q) long format — integer-only output, so the hash
    check is exact (scale/recall semantics are pytest-pinned)."""
    qz = similarity.int8_quantize(_spread(_embs(spark, sf_dir)))
    return (qz.select("vec_id", F.posexplode("q8").alias("pos", "q"))
            .orderBy("vec_id", "pos"))


GAPFILL_USER = 13


def x_gapfill_histogram(spark, sf_dir):
    """ES date_histogram with min_doc_count=0: daily buckets for one
    sparse key, empty days zero-filled from the sequence() spine."""
    from kafana_spark import query

    tune_session(spark)
    ev = (load_table(spark, sf_dir, "events")
          .where(F.col("user_id") == GAPFILL_USER))
    g = query.date_histogram_gapfill(ev, "ts", unit="day")
    return g.select(F.to_date("bucket").alias("ds"), "cnt").orderBy("ds")


PRANK_VALUES = (50.0, 250.0, 400.0)


def x_percentile_ranks(spark, sf_dir):
    """ES percentile_ranks (exact twin) over events.value."""
    from kafana_spark import query

    tune_session(spark)
    return query.percentile_ranks(
        load_table(spark, sf_dir, "events"), "value", PRANK_VALUES)


def x_weighted_avg(spark, sf_dir):
    """ES weighted_avg: l_extendedprice weighted by l_quantity per
    return flag."""
    from kafana_spark import query

    tune_session(spark)
    li = load_table(spark, sf_dir, "lineitem")
    return (query.weighted_avg(li, "l_extendedprice", "l_quantity",
                               by=("l_returnflag",))
            .orderBy("l_returnflag"))


def x_extended_stats(spark, sf_dir):
    """ES extended_stats (population moments) of l_extendedprice per
    return flag."""
    from kafana_spark import query

    tune_session(spark)
    li = load_table(spark, sf_dir, "lineitem")
    return (query.extended_stats(li, "l_extendedprice",
                                 by=("l_returnflag",))
            .orderBy("l_returnflag"))


OOV_VOCAB_K = 25


def x_oov_rate(spark, sf_dir):
    """Per-document OOV rate vs the corpus top-25 vocabulary."""
    return (text.oov_rate(_docs(spark, sf_dir), vocab_k=OOV_VOCAB_K)
            .orderBy("doc_id"))


CURATE2_MAX_OOV = 2000


def x_curation_v2(spark, sf_dir):
    """Curation composition v2 — the near-dup-aware pipeline: keep one
    canonical (highest-quality) doc per near-dup CLUSTER, then gate on
    quality and tokenizer coverage (OOV rate vs the corpus top-25
    vocab). One lazy plan, whole DAG under one oracle hash."""
    d = _docs(spark, sf_dir)
    # canonical_per_cluster already carries each keeper's quality_bp
    # (quality is a pure per-doc function) — reuse it instead of a
    # second full quality pass over the kept docs
    keepers = (dedup.canonical_per_cluster(d, NEAR_DUP_THRESHOLD)
               .select(F.col("keeper").alias("doc_id"), "quality_bp"))
    o = text.oov_rate(d, vocab_k=OOV_VOCAB_K).select("doc_id", "oov_bp")
    return (d.join(keepers, "doc_id").join(o, "doc_id")
            .where((F.col("quality_bp") >= CURATE_MIN_QUALITY)
                   & (F.col("oov_bp") <= CURATE2_MAX_OOV))
            .select("doc_id", "lang", "quality_bp", "oov_bp")
            .orderBy("doc_id"))


CURATE3_MAX_AVG_U = 34050  # LM gate: drop the most perplexing ~quartile


def x_curation_v3(spark, sf_dir):
    """Curation composition v3 (x78) — v2's near-dup-aware pipeline
    with the x71 unigram-LM gate added: keep one canonical doc per
    near-dup cluster, then gate on quality, tokenizer coverage (OOV)
    AND per-token LM cost (avg_u ≤ threshold — the CCNet-style
    perplexity filter plugged into the real curation DAG). One lazy
    plan, whole composition under one oracle hash."""
    d = _docs(spark, sf_dir)
    # keeper quality_bp reused from canonical_per_cluster (pure per-doc
    # function) — no second quality pass, same stance as x56
    keepers = (dedup.canonical_per_cluster(d, NEAR_DUP_THRESHOLD)
               .select(F.col("keeper").alias("doc_id"), "quality_bp"))
    o = text.oov_rate(d, vocab_k=OOV_VOCAB_K).select("doc_id", "oov_bp")
    lm = text.unigram_logprob(d).select("doc_id", "avg_u")
    return (d.join(keepers, "doc_id").join(o, "doc_id").join(lm, "doc_id")
            .where((F.col("quality_bp") >= CURATE_MIN_QUALITY)
                   & (F.col("oov_bp") <= CURATE2_MAX_OOV)
                   & (F.col("avg_u") <= CURATE3_MAX_AVG_U))
            .select("doc_id", "lang", "quality_bp", "oov_bp", "avg_u")
            .orderBy("doc_id"))


#: built stored-index roots per (kind, sf_dir) — index-once/query-many
#: is the contract x57/x58 measure, so repeated calls (bench warm runs)
#: query the existing store instead of rebuilding; stored tables are
#: deterministic, so correctness is unaffected.
_STORED_INDEX_CACHE: dict[tuple[str, str], str] = {}


def _cached_index_root(kind: str, sf_dir: str, builder) -> str:
    key = (kind, sf_dir)
    if key not in _STORED_INDEX_CACHE:
        import tempfile

        root = tempfile.mkdtemp(prefix=f"kafana_{kind}_")
        builder(root)
        _STORED_INDEX_CACHE[key] = root
    return _STORED_INDEX_CACHE[key]


def x_stored_near_dup(spark, sf_dir):
    """x02's near-dup output through the PERSISTED dedup index: build
    (sign+band+shingle once, cached per corpus) → LSH from stored
    bands → verify from stored shingles. The oracle is the same
    full-recompute minhash SQL, so a hash match proves the store
    roundtrip is lossless and the stored-band query path is exact."""
    from kafana_spark import dedup_index

    d = _docs(spark, sf_dir)
    root = _cached_index_root(
        "ndidx", sf_dir, lambda r: dedup_index.build_dedup_index(d, r))
    return (dedup_index.near_dup_from_index(spark, root,
                                            NEAR_DUP_THRESHOLD)
            .orderBy("da", "db"))


def x_stored_ann(spark, sf_dir):
    """x08's IVF ANN through the PERSISTED index: build (centroids +
    cell assignments once) → probe + rank from the store. Same DuckDB
    oracle as x08 — a hash match proves the store roundtrip and the
    stored-assignment query path are exact."""
    from kafana_spark import ann_index

    e = _embs(spark, sf_dir)
    q = similarity.modulo_queries(e, ANN_QUERY_MOD)
    root = _cached_index_root(
        "annidx", sf_dir,
        lambda r: ann_index.build_ann_index(
            e, r, centroid_mod=ANN_CENTROID_MOD, n_assign=ANN_N_ASSIGN))
    return (ann_index.ann_topk_from_index(spark, root, q, ANN_K,
                                          n_probe=ANN_N_PROBE)
            .select("qid", "vec_id", "cos", "rank").orderBy("qid", "rank"))


# --- product quantization ANN (x59, x63) ------------------------------

PQ_DIM = 64
PQ_M = 16         # subspaces → 4-dim subvectors, 32 codes each
PQ_KSUB = 32
PQ_TRAIN_MOD = 3
PQ_POOL = 100     # ADC candidate pool per query, exact-reranked to K


def x_pq_ann(spark, sf_dir):
    """PQ/ADC + exact refine (x59): deterministic per-subspace
    codebooks → 1-byte codes → asymmetric-distance candidate pool →
    exact re-rank of the fixed-size pool (FAISS refine shape,
    recall@10 ≥ 0.9 pinned by test). Distances are exact integer
    micro-units end-to-end; full DuckDB oracle because every step is
    deterministic SQL."""
    e = _embs(spark, sf_dir)
    q = similarity.modulo_queries(e, ANN_QUERY_MOD)
    return (similarity.pq_topk_refined(
        e, q, ANN_K, pool=PQ_POOL, dim=PQ_DIM, m_total=PQ_M,
        ksub=PQ_KSUB, train_mod=PQ_TRAIN_MOD)
        .select("qid", "vec_id", "d2u", "rank")
        .orderBy("qid", "rank"))


def x_stored_pq(spark, sf_dir):
    """x59's PQ ANN through the PERSISTED index (x63): codebooks,
    codes and refine vectors stored once; ADC + re-rank served from
    the store. Same oracle as x59 — a hash match proves the store
    roundtrip and the stored-code query path are exact."""
    from kafana_spark import ann_index

    e = _embs(spark, sf_dir)
    q = similarity.modulo_queries(e, ANN_QUERY_MOD)
    root = _cached_index_root(
        "pqidx", sf_dir,
        lambda r: ann_index.build_pq_index(
            e, r, dim=PQ_DIM, m_total=PQ_M, ksub=PQ_KSUB,
            train_mod=PQ_TRAIN_MOD))
    return (ann_index.pq_topk_from_index(spark, root, q, ANN_K,
                                         pool=PQ_POOL, dim=PQ_DIM,
                                         m_total=PQ_M)
            .select("qid", "vec_id", "d2u", "rank")
            .orderBy("qid", "rank"))


# --- multimodal frame sampling under the oracle (x65) -----------------

FRAME_BYTES = 128
FRAME_MAX = 8


def x_frame_sample(spark, sf_dir):
    """Multimodal 1:N frame sampling (x65): documents' bytes as opaque
    payloads → mapInPandas frame sampler (the ffmpeg-keyframe stand-in
    kernel is deterministic byte slicing, so the WHOLE Arrow path —
    binary columns in/out, per-input explode cardinality, (media_id,
    frame_idx) key shape — runs under a full DuckDB oracle; a real
    decoder swaps into the same plumbing)."""
    from kafana_spark.operators import multimodal

    media = multimodal.attach_binary_payload(
        _docs(spark, sf_dir), "text", "doc_id")
    frames = multimodal.sample_frames(media, every_n_bytes=FRAME_BYTES,
                                      max_frames=FRAME_MAX)
    return (frames.select(
        "media_id", "frame_idx",
        F.length("frame").cast("long").alias("frame_len"),
        F.md5("frame").alias("frame_md5"))
        .orderBy("media_id", "frame_idx"))


# --- unigram LM quality + count-min sketch (x71, x72) -----------------

CMS_TOP_K = 20


def x_unigram_logprob(spark, sf_dir):
    """x71 — CCNet/Gopher-style LM quality proxy: per-document unigram
    negative log-likelihood under the corpus MLE, integer fixed-point
    end to end (portable across engines)."""
    return (text.unigram_logprob(_docs(spark, sf_dir))
            .orderBy("doc_id"))


def x_cms_counts(spark, sf_dir):
    """x72 — count-min sketch point estimates next to exact counts for
    the corpus top-20 tokens. The sketch is the mergeable frequency
    twin of the HLL rollup (fixed d×w size, bucket-wise summable);
    the oracle replays hash rows, bucketing and the min-estimate
    exactly. cms_cnt >= exact_cnt always (CM never undercounts)."""
    from kafana_spark import rollup
    from kafana_spark.functions import tokens

    d = _spread(_docs(spark, sf_dir))
    toks = d.select(F.explode(tokens(F.col("text"))).alias("t"))
    exact = toks.groupBy("t").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top = exact.orderBy(F.col("exact_cnt").desc(), "t").limit(CMS_TOP_K)
    est = rollup.cms_estimate(rollup.cms_sketch(d, "text"),
                              top.select("t"))
    return (top.join(est, "t")
            .select(F.col("t").alias("token"), "exact_cnt", "cms_cnt")
            .orderBy(F.col("exact_cnt").desc(), "token"))


# --- multimodal image resize under the oracle (x70) -------------------

RESIZE_W = 16
RESIZE_H = 16


def x_resize_images(spark, sf_dir):
    """Multimodal image resize (x70): documents' bytes as opaque
    payloads → mapInPandas resize (the PIL stand-in kernel is a
    deterministic truncate/zero-pad to width·height, so the whole
    Arrow 1:1 path — binary in/out, fixed output size, schema — runs
    under a full DuckDB oracle; a real PIL/opencv kernel swaps into
    the same plumbing). Companion of x65's frame-sampling oracle —
    closes E5's image branch."""
    from kafana_spark.operators import multimodal

    media = multimodal.attach_binary_payload(
        _docs(spark, sf_dir), "text", "doc_id")
    rs = multimodal.resize_images(media, width=RESIZE_W, height=RESIZE_H)
    return (rs.select(
        "media_id", "width", "height",
        F.length("payload").cast("long").alias("payload_len"),
        F.md5("payload").alias("payload_md5"))
        .orderBy("media_id"))


# --- stored-index cluster serving (x67) -------------------------------


def x_stored_clusters(spark, sf_dir):
    """x24's cluster assignment served from the PERSISTED dedup index
    (x67): pairs from stored bands+shingles, CC over the pruned edge
    list, singletons self-label — the full dedup consumption chain
    without touching text after the one-time build. Same oracle as
    x24, so a hash match proves index-served clusters are exact."""
    from kafana_spark import dedup_index

    d = _docs(spark, sf_dir)
    root = _cached_index_root(
        "ndidx", sf_dir, lambda r: dedup_index.build_dedup_index(d, r))
    return (dedup_index.clusters_from_index(
        spark, d.select("doc_id"), root, NEAR_DUP_THRESHOLD)
        .orderBy("doc_id"))


# --- deterministic sharded packing (x66) ------------------------------

PACK2_BUDGET = 512
PACK2_SHARDS = 8


def x_pack_sharded(spark, sf_dir):
    """Deterministic sequence packing (x66): portable-hash shards,
    doc_id order within shard, greedy next-fit — layout is a pure
    function of the data (never of Spark partitioning), so unlike x29
    the whole packing runs under a full DuckDB oracle."""
    from kafana_spark.operators import pack

    return (pack.pack_sequences_sharded(
        _docs(spark, sf_dir), budget=PACK2_BUDGET, n_shards=PACK2_SHARDS)
        .orderBy("doc_id"))


# --- ES straggler aggs (x60-x62): global / missing / sampler ----------

GLOBAL_FILTER_TYPE = "purchase"


def x_global_agg(spark, sf_dir):
    """ES ``global`` aggregation: value metrics in the
    event_type='purchase' filtered context next to the all-docs global
    bucket — both contexts as conditional aggregates in ONE scan."""
    from kafana_spark import query

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    return query.global_agg(ev, F.col("event_type") == GLOBAL_FILTER_TYPE,
                            "value")


MISSING_MOD = 5


def x_missing_agg(spark, sf_dir):
    """ES ``missing`` aggregation per event_type. The fixture carries no
    physical nulls, so the sparse field is derived deterministically
    (props.k where k % 5 != 0, else missing) — the operator under test
    is the conditional null-bucket count, identical either way."""
    from kafana_spark import query

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    sparse = F.when(k % MISSING_MOD != 0, k)
    return query.missing_agg(ev.select("event_type",
                                       sparse.alias("k_sparse")),
                             "k_sparse", by="event_type")


SAMPLER_SHARD_SIZE = 1000

# --- RAG chunking (x64) -----------------------------------------------

CHUNK_WINDOW = 32
CHUNK_STRIDE = 24


def x_chunk_windows(spark, sf_dir):
    """Sliding token windows with overlap (x64): the RAG /
    context-window chunking pass — window=32 tokens, stride=24 (8-token
    overlap), short tail chunks kept. Map-only column expressions."""
    return (text.chunk_windows(_docs(spark, sf_dir),
                               window=CHUNK_WINDOW, stride=CHUNK_STRIDE)
            .orderBy("doc_id", "chunk_id"))


def x_sampler_agg(spark, sf_dir):
    """ES ``sampler`` aggregation: terms sub-agg over only the
    top-1000 events by (value DESC, event_id) — the bounded-sample
    shape ES uses to keep expensive sub-aggs cheap; top-N is a
    TakeOrdered, never a full sort."""
    from kafana_spark import query

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    return query.sampler_agg(ev, "value", "event_id",
                             SAMPLER_SHARD_SIZE, "event_type")


DIV_SAMPLER_SHARD = 500
DIV_SAMPLER_MAX_PER_USER = 5


def x_diversified_sampler(spark, sf_dir):
    """x87 — ES diversified_sampler: at most 5 events per user_id
    enter the top-500 sample (de-biasing heavy users), then the terms
    sub-agg over the sample. Cap = rank-limit on the user shuffle;
    sample = TakeOrdered; never a full sort."""
    from kafana_spark import query

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    return query.diversified_sampler_agg(
        ev, "value", "event_id", DIV_SAMPLER_SHARD, "event_type",
        "user_id", DIV_SAMPLER_MAX_PER_USER)


# --- relevance / search family (x88-x92) ------------------------------

#: x88 BM25 match query: 'dup' is the corpus's one rare term (df=25 of
#: 500) so its idf dominates — the ranking exercises the full formula
#: rather than degenerating to tf ordering.
BM25_QUERY_TERMS = ("dup", "merge", "vector")
BM25_K = 15
#: x89 seed document for more_like_this.
MLT_SEED_DOC = 0
MLT_K = 10
#: x90 highlight term (rare → small result, interesting snippets).
HL_TERM = "dup"
#: x91 stored percolator queries (conjunctive term lists); the last
#: one can never match (term outside the corpus vocabulary) and pins
#: the zero-hit-alert row.
PERC_QUERIES = {
    "p1_rare": ["dup"],
    "p2_pipeline": ["merge", "vector", "stream"],
    "p3_scan": ["customer", "scan", "filter", "window"],
    "p4_never": ["dup", "quasar"],
}
#: x92 misspelled inputs for the term suggester (within edit distance
#: 1-2 of vocabulary words; 'xyzzy' pins the no-suggestion case).
SUGGEST_INPUTS = ("scann", "qurey", "tabel", "stremm", "vectr", "jion",
                  "xyzzy")
AUTO_HIST_TARGET = 40
DSIR_K = 50
TOKEN_BUDGET = 20_000


def x_bm25_topk(spark, sf_dir):
    """x88 — the ES ``match`` query: BM25-ranked top-k over documents
    (Lucene k1/b defaults, per-(doc,term) fixed-point contributions)."""
    from kafana_spark.operators import relevance

    return relevance.bm25_topk(_docs(spark, sf_dir),
                               list(BM25_QUERY_TERMS), BM25_K)


def x_more_like_this(spark, sf_dir):
    """x89 — the ES ``more_like_this`` query: seed doc's top tf·idf
    terms become a BM25 disjunction; seed excluded from results."""
    from kafana_spark.operators import relevance

    return relevance.more_like_this(_docs(spark, sf_dir), MLT_SEED_DOC,
                                    MLT_K)


def x_highlight(spark, sf_dir):
    """x90 — the ES ``highlight`` block: first-match position + <em>
    snippet for a whole-token term query."""
    from kafana_spark.operators import relevance

    return relevance.highlight(_docs(spark, sf_dir), HL_TERM)


def x_percolate(spark, sf_dir):
    """x91 — the ES percolator (reverse search): stored conjunctive
    term queries matched against the corpus; per-query alert digest."""
    from kafana_spark.operators import relevance

    return relevance.percolate(_docs(spark, sf_dir), PERC_QUERIES)


def x_term_suggest(spark, sf_dir):
    """x92 — the ES term suggester: SymSpell deletion-neighborhood
    join + exact Levenshtein verify, top suggestions per input."""
    from kafana_spark.operators import relevance

    return relevance.term_suggest(_docs(spark, sf_dir),
                                  list(SUGGEST_INPUTS))


def x_auto_date_histogram(spark, sf_dir):
    """x93 — the ES auto_date_histogram agg: in-plan interval choice
    from the rounding ladder, then the tumbling histogram."""
    from kafana_spark import query

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    return query.auto_date_histogram(ev, "ts", AUTO_HIST_TARGET)


def x_dsir_weights(spark, sf_dir):
    """x94 — DSIR importance resampling (Xie et al. 2023): hashed
    unigram+bigram features, smoothed target/raw log-ratio weights,
    top-K most target-like documents (target = lang='en')."""
    from kafana_spark.operators import sample

    d = _spread(_docs(spark, sf_dir))
    return (sample.dsir_weights(d, F.col("lang") == "en")
            .orderBy(F.col("weight_u").desc(), "doc_id")
            .limit(DSIR_K))


def x_token_budget(spark, sf_dir):
    """x95 — greedy token-budget selection: best documents by quality
    until the running token total hits the budget — two-phase (per-
    score totals + per-score windows), never a global one-partition
    sort."""
    from kafana_spark.operators import sample

    d = _docs(spark, sf_dir)
    q = text.quality_score(d).select("doc_id", "quality_bp")
    n = text.token_count(d).select("doc_id", "n_tokens")
    return (sample.token_budget_select(q.join(n, "doc_id"), TOKEN_BUDGET)
            .orderBy("doc_id"))


# --- bigram LM / scored-search compositions (x96, x98, x99) -----------

#: x96 train slice: 10% of documents — small enough that held-out
#: docs contain unseen bigrams and the Stupid-Backoff path genuinely
#: fires (50%-train left only ~7 backoff positions at sf0.001).
BIGRAM_TRAIN_MOD = 10
#: x98 function_score recency half-life shape: weight = ln(1 + quality)
#: in BM25_FP units (field_value_factor with a log modifier — the ES
#: default composition for popularity/quality boosting).
FS_K = 15
#: x99 collapse: best hit per lang (the ES `collapse` field).
COLLAPSE_K = 3


def x_mmr_rerank(spark, sf_dir):
    """x97 — MMR diversified rerank over exact ANN candidates: the
    RAG retrieval step balancing relevance vs redundancy; greedy
    selection in integer units replayed by an unrolled-CTE oracle."""
    e = _embs(spark, sf_dir)
    return (similarity.mmr_rerank(
        e, similarity.modulo_queries(e, ANN_QUERY_MOD))
        .orderBy("qid", "rank"))


def x_bigram_logprob(spark, sf_dir):
    """x96 — bigram LM with Stupid Backoff (Brants et al. 2007):
    counts from the 10% train slice, every document scored; unseen
    bigrams pay the discounted add-one unigram cost."""
    return (text.bigram_logprob(_docs(spark, sf_dir),
                                F.col("doc_id") % BIGRAM_TRAIN_MOD == 0)
            .orderBy("doc_id"))


def x_function_score(spark, sf_dir):
    """x98 — the ES function_score query: BM25 relevance multiplied by
    a field_value_factor(log1p) on the quality score, integer
    fixed-point end-to-end (score_u × wq_u is an exact BIGINT)."""
    from kafana_spark.operators import relevance
    from kafana_spark.operators.relevance import BM25_FP

    d = _docs(spark, sf_dir)
    scored = relevance.bm25_scores(
        d, spark.range(1).select(
            F.explode(F.array(*[F.lit(t) for t in BM25_QUERY_TERMS]))
            .alias("term")))
    wq = text.quality_score(d).select(
        "doc_id",
        F.round(F.log(F.lit(1.0) + F.col("quality_bp"))
                * F.lit(float(BM25_FP))).cast("long").alias("wq_u"))
    return (scored.join(wq, "doc_id")
            .select("doc_id", "n_matched", "score_u",
                    (F.col("score_u") * F.col("wq_u")).alias("fs_u"))
            .orderBy(F.col("fs_u").desc(), "doc_id")
            .limit(FS_K))


def x_collapse(spark, sf_dir):
    """x99 — the ES collapse block: BM25 hits collapsed to the top
    COLLAPSE_K per lang (field collapsing via a per-group rank
    window — never a global sort)."""
    from pyspark.sql import Window

    from kafana_spark.operators import relevance

    d = _docs(spark, sf_dir)
    scored = relevance.bm25_scores(
        d, spark.range(1).select(
            F.explode(F.array(*[F.lit(t) for t in BM25_QUERY_TERMS]))
            .alias("term")))
    w = (Window.partitionBy("lang")
         .orderBy(F.col("score_u").desc(), F.col("doc_id")))
    return (scored.join(d.select("doc_id", "lang"), "doc_id")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= COLLAPSE_K)
            .select("lang", "rn", "doc_id", "score_u")
            .orderBy("lang", "rn"))


# --- remaining ES agg surface + CCNet perplexity gate (x100-x110) -----

#: x102 t_test groups (events.event_type values with ~2k rows each)
TTEST_GROUPS = ("click", "view")
#: x106 frequent_item_sets: pair support floor + result cap (10 keeps
#: the agg non-degenerate at sf0.001's 15 baskets while still pruning)
FIS_MIN_SUPPORT = 10
FIS_SIZE = 20
#: x107 categorize_text: leading-token category width + top-N
CAT_PREFIX = 2
CAT_SIZE = 15
#: x109 random_sampler probability (ppm) — 25% deterministic sample
RSAMPLER_PPM = 250_000
#: x105 multi_terms top-N
MT_SIZE = 10
#: x110 CCNet head/middle/tail perplexity gate: avg_u (0.1-milli-nat)
#: tercile-ish cuts measured at sf0.01 (quantiles 33997/34038) and the
#: keep fractions per band (head all, middle half, tail a tenth).
PPL_HEAD_MAX = 34_000
PPL_MID_MAX = 34_040
PPL_KEEP_MID_PPM = 500_000
PPL_KEEP_TAIL_PPM = 100_000


def x_string_stats(spark, sf_dir):
    """x100 — ES string_stats agg (count/min/max/avg length + char
    Shannon entropy in integer nano-bits) over events.event_type."""
    from kafana_spark import query

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    return query.string_stats(ev, "event_type")


def x_boxplot(spark, sf_dir):
    """x101 — ES boxplot agg: exact q1/q2/q3 + Tukey whiskers per
    l_returnflag over lineitem.l_extendedprice."""
    from kafana_spark import query

    tune_session(spark)
    # no _spread: measured flat (3.28 vs 3.37 min-of-3) — the exact
    # percentile's per-group value-map merge lands on one reducer per
    # group regardless of scan parallelism, so spreading the scan
    # only moves the cost from the map side to the merge
    li = load_table(spark, sf_dir, "lineitem")
    return query.boxplot(li, "l_extendedprice", "l_returnflag")


def x_t_test(spark, sf_dir):
    """x102 — ES t_test agg (Welch): click vs view event values."""
    from kafana_spark import query

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    return query.t_test(ev, "value", "event_type", *TTEST_GROUPS)


def x_rate(spark, sf_dir):
    """x103 — ES rate agg: weekly buckets, per-day sum/doc rates
    normalized by true calendar bucket length."""
    from kafana_spark import query

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    return query.rate_agg(ev, "ts", "value", unit="week")


def x_top_metrics(spark, sf_dir):
    """x104 — ES top_metrics agg: value/user_id at the latest ts per
    event_type (total order via event_id tiebreak)."""
    from kafana_spark import query

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    return query.top_metrics(ev, "event_type", "ts", "event_id",
                             ["value", "user_id"])


def x_multi_terms(spark, sf_dir):
    """x105 — ES multi_terms agg: (lang, source) compound buckets
    ranked by doc count with a sum sub-agg."""
    from kafana_spark import query

    return query.multi_terms(_docs(spark, sf_dir), ["lang", "source"],
                             "n_chars", size=MT_SIZE)


def x_frequent_item_sets(spark, sf_dir):
    """x106 — ES frequent_item_sets agg (pair tier): co-occurring
    event_type pairs across user baskets, support-ranked."""
    from kafana_spark import query

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    return query.frequent_item_sets(ev, "user_id", "event_type",
                                    min_support=FIS_MIN_SUPPORT,
                                    size=FIS_SIZE)


def x_categorize_text(spark, sf_dir):
    """x107 — ES categorize_text agg: leading-token-pattern categories
    with counts and the earliest example doc."""
    from kafana_spark import query

    return query.categorize_text(_docs(spark, sf_dir), "doc_id", "text",
                                 n_prefix=CAT_PREFIX, size=CAT_SIZE)


def x_change_point(spark, sf_dir):
    """x108 — ES change_point agg: the daily-bucket mean-shift argmax
    (integer micro-unit series, IEEE-exact split statistic)."""
    from kafana_spark import query

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    return query.change_point(ev, "ts", "value")


def x_random_sampler(spark, sf_dir):
    """x109 — ES random_sampler agg: deterministic 25% hash sample,
    per-type count/avg plus the 1/p scaled count estimate."""
    from kafana_spark import query

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    return query.random_sampler_agg(ev, "event_id", RSAMPLER_PPM,
                                    "event_type", "value")


def x_ppl_gate(spark, sf_dir):
    """x110 — the CCNet perplexity gate: documents banded head/middle/
    tail by the x71 unigram-LM avg cost (fixed integer cuts), then
    deterministically subsampled per band (head all, middle 50%, tail
    10%) — the standard LM-quality mixture step of a training-data
    pipeline. Scan + broadcast-join of the x71 scores; the keep
    predicate is a pure column expression."""
    from kafana_spark.operators.sample import sample_bucket

    d = _docs(spark, sf_dir)
    lm = text.unigram_logprob(d).select("doc_id", "avg_u")
    band = (F.when(F.col("avg_u") < PPL_HEAD_MAX, F.lit("head"))
            .when(F.col("avg_u") < PPL_MID_MAX, F.lit("middle"))
            .otherwise(F.lit("tail")))
    thr = (F.when(F.col("band") == "head", F.lit(1_000_000))
           .when(F.col("band") == "middle", F.lit(PPL_KEEP_MID_PPM))
           .otherwise(F.lit(PPL_KEEP_TAIL_PPM)))
    return (lm.select("doc_id", "avg_u", band.alias("band"))
            .where(sample_bucket(F.col("doc_id")) < thr)
            .orderBy("doc_id"))


#: x111 has_child: children matching l_quantity >= HC_MIN_QTY, at
#: least HC_MIN_CHILDREN of them (~27% of orders at sf0.001)
HC_MIN_QTY = 30
HC_MIN_CHILDREN = 2
#: x112 has_parent predicate value
HP_PRIORITY = "1-URGENT"


def x_has_child(spark, sf_dir):
    """x111 — ES has_child query (join-field parent side): orders with
    ≥ HC_MIN_CHILDREN lineitems of quantity ≥ HC_MIN_QTY; child rows
    reduce to (key, count) before ever meeting the parent table."""
    from kafana_spark import query

    tune_session(spark)
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    child = li.select(F.col("l_orderkey").alias("o_orderkey"),
                      "l_quantity")
    return (query.has_child(
        orders.select("o_orderkey", "o_orderstatus", "o_totalprice"),
        child, "o_orderkey",
        F.col("l_quantity") >= HC_MIN_QTY,
        min_children=HC_MIN_CHILDREN)
        .orderBy("o_orderkey"))


def x_has_parent(spark, sf_dir):
    """x112 — ES has_parent query: lineitems whose order is URGENT
    (parent reduces to a distinct key set, then a semi-join)."""
    from kafana_spark import query

    tune_session(spark)
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    parent = orders.select(F.col("o_orderkey").alias("l_orderkey"),
                           "o_orderpriority")
    return (query.has_parent(
        li.select("l_orderkey", "l_linenumber", "l_quantity"),
        parent, "l_orderkey",
        F.col("o_orderpriority") == HP_PRIORITY)
        .orderBy("l_orderkey", "l_linenumber"))


def x_novelty(spark, sf_dir):
    """x113 — per-doc n-gram novelty: share of the doc's shingles
    first seen (lowest doc id) in this doc — the corpus-diversity
    price signal of the curation pipeline."""
    return text.novelty(_spread(_docs(spark, sf_dir))).orderBy("doc_id")


#: x114 rank_eval: single-term query batch, binary judgment tf ≥ 4
#: (~13% of docs per term at sf0.01 — sparse enough that the ranking
#: is genuinely graded), cutoff k = 10.
RANK_EVAL_TERMS = ("merge", "spark", "vector", "window")
RANK_EVAL_K = 10
REL_MIN_TF = 4


def x_rank_eval(spark, sf_dir):
    """x114 — the ES rank_eval API: P@k / MRR / NDCG@k per query over
    BM25 rankings, judgments derived from the corpus (tf ≥ threshold),
    every metric an integer (gains rounded per rank before sums)."""
    from kafana_spark.operators import relevance

    return relevance.rank_eval(_docs(spark, sf_dir),
                               list(RANK_EVAL_TERMS),
                               k=RANK_EVAL_K, rel_min_tf=REL_MIN_TF)


#: x118 match_phrase literal (any word bigram occurs ~30× over the
#: 31-word synthetic vocabulary — exact-phrase selectivity is real)
PHRASE = ("data", "merge")
#: x119 span_near clauses + slop (in_order)
SPAN_TERMS = ("spark", "vector")
SPAN_SLOP = 3
#: x120 temperature mixture: mT5/XLM-R style alpha + document budget
MIX_ALPHA = 0.7
MIX_BUDGET = 200


def x_match_phrase(spark, sf_dir):
    """x118 — ES match_phrase (slop 0): exact consecutive-token
    sequence containment as a pure gram-array column expression."""
    from kafana_spark.operators import relevance

    return (relevance.match_phrase(_docs(spark, sf_dir), list(PHRASE))
            .orderBy("doc_id"))


def x_span_near(spark, sf_dir):
    """x119 — ES span_near (two clauses, in_order): second term within
    SPAN_SLOP positions after the first; pair count per doc."""
    from kafana_spark.operators import relevance

    return (relevance.span_near(_docs(spark, sf_dir), SPAN_TERMS[0],
                                SPAN_TERMS[1], SPAN_SLOP)
            .orderBy("doc_id"))


def x_temperature_mixture(spark, sf_dir):
    """x120 — temperature mixture sampling (share ∝ n^alpha): the
    multilingual LM data recipe as a deterministic integer-ppm gate."""
    from kafana_spark.operators import sample

    return (sample.temperature_mixture(_docs(spark, sf_dir),
                                       alpha=MIX_ALPHA,
                                       budget=MIX_BUDGET)
            .orderBy("doc_id"))


#: x123 boosting query: negative term (soft exclusion)
BOOST_NEG_TERM = "slow"
#: x127 _explain target document
EXPLAIN_DOC = 0
#: x129 phrase-suggester input (middle word misspelled)
PHRASE_INPUT = ("spark", "slwo", "merge")
#: x130 _termvectors target document
TV_DOC = 1
#: x134 graph explore seed + shape
GRAPH_SEED = "spark"
GRAPH_MIN_FG = 2
GRAPH_K = 10
#: x137 multi-hop graph explore: frontier + per-vertex sample sizes
GRAPH2_K1 = 5
GRAPH2_K2 = 5
#: x136 BPE merge training: rounds + per-round candidate table size
BPE_MERGE_ROUNDS = 3
BPE_MERGE_TOPK = 5
#: x139 hybrid RRF: query vector id, per-list pool, fused top-k
RRF_QVEC = 0
RRF_POOL = 20
RRF_K = 10
#: x140 semantic decontamination: benchmark split modulus (chosen
#: coprime-ish to EMB_BUCKET_CELL_MOD so the corpus-derived centroid
#: pool survives the split)
SEM_DECON_MOD = 7
#: x141 NB quality classifier: train split, vocab size, label cut
#: (the corpus quality_bp median ≈ 4700 at every SF — balanced classes)
NB_TRAIN_MOD = 3
NB_VOCAB_K = 50
NB_QUALITY_CUT = 4700


def x_nb_quality(spark, sf_dir):
    """x141 — count-based Naive-Bayes quality classifier (the
    DCLM/FineWeb learned-filter pass, engine-exact): heuristic labels
    on the id%3==0 split, add-one-smoothed token LLR weights, integer
    scoring of the held-out corpus."""
    return text.nb_quality_classifier(
        _docs(spark, sf_dir), train_mod=NB_TRAIN_MOD,
        vocab_k=NB_VOCAB_K, quality_cut=NB_QUALITY_CUT)


def x_nb_eval(spark, sf_dir):
    """x142 — classifier evaluation loop (the x124/x125 stance for
    x141): confusion counts + accuracy/precision/recall in integer
    basis points against the held-out heuristic labels — so the
    learned filter's quality is itself an oracle-checked query.

    On THIS synthetic word-soup fixture the report shows the token
    distribution is nearly class-independent (the quality label is
    length/diversity-driven, not token-driven), so the classifier
    degenerates toward its prior — which is exactly what the eval
    loop exists to surface; the closed-form test pins that real
    token-class signal IS learned when present."""
    d = _docs(spark, sf_dir)
    preds = text.nb_quality_classifier(
        d, train_mod=NB_TRAIN_MOD, vocab_k=NB_VOCAB_K,
        quality_cut=NB_QUALITY_CUT)
    truth = (text.quality_score(d)
             .where(F.col("doc_id") % NB_TRAIN_MOD != 0)
             .select("doc_id",
                     (F.col("quality_bp") >= NB_QUALITY_CUT)
                     .alias("yt")))
    j = preds.join(truth, "doc_id")
    cm = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("pred") & F.col("yt"), 1).otherwise(0))
        .alias("tp"),
        F.sum(F.when(F.col("pred") & ~F.col("yt"), 1).otherwise(0))
        .alias("fp"),
        F.sum(F.when(~F.col("pred") & F.col("yt"), 1).otherwise(0))
        .alias("fn"),
        F.sum(F.when(~F.col("pred") & ~F.col("yt"), 1).otherwise(0))
        .alias("tn"))
    return cm.select(
        "n", "tp", "fp", "fn", "tn",
        F.expr("10000 * (tp + tn) div n").cast("long").alias("acc_bp"),
        F.when(F.col("tp") + F.col("fp") > 0,
               F.expr("10000 * tp div (tp + fp)"))
        .otherwise(F.lit(0)).cast("long").alias("prec_bp"),
        F.when(F.col("tp") + F.col("fn") > 0,
               F.expr("10000 * tp div (tp + fn)"))
        .otherwise(F.lit(0)).cast("long").alias("rec_bp"))


def x_semantic_decon(spark, sf_dir):
    """x140 — semantic benchmark decontamination (the embedding member
    of the decontamination triad beside x31 doc-level n-grams and x77
    ExactSubstr spans): vec_id % SEM_DECON_MOD == 0 plays the
    benchmark; SemDeDup-bucketed cross-set candidates only."""
    e = _embs(spark, sf_dir)
    return dedup.semantic_decontaminate(
        e.where(F.col("vec_id") % SEM_DECON_MOD != 0),
        e.where(F.col("vec_id") % SEM_DECON_MOD == 0),
        EMB_DUP_THRESHOLD, EMB_BUCKET_CELL_MOD, EMB_BUCKET_N_ASSIGN)


def x_graph_explore(spark, sf_dir):
    """x134 — the X-Pack Graph explore API (Kibana 6.8 Graph app):
    one significance-weighted expansion hop from a seed term."""
    from kafana_spark import query

    return query.graph_explore(_docs(spark, sf_dir), GRAPH_SEED,
                               min_fg=GRAPH_MIN_FG, k=GRAPH_K)


def x_graph_explore_hops(spark, sf_dir):
    """x137 — the Graph API's iterative expansion: two unrolled hops
    with per-vertex top-k diversification; hop 2 expands each of the
    k1 frontier terms to its own k2 new vertices."""
    from kafana_spark import query

    return query.graph_explore_hops(_docs(spark, sf_dir), GRAPH_SEED,
                                    min_fg=GRAPH_MIN_FG,
                                    k1=GRAPH2_K1, k2=GRAPH2_K2)


def x_bpe_merge_train(spark, sf_dir):
    """x136 — iterative BPE merge training (the tokenizer-prep loop
    x33 scores one round of): count pairs, apply the top merge,
    re-count — unrolled for BPE_MERGE_ROUNDS rounds."""
    # _spread: r13 min-of-5 quiet A/B 2.57 -> 2.30 s (the per-round
    # pair-count explode is the heavy narrow leg)
    return text.bpe_merge_train(_spread(_docs(spark, sf_dir)),
                                n_merges=BPE_MERGE_ROUNDS,
                                topk=BPE_MERGE_TOPK)


def x_bpe_encode(spark, sf_dir):
    """x138 — the encode half of x136: apply ALL learned merges and
    report per-doc token → symbol compression (map-only encode)."""
    return text.bpe_encode(_docs(spark, sf_dir),
                           n_merges=BPE_MERGE_ROUNDS)


def x_stored_bpe_encode(spark, sf_dir):
    """x143 — x138 served from the PERSISTED merge table (tokenizer
    artifact): training's N count passes paid once at build, encode is
    a pure map over stored merges. Same oracle as x138 — the hash
    match proves the store roundtrip lossless."""
    d = _docs(spark, sf_dir)
    root = _cached_index_root(
        "bpeidx", sf_dir,
        lambda r: text.build_bpe_index(d, r,
                                       n_merges=BPE_MERGE_ROUNDS))
    return text.bpe_encode_from_store(d, root)


def x_hybrid_rrf(spark, sf_dir):
    """x139 — Reciprocal Rank Fusion (the ES rrf retriever / hybrid
    search primitive): fuse the x88 BM25 ranking with the x07-style
    exact-cosine ranking for one query vector; integer RRF scores."""
    from kafana_spark.operators import relevance

    return relevance.hybrid_rrf(_docs(spark, sf_dir),
                                _embs(spark, sf_dir),
                                list(BM25_QUERY_TERMS), RRF_QVEC,
                                k=RRF_K, pool=RRF_POOL)


def x_hybrid_rrf_lsh(spark, sf_dir):
    """x144 — x139's fusion with the INDEXED vector ranking: the
    hyperplane-LSH bucketed top-k (x81's plan) replaces the exhaustive
    scan; the fusion tail is shared code. The production hybrid-search
    shape at 100 TB."""
    from kafana_spark.operators import relevance

    return relevance.hybrid_rrf_lsh(_docs(spark, sf_dir),
                                    _embs(spark, sf_dir),
                                    list(BM25_QUERY_TERMS), RRF_QVEC,
                                    k=RRF_K, pool=RRF_POOL)


def x_ann_ivf_lloyd(spark, sf_dir):
    """x147 — x08's IVF probe path served from the LLOYD-refined
    centroids (x145's walk, same KM_MOD seeds as x08's modulo cells):
    the quantizer upgrade in place — balanced cells follow the data,
    probes hit true neighbors more often, and unlike the MLlib
    ``method='kmeans'`` path the whole chain stays oracle-exact."""
    e = _embs(spark, sf_dir)
    q = similarity.modulo_queries(e, ANN_QUERY_MOD)
    return (similarity.ivf_topk(e, q, ANN_K, centroid_mod=KM_MOD,
                                n_probe=ANN_N_PROBE, method="lloyd",
                                n_assign=ANN_N_ASSIGN)
            .select("qid", "vec_id", "cos", "rank")
            .orderBy("qid", "rank"))


def x_knn_graph(spark, sf_dir):
    """x149 — bucketed k-NN graph: every corpus vector queries its
    own probed IVF cells; the n² all-pairs never materializes."""
    return (similarity.knn_graph(_embs(spark, sf_dir), k=KNN_K,
                                 method="fixed", centroid_k=KNN_CELLS,
                                 n_probe=KNN_N_PROBE,
                                 n_assign=KNN_N_ASSIGN)
            .select("qid", "vec_id", "cos", "rank")
            .orderBy("qid", "rank"))


def x_mutual_knn(spark, sf_dir):
    """x150 — mutual k-NN edges over x149's graph (the standard
    local-density filter: hub-directed one-way edges drop out)."""
    return (similarity.mutual_knn(_embs(spark, sf_dir), k=KNN_K,
                                  method="fixed", centroid_k=KNN_CELLS,
                                  n_probe=KNN_N_PROBE,
                                  n_assign=KNN_N_ASSIGN)
            .orderBy("a", "b"))


def x_knn_clusters(spark, sf_dir):
    """x151 — density clusters: connected components over x150's
    mutual k-NN edges (min-label reachability + cluster size), the
    semantic-domain-discovery step. Same CC machinery and oracle
    pattern as x24/x73; the returned plan is JVM-only (labels
    materialize during the call), so the orderBy is safe."""
    return (dedup.knn_clusters(_embs(spark, sf_dir), k=KNN_K,
                               method="fixed", centroid_k=KNN_CELLS,
                               n_probe=KNN_N_PROBE,
                               n_assign=KNN_N_ASSIGN,
                               min_cos=KNN_CLUSTER_MIN_COS)
            .orderBy("vec_id"))


def x_cluster_sample(spark, sf_dir):
    """x152 — cluster-balanced sampling over x151's density
    clusters: keep ceil(sqrt(csize)) per cluster by portable hash
    (sub-linear down-weighting of over-represented semantic
    regions — the cluster-then-sample curation step)."""
    return (dedup.cluster_sample(_embs(spark, sf_dir), k=KNN_K,
                                 method="fixed", centroid_k=KNN_CELLS,
                                 n_probe=KNN_N_PROBE,
                                 n_assign=KNN_N_ASSIGN,
                                 min_cos=KNN_CLUSTER_MIN_COS)
            .orderBy("vec_id"))


def x_cluster_terms(spark, sf_dir):
    """x153 — cluster labeling: the CLTERM_TOP largest x151 density
    clusters described by their CLTERM_K most distinctive tokens
    (integer doc-frequency lift vs the whole corpus; documents join
    embeddings 1:1 on doc_id = vec_id)."""
    return dedup.cluster_terms(
        _embs(spark, sf_dir), _docs(spark, sf_dir), k=KNN_K,
        method="fixed", centroid_k=KNN_CELLS, n_probe=KNN_N_PROBE,
        n_assign=KNN_N_ASSIGN, min_cos=KNN_CLUSTER_MIN_COS,
        top_clusters=CLTERM_TOP, terms_k=CLTERM_K,
        min_df=CLTERM_MIN_DF)


def x_bpe_fertility(spark, sf_dir):
    """x154 — tokenizer fertility by language: per-lang
    token→symbol compression under the x136 merge list (integer
    token-mass-weighted, the tokenizer-fairness report)."""
    return text.bpe_fertility(_docs(spark, sf_dir),
                              n_merges=BPE_MERGE_ROUNDS)


def x_length_histogram(spark, sf_dir):
    """x155 — sequence-length distribution: doc count + token mass
    per LEN_BIN_W-token bin with cumulative token share (the
    context-length planning report behind packing/truncation)."""
    return text.length_histogram(_docs(spark, sf_dir),
                                 bin_w=LEN_BIN_W)


def x_lang_card(spark, sf_dir):
    """x159 — per-language corpus datasheet: token mass + share,
    distinct tokens, mean quality, exact-dup rate (the stratified
    companion of x126; every mixture decision starts here)."""
    return text.lang_corpus_card(_docs(spark, sf_dir))


def x_skew_report(spark, sf_dir):
    """x160 — shuffle-skew advisor on the events fact table's
    event_type key: per hot key the row count, corpus share, and the
    integer salt recommendation ceil(n·parts div total) feeding
    salted_join/salted_agg."""
    from kafana_spark.operators.skew import skew_report

    tune_session(spark)
    return skew_report(load_table(spark, sf_dir, "events"),
                       "event_type", parts=SKEW_PARTS, top_k=SKEW_K)


def x_curation_v4(spark, sf_dir):
    """x161 — curation composition v4, the r6-session funnel: v3
    gates on absolute thresholds; v4 swaps in the LEARNED and FAIR
    variants built this round — (1) language-fair quality percentile
    (x158), (2) the NB classifier verdict (x141; training-split docs
    pass by their own heuristic label — the label the classifier was
    fit to reproduce), (3) exact dedup keep-first among survivors,
    (4) the cluster-balanced diversity quota (x152, computed on the
    full embedding corpus: the diversity budget is a property of the
    semantic space, not of upstream filters). Output is the funnel —
    (stage, n_kept) — so the whole composition sits under one
    oracle hash."""
    d = _docs(spark, sf_dir)
    e = _embs(spark, sf_dir)
    s1 = (text.lang_fair_gate(d, keep_pct_bp=LANG_FAIR_KEEP_BP)
          .where(F.col("keep")).select("doc_id"))
    q = text.quality_score(d).select("doc_id", "quality_bp")
    nb = text.nb_quality_classifier(
        d, train_mod=NB_TRAIN_MOD, vocab_k=NB_VOCAB_K,
        quality_cut=NB_QUALITY_CUT).select("doc_id", "pred")
    s2 = (s1.join(q, "doc_id").join(nb, "doc_id", "left")
          .where(F.when(F.col("doc_id") % NB_TRAIN_MOD == 0,
                        F.col("quality_bp") >= NB_QUALITY_CUT)
                 .otherwise(F.coalesce(F.col("pred"), F.lit(False))))
          .select("doc_id"))
    # keep-first on the 32-byte content hash, not the text (the
    # exact_dedup / r12 collapse-key discipline): identical survivor
    # set, the dedup shuffle never carries document text
    s3 = (s2.join(d.select("doc_id", "text"), "doc_id")
          .groupBy(F.unhex(F.sha2(F.col("text"), 256)).alias("__th"))
          .agg(F.min("doc_id").alias("doc_id"))
          .select("doc_id"))
    cs = (dedup.cluster_sample(e, k=KNN_K,
                               method="fixed", centroid_k=KNN_CELLS,
                               n_probe=KNN_N_PROBE,
                               n_assign=KNN_N_ASSIGN,
                               min_cos=KNN_CLUSTER_MIN_COS)
          .select(F.col("vec_id").alias("doc_id")))
    s4 = s3.join(cs, "doc_id")

    def cnt(df, label):
        return (df.agg(F.count(F.lit(1)).alias("n_kept"))
                .select(F.lit(label).alias("stage"), "n_kept"))

    return (cnt(d, "s0_all")
            .unionAll(cnt(s1, "s1_lang_fair"))
            .unionAll(cnt(s2, "s2_nb_filter"))
            .unionAll(cnt(s3, "s3_exact_dedup"))
            .unionAll(cnt(s4, "s4_cluster_quota"))
            .orderBy("stage"))


def x_lang_fair_gate(spark, sf_dir):
    """x158 — language-fair quality gate: per-language percentile
    rank of quality_bp (integer), keep = top half of EACH language
    (an absolute corpus-wide cut skews the language mix)."""
    return text.lang_fair_gate(_docs(spark, sf_dir),
                               keep_pct_bp=LANG_FAIR_KEEP_BP)


def x_gopher_rules(spark, sf_dir):
    """x162 — Gopher-style per-rule quality gate (Rae et al. 2021
    appendix A re-expressed on the word-soup corpus): word-count
    bounds, mean-word-length bounds, distinct-stop-word floor, and
    the duplicate-bigram token fraction, each reported as its own
    boolean plus the conjunction."""
    return (text.gopher_rules(
        _docs(spark, sf_dir),
        min_words=GOPHER_MIN_WORDS, max_words=GOPHER_MAX_WORDS,
        min_mwl_x10=GOPHER_MIN_MWL, max_mwl_x10=GOPHER_MAX_MWL,
        min_stop=GOPHER_MIN_STOP, max_dup2_bp=GOPHER_MAX_DUP2_BP)
        .orderBy("doc_id"))


def x_knn_label_prop(spark, sf_dir):
    """x163 — k-NN majority-vote label propagation with leave-one-out
    accuracy per true label: the annotation-transfer / label-quality
    check over the embedding space, served from the same fixed-k
    bucketed graph as x149 (the n² all-pairs never materializes)."""
    return similarity.knn_label_prop(
        _embs(spark, sf_dir), k=KNN_K, method="fixed",
        centroid_k=KNN_CELLS, n_probe=KNN_N_PROBE,
        n_assign=KNN_N_ASSIGN)


def x_label_confusion(spark, sf_dir):
    """x180 — leave-one-out confusion matrix of the kNN majority
    vote (x163's chain): off-diagonal mass marks systematically
    confused label pairs — merge/relabel candidates in label-
    taxonomy cleanup."""
    return similarity.knn_label_confusion(
        _embs(spark, sf_dir), k=KNN_K, method="fixed",
        centroid_k=KNN_CELLS, n_probe=KNN_N_PROBE,
        n_assign=KNN_N_ASSIGN)


def x_nb_reliability(spark, sf_dir):
    """x179 — one-row reliability summary of the x164 table: bin-
    mass-weighted |per-bin positive rate − base rate| in bp (0 =
    scores carry no label information; higher = better-separated
    reliability bins)."""
    return text.nb_reliability_summary(
        _docs(spark, sf_dir), train_mod=NB_TRAIN_MOD,
        vocab_k=NB_VOCAB_K, quality_cut=NB_QUALITY_CUT,
        bin_w_u=NB_CAL_BIN_W_U)


def x_nb_calibration(spark, sf_dir):
    """x164 — reliability table for the x141 NB classifier:
    fixed-width score bins vs empirical positive rate under the
    heuristic truth (monotone pos_bp = well-ordered scores)."""
    return text.nb_calibration(
        _docs(spark, sf_dir), train_mod=NB_TRAIN_MOD,
        vocab_k=NB_VOCAB_K, quality_cut=NB_QUALITY_CUT,
        bin_w_u=NB_CAL_BIN_W_U)


def x_gate_kappa(spark, sf_dir):
    """x165 — Cohen's kappa between the heuristic quality gate and
    the NB gate at the NB_KAPPA_CUT_U operating point: chance-
    corrected agreement on the held-out split (raw agreement
    over-reads when both gates pass almost everything)."""
    return text.gate_agreement(
        _docs(spark, sf_dir), train_mod=NB_TRAIN_MOD,
        vocab_k=NB_VOCAB_K, quality_cut=NB_QUALITY_CUT,
        nb_cut_u=NB_KAPPA_CUT_U)


def _v5_stages(spark, sf_dir):
    """The x168 funnel stages as DataFrames (shared with x176's
    before/after impact report): returns (d, [s1..s6])."""
    d = _docs(spark, sf_dir)
    e = _embs(spark, sf_dir)
    s1 = (text.gopher_rules(
        d, min_words=GOPHER_MIN_WORDS, max_words=GOPHER_MAX_WORDS,
        min_mwl_x10=GOPHER_MIN_MWL, max_mwl_x10=GOPHER_MAX_MWL,
        min_stop=GOPHER_MIN_STOP, max_dup2_bp=GOPHER_MAX_DUP2_BP)
        .where(F.col("keep")).select("doc_id"))
    s2 = (text.lang_fair_gate(d.join(s1, "doc_id"),
                              keep_pct_bp=LANG_FAIR_KEEP_BP)
          .where(F.col("keep")).select("doc_id"))
    q = text.quality_score(d).select("doc_id", "quality_bp")
    nb = text.nb_quality_classifier(
        d, train_mod=NB_TRAIN_MOD, vocab_k=NB_VOCAB_K,
        quality_cut=NB_QUALITY_CUT).select("doc_id", "pred")
    s3 = (s2.join(q, "doc_id").join(nb, "doc_id", "left")
          .where(F.when(F.col("doc_id") % NB_TRAIN_MOD == 0,
                        F.col("quality_bp") >= NB_QUALITY_CUT)
                 .otherwise(F.coalesce(F.col("pred"), F.lit(False))))
          .select("doc_id"))
    # keep-first on the 32-byte content hash (see x_curation_v4 s3)
    s4 = (s3.join(d.select("doc_id", "text"), "doc_id")
          .groupBy(F.unhex(F.sha2(F.col("text"), 256)).alias("__th"))
          .agg(F.min("doc_id").alias("doc_id"))
          .select("doc_id"))
    # ONE kNN graph for both embedding stages (r13): the outlier drop
    # and the cluster quota build the SAME directed graph (same k /
    # quantizer), and its Arrow-kernel scoring leg is a PythonUDF
    # stage runtime exchange reuse cannot conflate — two independent
    # builds per funnel run. The checkpointed frame is the k-pruned
    # edge list (n·k light rows, ~1/20 the vector bytes — the same
    # class clusters_from_mutual already persists within-call).
    from kafana_spark.session import serve_materialize

    g = serve_materialize(
        similarity.knn_graph(e, k=KNN_K, method="fixed",
                             centroid_k=KNN_CELLS,
                             n_probe=KNN_N_PROBE,
                             n_assign=KNN_N_ASSIGN),
        eager=False)
    ol = (similarity.knn_outliers(
        e, k=KNN_K, method="fixed", centroid_k=KNN_CELLS,
        n_probe=KNN_N_PROBE, n_assign=KNN_N_ASSIGN,
        bottom=OUTLIER_K, graph=g)
        .select(F.col("vec_id").alias("doc_id")))
    s5 = s4.join(ol, "doc_id", "left_anti")
    cs = (dedup.cluster_sample(e, k=KNN_K,
                               method="fixed", centroid_k=KNN_CELLS,
                               n_probe=KNN_N_PROBE,
                               n_assign=KNN_N_ASSIGN,
                               min_cos=KNN_CLUSTER_MIN_COS,
                               graph=g)
          .select(F.col("vec_id").alias("doc_id")))
    s6 = s5.join(cs, "doc_id")
    return d, [s1, s2, s3, s4, s5, s6]


def x_curation_v5(spark, sf_dir):
    """x168 — curation composition v5, the r6-session-3 funnel: v4's
    learned/fair gates preceded by the Gopher per-rule gate (x162)
    and followed by embedding-outlier removal (x166) before the
    diversity quota — (1) Gopher rules, (2) language-fair quality
    percentile WITHIN the surviving pool (stage semantics: each gate
    filters the previous pool), (3) NB classifier verdict (training
    docs pass by their own heuristic label), (4) exact dedup
    keep-first, (5) drop the OUTLIER_K most isolated embeddings,
    (6) cluster-balanced diversity quota on the full semantic space.
    Output is the (stage, n_kept) funnel under one oracle hash."""
    d, stages = _v5_stages(spark, sf_dir)

    def cnt(df, label):
        return (df.agg(F.count(F.lit(1)).alias("n_kept"))
                .select(F.lit(label).alias("stage"), "n_kept"))

    labels = ["s1_gopher", "s2_lang_fair", "s3_nb_filter",
              "s4_exact_dedup", "s5_outlier_drop",
              "s6_cluster_quota"]
    out = cnt(d, "s0_all")
    for lbl, st in zip(labels, stages):
        out = out.unionAll(cnt(st, lbl))
    return out.orderBy("stage")


def x_rejection_report(spark, sf_dir):
    """x169 — gate-rejection report: the three independent quality
    gates (Gopher rules x162, language-fair percentile x158, NB
    verdict x141 with the training-split heuristic rule) evaluated
    on the FULL corpus and cross-tabulated — the "which gate binds"
    diagnostic read before tuning funnel thresholds (a doc rejected
    by all three is cheap to drop; a large only-one-gate cell says
    that gate disagrees with the other signals and deserves review).
    Output: (g_gopher, g_fair, g_nb, n, share_bp), <= 8 rows."""
    d = _docs(spark, sf_dir)
    gg = (text.gopher_rules(
        d, min_words=GOPHER_MIN_WORDS, max_words=GOPHER_MAX_WORDS,
        min_mwl_x10=GOPHER_MIN_MWL, max_mwl_x10=GOPHER_MAX_MWL,
        min_stop=GOPHER_MIN_STOP, max_dup2_bp=GOPHER_MAX_DUP2_BP)
        .select("doc_id", F.col("keep").alias("g_gopher")))
    gf = (text.lang_fair_gate(d, keep_pct_bp=LANG_FAIR_KEEP_BP)
          .select("doc_id", F.col("keep").alias("g_fair")))
    q = text.quality_score(d).select("doc_id", "quality_bp")
    nb = text.nb_quality_classifier(
        d, train_mod=NB_TRAIN_MOD, vocab_k=NB_VOCAB_K,
        quality_cut=NB_QUALITY_CUT).select("doc_id", "pred")
    gn = (d.select("doc_id").join(q, "doc_id")
          .join(nb, "doc_id", "left")
          .select("doc_id",
                  F.when(F.col("doc_id") % NB_TRAIN_MOD == 0,
                         F.col("quality_bp") >= NB_QUALITY_CUT)
                  .otherwise(F.coalesce(F.col("pred"), F.lit(False)))
                  .alias("g_nb")))
    j = gg.join(gf, "doc_id").join(gn, "doc_id")
    # n_total = Σn over the ≤8-row cross-tab — an all-rows window on
    # the grouped frame, NOT j.agg(): the separate count was a second
    # full reference to j, and as a different aggregation it shared no
    # exchange with the groupBy, so the whole 3-gate pipeline ran
    # twice (r12; the x169 half of the audit's 48-scan flag)
    from pyspark.sql.window import Window as _W
    w_all = _W.rowsBetween(_W.unboundedPreceding, _W.unboundedFollowing)
    return (j.groupBy("g_gopher", "g_fair", "g_nb")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("n_total", F.sum("n").over(w_all))
            .select("g_gopher", "g_fair", "g_nb", "n",
                    F.expr("10000 * n div n_total").cast("long")
                    .alias("share_bp"))
            .orderBy("g_gopher", "g_fair", "g_nb"))


def x_source_gate_matrix(spark, sf_dir):
    """x170 — per-source gate keep-rate matrix: the x169 gates
    sliced by the source key (which ingest feeds lose the most to
    which gate — the report that decides per-source thresholds or
    source deprecation). Output: (source, n_docs, gopher_bp,
    fair_bp, nb_bp) ordered by source."""
    d = _docs(spark, sf_dir)
    gg = (text.gopher_rules(
        d, min_words=GOPHER_MIN_WORDS, max_words=GOPHER_MAX_WORDS,
        min_mwl_x10=GOPHER_MIN_MWL, max_mwl_x10=GOPHER_MAX_MWL,
        min_stop=GOPHER_MIN_STOP, max_dup2_bp=GOPHER_MAX_DUP2_BP)
        .select("doc_id", F.col("keep").cast("int").alias("gg")))
    gf = (text.lang_fair_gate(d, keep_pct_bp=LANG_FAIR_KEEP_BP)
          .select("doc_id", F.col("keep").cast("int").alias("gf")))
    q = text.quality_score(d).select("doc_id", "quality_bp")
    nb = text.nb_quality_classifier(
        d, train_mod=NB_TRAIN_MOD, vocab_k=NB_VOCAB_K,
        quality_cut=NB_QUALITY_CUT).select("doc_id", "pred")
    gn = (d.select("doc_id").join(q, "doc_id")
          .join(nb, "doc_id", "left")
          .select("doc_id",
                  F.when(F.col("doc_id") % NB_TRAIN_MOD == 0,
                         F.col("quality_bp") >= NB_QUALITY_CUT)
                  .otherwise(F.coalesce(F.col("pred"), F.lit(False)))
                  .cast("int").alias("gn")))
    j = (d.select("doc_id", "source")
         .join(gg, "doc_id").join(gf, "doc_id").join(gn, "doc_id"))
    return (j.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("gg").alias("sg"), F.sum("gf").alias("sf"),
                 F.sum("gn").alias("sn"))
            .select("source", "n_docs",
                    F.expr("10000 * sg div n_docs").cast("long")
                    .alias("gopher_bp"),
                    F.expr("10000 * sf div n_docs").cast("long")
                    .alias("fair_bp"),
                    F.expr("10000 * sn div n_docs").cast("long")
                    .alias("nb_bp"))
            .orderBy("source"))


def x_dup_quality(spark, sf_dir):
    """x171 — duplication × quality interaction: docs banded by the
    size of their PREFIX-duplicate group (x12's head fingerprint —
    md5 of the first 8 tokens; whole-text duplicates are too rare in
    the fixtures to band) with the distinct-group count and the
    integer mean quality per band — the check for whether
    near-duplicated content is systematically lower-quality (if so,
    dedup doubles as a quality gate; if not, dedup and quality
    filtering are independent budget decisions)."""
    d = _docs(spark, sf_dir)
    q = text.quality_score(d).select("doc_id", "quality_bp")
    fp = text.fingerprint(d).select("doc_id", "fp_head")
    sz = fp.groupBy("fp_head").agg(F.count(F.lit(1)).alias("csize"))
    band = (F.when(F.col("csize") >= 3, F.lit("3+"))
            .otherwise(F.col("csize").cast("string")))
    j = (fp.join(sz, "fp_head").join(q, "doc_id")
         .select(band.alias("csize_band"), "fp_head", "quality_bp"))
    return (j.groupBy("csize_band")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct("fp_head").alias("n_groups"),
                 F.sum("quality_bp").alias("qs"))
            .select("csize_band", "n_docs", "n_groups",
                    F.expr("qs div n_docs").cast("long")
                    .alias("mean_quality_bp"))
            .orderBy("csize_band"))


def x_stored_gates(spark, sf_dir):
    """x172 — the x169 rejection cross-tab served from the PERSISTED
    gate index (build = train the NB weights + freeze the per-lang
    percentile cuts + gate the corpus once; serve = one combinable
    aggregate over stored booleans, no text read, no model re-run).
    Same oracle as x169 — a hash match proves the store roundtrip is
    lossless. The x57/x74-style price-list twin for the gate chain."""
    from kafana_spark import gate_index

    d = _docs(spark, sf_dir)
    root = _cached_index_root(
        "gateidx", sf_dir, lambda r: gate_index.build_gate_index(
            d, r,
            min_words=GOPHER_MIN_WORDS, max_words=GOPHER_MAX_WORDS,
            min_mwl_x10=GOPHER_MIN_MWL, max_mwl_x10=GOPHER_MAX_MWL,
            min_stop=GOPHER_MIN_STOP, max_dup2_bp=GOPHER_MAX_DUP2_BP,
            keep_pct_bp=LANG_FAIR_KEEP_BP, train_mod=NB_TRAIN_MOD,
            vocab_k=NB_VOCAB_K, quality_cut=NB_QUALITY_CUT))
    return gate_index.rejection_report_from_store(spark, root)


def x_pca_convergence(spark, sf_dir):
    """x173 — the Rayleigh-quotient ladder of the x167 power walk
    (one λ row per unrolled round; flat = converged, rising = spend
    more rounds) — the eigen-walk convergence diagnostic, exactly as
    x145's inertia rows are the Lloyd walk's."""
    return similarity.pca_convergence(_embs(spark, sf_dir),
                                      n_iters=PCA_ITERS, dim=EMB_DIM)


def x_stored_knn_graph(spark, sf_dir):
    """x175 — the x149 corpus k-NN graph served from the PERSISTED
    IVF index (fixed-k quantizer, same constants): build pays the
    assignment pass once; the graph's repeated consumers (mutual
    edges, clusters, label propagation, outlier triage) re-derive
    nothing. Same oracle as x149 — a hash match proves the store
    roundtrip is lossless."""
    from kafana_spark import ann_index

    e = _embs(spark, sf_dir)
    root = _cached_index_root(
        "knnidx", sf_dir, lambda r: ann_index.build_ann_index(
            e, r, method="fixed", centroid_k=KNN_CELLS,
            n_assign=KNN_N_ASSIGN))
    return (ann_index.knn_graph_from_index(spark, root, k=KNN_K,
                                           n_probe=KNN_N_PROBE)
            .select("qid", "vec_id", "cos", "rank")
            .orderBy("qid", "rank"))


def x_stored_knn_clusters(spark, sf_dir):
    """x177 — x151's density clusters served from the PERSISTED IVF
    index (stored graph → mutual edges → shared CC machinery): the
    whole cluster-then-sample family now amortizes one assignment
    build. Same oracle as x151 — lossless roundtrip proof."""
    from kafana_spark import ann_index

    e = _embs(spark, sf_dir)
    root = _cached_index_root(
        "knnidx", sf_dir, lambda r: ann_index.build_ann_index(
            e, r, method="fixed", centroid_k=KNN_CELLS,
            n_assign=KNN_N_ASSIGN))
    return (ann_index.knn_clusters_from_index(
        spark, root, k=KNN_K, n_probe=KNN_N_PROBE,
        min_cos=KNN_CLUSTER_MIN_COS)
        .orderBy("vec_id"))


def x_stored_cluster_sample(spark, sf_dir):
    """x178 — x152's diversity quota served from the PERSISTED graph
    (x177's clusters + the shared quota tail): the full
    cluster-then-sample chain now runs off one stored assignment
    build. Same oracle as x152."""
    from kafana_spark import ann_index

    e = _embs(spark, sf_dir)
    root = _cached_index_root(
        "knnidx", sf_dir, lambda r: ann_index.build_ann_index(
            e, r, method="fixed", centroid_k=KNN_CELLS,
            n_assign=KNN_N_ASSIGN))
    return (ann_index.cluster_sample_from_index(
        spark, root, k=KNN_K, n_probe=KNN_N_PROBE,
        min_cos=KNN_CLUSTER_MIN_COS)
        .orderBy("vec_id"))


def x_curation_impact(spark, sf_dir):
    """x176 — curation impact on the language mix: per-lang corpus
    shares BEFORE vs AFTER the full v5 funnel (integer bp, negative
    deltas allowed) — the fairness audit that catches a pipeline
    silently skewing the language distribution even when each gate
    looked reasonable alone."""
    d, stages = _v5_stages(spark, sf_dir)
    keep = stages[-1]
    before = (d.groupBy("lang")
              .agg(F.count(F.lit(1)).alias("n_before")))
    after = (d.join(keep, "doc_id").groupBy("lang")
             .agg(F.count(F.lit(1)).alias("n_after")))
    tb = before.agg(F.sum("n_before").alias("tot_b"))
    ta = after.agg(F.coalesce(F.sum("n_after"), F.lit(0))
                   .alias("tot_a"))
    sb = F.expr("10000 * n_before div tot_b")
    sa = F.when(F.col("tot_a") > 0,
                F.expr("10000 * n_after div tot_a")).otherwise(F.lit(0))
    return (before.join(after, "lang", "left")
            .na.fill({"n_after": 0})
            .crossJoin(F.broadcast(tb)).crossJoin(F.broadcast(ta))
            .select("lang", "n_before",
                    F.col("n_after").cast("long").alias("n_after"),
                    sb.cast("long").alias("share_before_bp"),
                    sa.cast("long").alias("share_after_bp"),
                    (sa - sb).cast("long").alias("delta_bp"))
            .orderBy("lang"))


def x_corpus_map(spark, sf_dir):
    """x174 — 2-D semantic corpus map: the (bin1, bin2, n) density
    grid of centered projections onto the top two principal
    components (component 2 from the exactly-shared scaled-integer
    deflation) — the heatmap a curation UI renders to see cluster
    structure and outlier shelves at a glance."""
    return similarity.pca_corpus_map(_embs(spark, sf_dir),
                                     n_iters=PCA_ITERS, dim=EMB_DIM,
                                     bin_w=PCA_BIN_W)


def x_pca_power(spark, sf_dir):
    """x167 — top principal component by PCA_ITERS unrolled power-
    iteration rounds on the exact integer scaled covariance
    n·S − s·sᵀ (the Lloyd-walk discipline applied to the eigen
    problem), reported as the corpus's centered projection
    histogram — the variance-structure probe before whitening /
    1-d stratified sampling."""
    return similarity.pca_power(_embs(spark, sf_dir),
                                n_iters=PCA_ITERS, dim=EMB_DIM,
                                bin_w=PCA_BIN_W)


def x_emb_outliers(spark, sf_dir):
    """x166 — embedding outlier triage: the OUTLIER_K vectors with
    the lowest mean top-k neighbor cosine over the x149 graph
    (isolated points = noise / novel content), -10000 sentinel for
    graph singletons."""
    return similarity.knn_outliers(
        _embs(spark, sf_dir), k=KNN_K, method="fixed",
        centroid_k=KNN_CELLS, n_probe=KNN_N_PROBE,
        n_assign=KNN_N_ASSIGN, bottom=OUTLIER_K)


def x_source_dup_matrix(spark, sf_dir):
    """x157 — cross-source duplication matrix: x02's near-dup pairs
    rolled up by their endpoints' (source, source), canonical
    src_a <= src_b (which feeds duplicate each other)."""
    return dedup.source_dup_matrix(_docs(spark, sf_dir),
                                   NEAR_DUP_THRESHOLD)


def x_lloyd_update(spark, sf_dir):
    """x156 — mini-batch centroid maintenance: Lloyd walk on the
    even-id base slice, ONE assignment pass folds the odd-id batch's
    sufficient statistics into the cells, integer L1 drift per cell
    (the rebuild trigger for the stored Lloyd index)."""
    return similarity.lloyd_update(_embs(spark, sf_dir),
                                   batch_mod=LLOYD_BATCH_MOD,
                                   centroid_mod=KM_MOD,
                                   n_iters=KM_ITERS, dim=EMB_DIM)


def x_stored_lloyd(spark, sf_dir):
    """x148 — x147's Lloyd IVF through the PERSISTED index (the
    x58/x63/x83 stance): the refinement walk runs once at build,
    centroids + assignments land in the store, queries pay only the
    probe. Same oracle as x147 — a hash match proves the store
    roundtrip keeps the refined quantizer exact, and the standard
    append/stream maintenance sinks work unchanged (assignments
    against STORED centroids, no refit)."""
    from kafana_spark import ann_index

    e = _embs(spark, sf_dir)
    q = similarity.modulo_queries(e, ANN_QUERY_MOD)
    root = _cached_index_root(
        "lloydidx", sf_dir,
        lambda r: ann_index.build_ann_index(
            e, r, centroid_mod=KM_MOD, method="lloyd",
            n_assign=ANN_N_ASSIGN))
    return (ann_index.ann_topk_from_index(spark, root, q, ANN_K,
                                          n_probe=ANN_N_PROBE)
            .select("qid", "vec_id", "cos", "rank")
            .orderBy("qid", "rank"))


def x_nb_roc(spark, sf_dir):
    """x146 — threshold sweep + rank AUC for the x141 classifier:
    PR operating points at retrieval-depth bins plus the
    tie-averaged Mann–Whitney AUC in integer basis points. The
    calibration loop that picks a learned filter's cut (x142 only
    evaluates the default pred>=0 point)."""
    return text.nb_roc(_docs(spark, sf_dir), train_mod=NB_TRAIN_MOD,
                       vocab_k=NB_VOCAB_K,
                       quality_cut=NB_QUALITY_CUT)


def x_kmeans_refine(spark, sf_dir):
    """x145 — unrolled Lloyd k-means refinement over the embeddings:
    KM_ITERS rounds from the deterministic modulo seed, one
    convergence row per round (n_cells, max_cell, inertia_u). The
    oracle-checkable iterative-algorithm loop — MLlib KMeans (the
    kmeans_centroids path) can never cross-check its engine-private
    init; this walk can, centroid-for-centroid."""
    return similarity.kmeans_refine(_embs(spark, sf_dir),
                                    centroid_mod=KM_MOD,
                                    n_iters=KM_ITERS, dim=EMB_DIM)


def x_field_caps(spark, sf_dir):
    """x135 — the ES _field_caps / field-stats API Kibana loads per
    index pattern: per-field type, min/max (timestamps as epoch
    micros — exact doubles), null counts; one combinable pass."""
    from kafana_spark import query

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    return query.field_caps(ev, ["event_id", "user_id", "value"],
                            ["ts"])


def x_stored_percolate(spark, sf_dir):
    """x133 — x91's percolation served from the PERSISTED query store
    (ES stores percolator queries as index documents; this is that
    store under the shared batch layout). Same oracle as x91 — a hash
    match proves the store roundtrip is lossless."""
    from kafana_spark.operators import relevance

    root = _cached_index_root(
        "perc", "any",  # query set is corpus-independent
        lambda r: relevance.build_percolator_index(spark, PERC_QUERIES,
                                                   r))
    return relevance.percolate_from_store(_docs(spark, sf_dir), root)


def x_term_vectors(spark, sf_dir):
    """x130 — the ES _termvectors API: tf/df/ttf + positions per term
    of one document; corpus stats semi-joined to the doc's term set."""
    from kafana_spark.operators import relevance

    return relevance.term_vectors(_docs(spark, sf_dir), TV_DOC)


def x_normalize(spark, sf_dir):
    """x131 — ES normalize pipeline agg: percent-of-sum + 0-100
    rescale of the daily metric series (integer micro-unit inputs)."""
    from kafana_spark import query

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    return query.normalize_agg(ev, "ts", "value")


def x_cumulative_cardinality(spark, sf_dir):
    """x132 — ES cumulative_cardinality pipeline agg: running distinct
    users per day via first-seen-day reduction (one pass, one row per
    key shuffled — never a per-bucket growing-window distinct)."""
    from kafana_spark import query

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    return query.cumulative_cardinality(ev, "ts", "user_id")


def x_phrase_suggest(spark, sf_dir):
    """x129 — the ES phrase suggester: per-position SymSpell
    candidates (x92 machinery) recombined and ranked by the
    full-corpus bigram LM (x96 model) + per-edit penalty; whole-phrase
    corrections, integer fixed-point end-to-end."""
    from kafana_spark.operators import relevance

    # _spread: r13 min-of-5 quiet A/B 1.91 -> 1.66 s (vocab + bigram
    # LM passes are narrow scans)
    return relevance.phrase_suggest(_spread(_docs(spark, sf_dir)),
                                    list(PHRASE_INPUT))
#: x128 completion-suggester prefix + size
COMPLETION_PREFIX = "s"
COMPLETION_SIZE = 5


def x_explain_score(spark, sf_dir):
    """x127 — the ES _explain API: per-term BM25 contribution rows for
    one document against the x88 query (their integer sum IS the x88
    score, verifiable by construction)."""
    from kafana_spark.operators import relevance

    return relevance.explain_score(_docs(spark, sf_dir),
                                   list(BM25_QUERY_TERMS), EXPLAIN_DOC)


def x_completion_suggest(spark, sf_dir):
    """x128 — the ES completion suggester: prefix-matched vocabulary
    ranked by corpus frequency (combinable count + TakeOrdered)."""
    from kafana_spark.operators import relevance

    return relevance.completion_suggest(_docs(spark, sf_dir),
                                        COMPLETION_PREFIX,
                                        size=COMPLETION_SIZE)


def x_corpus_report(spark, sf_dir):
    """x126 — the dataset-datasheet report (Gebru et al. "Datasheets
    for Datasets" shape): ONE row summarizing the corpus — doc/token
    totals, exact-duplicate rate (distinct sha2 of content), language
    spread (count + head share), and the quality-score quartiles —
    the composition a curation run records next to its outputs.

    Scale: every input is an existing combinable aggregate (token
    counts, integer quality scores, sha2 distinct-count, lang
    group-count); the report joins five ≤1-row frames broadcast. The
    only corpus-wide distinct is on the 32-byte content hash, never
    the text.
    """
    d = _docs(spark, sf_dir)
    base = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.sha2(F.col("text"), 256)).alias("n_uniq"))
    tok = (text.token_count(d).agg(
        F.sum("n_tokens").alias("n_tokens_total")))
    qq = (text.quality_score(d).agg(
        F.expr("percentile(quality_bp, array(0.25D, 0.5D, 0.75D))")
        .alias("qs")))
    lt = d.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    nl = lt.agg(F.count(F.lit(1)).cast("int").alias("n_langs"))
    top = (lt.orderBy(F.col("c").desc(), "lang").limit(1)
           .select(F.col("lang").alias("top_lang"),
                   F.col("c").alias("top_cnt")))
    j = (base.join(F.broadcast(tok)).join(F.broadcast(qq))
         .join(F.broadcast(nl)).join(F.broadcast(top)))
    return j.select(
        "n_docs", "n_tokens_total",
        F.expr("n_tokens_total div n_docs").alias("avg_tokens_per_doc"),
        F.expr("10000 * (n_docs - n_uniq) div n_docs")
        .alias("exact_dup_bp"),
        "n_langs", "top_lang",
        F.expr("10000 * top_cnt div n_docs").alias("top_lang_share_bp"),
        F.col("qs")[0].alias("q25_quality_bp"),
        F.col("qs")[1].alias("q50_quality_bp"),
        F.col("qs")[2].alias("q75_quality_bp"))


def x_dedup_eval(spark, sf_dir):
    """x124 — dedup method evaluation (the x114 rank_eval counterpart
    for the dedup family): MinHash+LSH pairs (x02) scored against the
    exact n-gram-Jaccard truth set (x03) at the same threshold —
    TP/FP/FN + precision/recall in integer basis points. Documents the
    LSH contract mechanically: the exact verify step makes FP ≡ 0, so
    the only loss channel is banding misses (recall).

    Scale: both pipelines are the banded/bucketed shapes already
    proven; the comparison is a full-outer join of two pair lists
    (each orders of magnitude smaller than the corpus) reduced to one
    row."""
    d = _docs(spark, sf_dir)
    # r13 restructure (r12 verdict #2): ONE exact-collapse + ONE
    # materialized shingle pass feeds both the LSH branch and the
    # exact-Jaccard truth branch, and the comparison is weighted
    # rep-level arithmetic instead of two member-level pair-list
    # expansions — counts identical by construction (pinned by
    # test + oracle). See dedup.lsh_eval_counts.
    agg = dedup.lsh_eval_counts(d, NEAR_DUP_THRESHOLD)
    return agg.select(
        "tp", "fp", "fn",
        F.when(F.col("tp") + F.col("fp") > 0,
               F.expr("10000 * tp div (tp + fp)"))
        .otherwise(F.lit(0)).cast("long").alias("precision_bp"),
        F.when(F.col("tp") + F.col("fn") > 0,
               F.expr("10000 * tp div (tp + fn)"))
        .otherwise(F.lit(0)).cast("long").alias("recall_bp"))


def x_ann_recall(spark, sf_dir):
    """x125 — ANN recall report as a first-class query: per-query
    overlap of the IVF top-k (x08) with the brute-force truth (x07),
    in integer basis points. The pytest recall floors pin the
    aggregate; this op makes the per-query curve oracle-checkable and
    servable (the eval loop the ANN family was missing)."""
    e = _embs(spark, sf_dir)
    q = similarity.modulo_queries(e, ANN_QUERY_MOD)
    bf = (similarity.brute_force_topk(e, q, ANN_K)
          .select("qid", "vec_id"))
    iv = (similarity.ivf_topk(e, q, ANN_K, centroid_mod=ANN_CENTROID_MOD,
                              n_probe=ANN_N_PROBE, n_assign=ANN_N_ASSIGN)
          .select("qid", "vec_id").withColumn("hit", F.lit(1)))
    return (bf.join(iv, ["qid", "vec_id"], "left")
            .groupBy("qid")
            .agg(F.count("hit").cast("int").alias("n_overlap"))
            .select("qid", "n_overlap",
                    F.expr(f"10000 * n_overlap div {ANN_K}")
                    .cast("long").alias("recall_bp"))
            .orderBy("qid"))


def x_boosting(spark, sf_dir):
    """x123 — ES boosting query: positive BM25 ranking with docs
    containing the negative term demoted to half score (integer ppm
    arithmetic; demotion flag is a broadcast id set)."""
    from kafana_spark.operators import relevance

    return relevance.boosting(_docs(spark, sf_dir),
                              list(BM25_QUERY_TERMS), BOOST_NEG_TERM)


#: x121 terms_set: minimum_should_match over this term list
TERMS_SET = ("merge", "spark", "vector", "window")
TERMS_SET_MIN = 3
#: x122 dis_max result size
DIS_MAX_K = 10


def x_terms_set(spark, sf_dir):
    """x121 — ES terms_set query: docs matching ≥ TERMS_SET_MIN of the
    term list (minimum_should_match), matched-pairs shuffle only."""
    from kafana_spark.operators import relevance

    return (relevance.terms_set(_docs(spark, sf_dir), list(TERMS_SET),
                                TERMS_SET_MIN)
            .orderBy("doc_id"))


def x_dis_max(spark, sf_dir):
    """x122 — ES dis_max over per-term BM25 clauses: best clause +
    tie_breaker · rest, exact integer combine, top-k."""
    from kafana_spark.operators import relevance

    return relevance.dis_max(_docs(spark, sf_dir),
                             list(BM25_QUERY_TERMS), k=DIS_MAX_K)


#: x115 zipf fit vocabulary width
ZIPF_K = 100
#: x116 moving percentile: median over a trailing week of daily buckets
MOVP_Q = 0.5
MOVP_WINDOW = 7
#: x117 pinned ids (list order IS the promoted ranking)
PINNED_IDS = (42, 7, 99)
PINNED_K = 10


def x_zipf_fit(spark, sf_dir):
    """x115 — Zipf rank-frequency fit over the top-100 vocabulary:
    integer-fixed-point log-log least squares (corpus-health slope)."""
    return text.zipf_fit(_docs(spark, sf_dir), k=ZIPF_K)


def x_moving_percentile(spark, sf_dir):
    """x116 — ES moving_percentiles pipeline agg: trailing-week exact
    median of the daily value sums (integer micro-unit series)."""
    from kafana_spark import query

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    return query.moving_percentile(ev, "ts", "value",
                                   q=MOVP_Q, window=MOVP_WINDOW)


def x_pinned_query(spark, sf_dir):
    """x117 — the ES pinned query: editorial ids first in list order
    (score 0 if unmatched), organic BM25 ranking after, one top-k."""
    from kafana_spark.operators import relevance

    return relevance.pinned_query(_docs(spark, sf_dir),
                                  list(BM25_QUERY_TERMS),
                                  list(PINNED_IDS), k=PINNED_K)


# --------------------------------------------- event product analytics

#: x181 ordered funnel — the three shop-shaped steps in the fixture's
#: event_type vocabulary (view → click → purchase; signup/error are
#: off-funnel noise, exactly what first-touch matching must ignore).
FUNNEL_STEPS = ("view", "click", "purchase")
RETENTION_WEEK_DAYS = 7
ROLL_WINDOW_DAYS = 7
SPIKE_TRAIL_HOURS = 24
SPIKE_TOP_K = 20
SESSION_PCT_QS = (0.5, 0.95)
#: x188 held-out split — same id-modulus discipline as the NB
#: classifier (x141): train = vec_id % 3 != 0.
ROCCHIO_TRAIN_MOD = 3


def _events(spark, sf_dir):
    tune_session(spark)
    return load_table(spark, sf_dir, "events")


def x_funnel(spark, sf_dir):
    """x181 — ordered-step funnel (view → click → purchase): per-step
    user counts + step-over-step and vs-entry conversion in bp."""
    return ev_ops.funnel(_events(spark, sf_dir), FUNNEL_STEPS)


def x_retention(spark, sf_dir):
    """x182 — weekly cohort retention matrix (cohort = epoch-week of
    first event; retained_bp vs the offset-0 cohort size)."""
    return ev_ops.retention_cohorts(_events(spark, sf_dir),
                                    RETENTION_WEEK_DAYS)


def x_session_stats(spark, sf_dir):
    """x183 — one-row summary of the x15 sessionization: counts,
    events/session bp, exact duration percentiles, max duration."""
    return ev_ops.session_stats(_events(spark, sf_dir), SESSION_GAP,
                                SESSION_PCT_QS)


def x_event_transitions(spark, sf_dir):
    """x184 — first-order Markov transition matrix over per-user event
    sequences, row-normalized in bp ((ts, event_id) total order)."""
    return ev_ops.event_transitions(_events(spark, sf_dir))


def x_rolling_active(spark, sf_dir):
    """x185 — DAU / rolling-7-day WAU / stickiness bp per observed
    day (constant-length explode, never a range join on the corpus)."""
    return ev_ops.rolling_active(_events(spark, sf_dir),
                                 ROLL_WINDOW_DAYS)


def x_rfm_segments(spark, sf_dir):
    """x186 — RFM quartile segmentation (integer-cent monetary,
    x158-style integer percentile cuts), rolled up per segment."""
    return ev_ops.rfm_segments(_events(spark, sf_dir))


def x_error_spike(spark, sf_dir):
    """x187 — hourly error bursts vs the trailing-24h baseline over a
    RANGE window on the hour index; top-20 spikes, total order."""
    return ev_ops.error_spike(_events(spark, sf_dir),
                              SPIKE_TRAIL_HOURS, SPIKE_TOP_K)


def x_rocchio_confusion(spark, sf_dir):
    """x188 — Rocchio nearest-class-centroid classifier: µunit-exact
    integer centroids + bigint dot scores, held-out confusion matrix
    (the third embedding classifier next to x163 kNN and x141 NB)."""
    return similarity.rocchio_confusion(_embs(spark, sf_dir),
                                        ROCCHIO_TRAIN_MOD)


#: x190 weekly-rhythm scan depth; x192 seasonal-naive horizon.
ACF_MAX_LAG = 7
FORECAST_SEASON = 7


def x_funnel_latency(spark, sf_dir):
    """x189 — time-to-convert (entry first-touch → final-step first
    touch) for funnel completers; shares x181's stage chain."""
    return ev_ops.funnel_latency(_events(spark, sf_dir), FUNNEL_STEPS,
                                 SESSION_PCT_QS)


def x_acf(spark, sf_dir):
    """x190 — autocorrelation of the daily event-count series, lags
    1..7, from exact integer moments (floor-on-double only at the
    final sqrt/divide)."""
    return ev_ops.acf(_events(spark, sf_dir), ACF_MAX_LAG)


def x_dow_profile(spark, sf_dir):
    """x191 — day-of-week seasonal index of daily volume in bp vs
    the all-days mean (integer cross-multiplied)."""
    return ev_ops.dow_profile(_events(spark, sf_dir))


def x_forecast_backtest(spark, sf_dir):
    """x192 — naive-1 vs seasonal-naive daily-volume backtest scored
    by integer WAPE bp — the forecast-model go/no-go loop."""
    return ev_ops.forecast_backtest(_events(spark, sf_dir),
                                    FORECAST_SEASON)


#: x197 bot-flag policy: inhumanly-fast median or too-regular gaps.
BOT_MEDIAN_S = 60
BOT_MIN_GAPS = 20
BOT_MAX_DISP_BP = 500


def x_bot_flags(spark, sf_dir):
    """x197 — per-user inter-event timing stats + bot heuristics
    (median gap, integer CV-squared dispersion): the abuse filter in
    front of every behavioral metric."""
    return ev_ops.bot_flags(_events(spark, sf_dir), BOT_MEDIAN_S,
                            BOT_MIN_GAPS, BOT_MAX_DISP_BP)


#: x198 water-filling shape: budget = 1.5× corpus tokens, cap = 1.7
#: epochs per source, 3 unrolled rounds (binding caps at every SF).
MIX_BUDGET_NUM = 3
MIX_BUDGET_DEN = 2
MIX_CAP_BP = 17000
MIX_ROUNDS = 3


def x_mixture_waterfill(spark, sf_dir):
    """x198 — token-budget allocation across sources with epoch caps
    (integer water-filling, unrolled): the mixing plan computed
    before sampling a training corpus."""
    from kafana_spark.operators import sample

    return sample.mixture_waterfill(
        _docs(spark, sf_dir), MIX_BUDGET_NUM, MIX_BUDGET_DEN,
        MIX_CAP_BP, MIX_ROUNDS)


def x_funnel_trend(spark, sf_dir):
    """x199 — weekly cohorted funnel conversion (entry-week
    attribution over x181's stage chain)."""
    return ev_ops.funnel_trend(_events(spark, sf_dir), FUNNEL_STEPS,
                               RETENTION_WEEK_DAYS)


#: x200 divergence vocabulary (corpus-wide top-K, nb_train tiebreak).
DIVERGENCE_VOCAB_K = 100


def x_source_divergence(spark, sf_dir):
    """x200 — pairwise symmetric KL between per-source token
    distributions over the top-K vocabulary: the corpus-redundancy
    map feeding a mixing plan (near-zero = duplicate-ish sources)."""
    return text.source_divergence(_docs(spark, sf_dir),
                                  DIVERGENCE_VOCAB_K)


PATHS_LEN = 3
PATHS_TOP_K = 20


def x_session_paths(spark, sf_dir):
    """x201 — top-k within-session event-type paths (length 3,
    session-bounded — a gap never fabricates a flow)."""
    return ev_ops.session_paths(_events(spark, sf_dir), SESSION_GAP,
                                PATHS_LEN, PATHS_TOP_K)


def x_pii_scan(spark, sf_dir):
    """x202 — per-doc PII indicator counts (email/IPv4/phone/card)
    in the Java∩RE2 regex subset; the redaction pre-pass."""
    return text.pii_scan(_docs(spark, sf_dir))


#: x205 relative alert rules: (rule_id, event_type, mult_bp) — fire
#: when an hour reaches mult_bp/10000 × the type's own mean hourly
#: rate (self-normalizing: meaningful at every SF, unlike an
#: absolute count across a 100× volume change).
ALERT_RULES = (("r_err_surge", "error", 15000),
               ("r_buy_burst", "purchase", 16000),
               ("r_click_flood", "click", 17000))


def x_revenue_cohorts(spark, sf_dir):
    """x203 — revenue retention matrix (x182's grid with integer-cent
    value): the payback-curve view per signup cohort."""
    return ev_ops.revenue_cohorts(_events(spark, sf_dir),
                                  RETENTION_WEEK_DAYS)


def x_session_cooccurrence(spark, sf_dir):
    """x204 — order-free event-type association within sessions
    (market-basket lift in bp next to x184's ordered transitions)."""
    return ev_ops.session_cooccurrence(_events(spark, sf_dir),
                                       SESSION_GAP)


def x_metric_alerts(spark, sf_dir):
    """x205 — relative metric-threshold alerting over the hourly
    grid (the Kibana threshold-watcher shape for metrics; the
    percolator family covers document-match alerts)."""
    return ev_ops.metric_alerts(_events(spark, sf_dir), ALERT_RULES)


#: x208 last-touch attribution policy: credited touch channels, the
#: conversion type, and the lookback window.
ATTR_TOUCH_TYPES = ("view", "click")
ATTR_CONV_TYPE = "purchase"
ATTR_LOOKBACK_DAYS = 3
#: x209 robust-z flag threshold (dev/MAD in bp; 2.5 MADs).
MAD_Z_BP = 25000


def x_growth_accounting(spark, sf_dir):
    """x206 — weekly new/retained/resurrected/churned accounting +
    quick ratio in bp (the inflow/outflow health decomposition next
    to x182's retention matrix)."""
    return ev_ops.growth_accounting(_events(spark, sf_dir),
                                    RETENTION_WEEK_DAYS)


def x_power_user_curve(spark, sf_dir):
    """x207 — active-days engagement histogram with top-down
    cumulative user share (the power-user / L30 curve)."""
    return ev_ops.power_user_curve(_events(spark, sf_dir))


def x_last_touch_attribution(spark, sf_dir):
    """x208 — last-touch revenue attribution: purchase cents credited
    to the most recent preceding view/click within the lookback,
    else 'direct'; per-channel revenue share in bp."""
    return ev_ops.last_touch_attribution(
        _events(spark, sf_dir), ATTR_TOUCH_TYPES, ATTR_CONV_TYPE,
        ATTR_LOOKBACK_DAYS)


def x_mad_anomalies(spark, sf_dir):
    """x209 — MAD robust daily-volume anomalies (doubled-median
    integer discipline; the outlier-immune twin of x187's
    trailing-mean spikes)."""
    return ev_ops.mad_anomalies(_events(spark, sf_dir), MAD_Z_BP)


def x_cusum_changepoint(spark, sf_dir):
    """x210 — exact-integer CUSUM level-shift scan over the daily
    series; the |cusum| argmax marks the changepoint."""
    return ev_ops.cusum_changepoint(_events(spark, sf_dir))


def x_purchase_intervals(spark, sf_dir):
    """x211 — repeat-purchase summary: buyer counts, repeat rate bp,
    inter-purchase gap count/doubled-median/mean (the LTV primer)."""
    return ev_ops.purchase_intervals(_events(spark, sf_dir),
                                     ATTR_CONV_TYPE)


#: x212 PageRank walk: damping in bp, unrolled rounds, served top-k.
PR_DAMP_BP = 8500
PR_ITERS = 3
PR_TOP_K = 50


def x_pagerank(spark, sf_dir):
    """x212 — integer µunit PageRank over the x149/x150 mutual k-NN
    graph (unrolled walk, the x145 Lloyd discipline): the semantic-
    hub centrality pass."""
    return similarity.pagerank_mutual(
        _embs(spark, sf_dir), PR_ITERS, PR_DAMP_BP, PR_TOP_K,
        k=KNN_K, method="fixed", centroid_k=KNN_CELLS,
        n_probe=KNN_N_PROBE, n_assign=KNN_N_ASSIGN)


def x_graph_triangles(spark, sf_dir):
    """x213 — global triangle census + clustering coefficient of the
    mutual k-NN graph (the clumpiness check before cluster dedup)."""
    return similarity.graph_triangles(
        _embs(spark, sf_dir), k=KNN_K, method="fixed",
        centroid_k=KNN_CELLS, n_probe=KNN_N_PROBE,
        n_assign=KNN_N_ASSIGN)


def x_degree_histogram(spark, sf_dir):
    """x214 — mutual k-NN degree distribution with vertex shares
    (the hub/orphan profile)."""
    return similarity.degree_histogram(
        _embs(spark, sf_dir), k=KNN_K, method="fixed",
        centroid_k=KNN_CELLS, n_probe=KNN_N_PROBE,
        n_assign=KNN_N_ASSIGN)


#: x218 personalized-PageRank seed rule (seeds = graph vertices with
#: vec_id % PPR_SEED_MOD == 0).
PPR_SEED_MOD = 50


def x_lexical_diversity(spark, sf_dir):
    """x216 — per-source type/token ratio + hapax share (the
    vocabulary-richness screen beside x200's divergence matrix)."""
    return text.lexical_diversity(_docs(spark, sf_dir))


def x_cell_modularity(spark, sf_dir):
    """x217 — Newman modularity of the fixed-k IVF cell partition vs
    the mutual k-NN graph: the quantizer-quality diagnostic (high Q
    = cells respect neighborhoods = high recall per probe)."""
    return similarity.cell_modularity(
        _embs(spark, sf_dir), k=KNN_K, method="fixed",
        centroid_k=KNN_CELLS, n_probe=KNN_N_PROBE,
        n_assign=KNN_N_ASSIGN)


def x_personalized_pagerank(spark, sf_dir):
    """x218 — personalized PageRank (restart at vec_id % 50 seeds)
    over the mutual k-NN graph: the more-like-these expansion."""
    return similarity.personalized_pagerank(
        _embs(spark, sf_dir), PPR_SEED_MOD, PR_ITERS, PR_DAMP_BP,
        PR_TOP_K, k=KNN_K, method="fixed", centroid_k=KNN_CELLS,
        n_probe=KNN_N_PROBE, n_assign=KNN_N_ASSIGN)


#: x220 activation pair: first signup -> first strictly-later
#: purchase.
CONV_FROM_TYPE = "signup"
CONV_TO_TYPE = "purchase"


def x_landing_bounce(spark, sf_dir):
    """x219 — per-landing-type session counts, bounce rate and
    session share over the x15 sessions (the entry-point health
    view)."""
    return ev_ops.landing_bounce(_events(spark, sf_dir), SESSION_GAP)


def x_conversion_latency(spark, sf_dir):
    """x220 — signup→purchase activation: conversion rate and
    first-to-first latency stats (strictly-after, funnel rule)."""
    return ev_ops.conversion_latency(_events(spark, sf_dir),
                                     CONV_FROM_TYPE, CONV_TO_TYPE)


def x_char_entropy(spark, sf_dir):
    """x221 — per-source character-level Shannon entropy in µ-nats
    (the tokenizer-free garbage detector)."""
    return text.char_entropy(_docs(spark, sf_dir))


def x_stored_metric_alerts(spark, sf_dir):
    """x215 — x205's metric alerts served from the PERSISTED event-
    rollup index's per-type hourly grid (merged across batches): no
    event is re-read. Same oracle as x205 — the hash match proves
    the rollup-store roundtrip is lossless."""
    from kafana_spark import event_index

    return event_index.metric_alerts_from_store(
        spark, _event_index_root(spark, sf_dir), ALERT_RULES)


def x_stored_pagerank(spark, sf_dir):
    """x222 — x212's PageRank served from the PERSISTED IVF index
    (stored graph → mutual edges → the same integer walk): the
    centrality dashboard re-runs with zero assignment work. Same
    oracle as x212 — lossless roundtrip proof."""
    from kafana_spark import ann_index

    e = _embs(spark, sf_dir)
    root = _cached_index_root(
        "knnidx", sf_dir, lambda r: ann_index.build_ann_index(
            e, r, method="fixed", centroid_k=KNN_CELLS,
            n_assign=KNN_N_ASSIGN))
    return ann_index.pagerank_from_index(
        spark, root, k=KNN_K, n_probe=KNN_N_PROBE, iters=PR_ITERS,
        damp_bp=PR_DAMP_BP, top_k=PR_TOP_K)


def x_stored_mad_anomalies(spark, sf_dir):
    """x223 — x209's MAD anomalies served from the PERSISTED event-
    rollup index's daily series (per-batch partial counts summed —
    distributive, exact). Same oracle as x209."""
    from kafana_spark import event_index

    return ev_ops.mad_anomalies_from_daily(
        event_index.daily_from_store(
            spark, _event_index_root(spark, sf_dir)), MAD_Z_BP)


def x_stored_cusum(spark, sf_dir):
    """x224 — x210's CUSUM scan served from the stored daily series.
    Same oracle as x210."""
    from kafana_spark import event_index

    return ev_ops.cusum_from_daily(
        event_index.daily_from_store(
            spark, _event_index_root(spark, sf_dir)))


def _event_index_root(spark, sf_dir) -> str:
    from kafana_spark import event_index

    d = _events(spark, sf_dir)
    return _cached_index_root(
        "evidx", sf_dir,
        lambda r: event_index.build_event_index(d, r))


def x_stored_rolling_active(spark, sf_dir):
    """x193 — x185 served from the PERSISTED event-rollup index (the
    distinct user-day frame, merged across batches): no event is
    re-read. Same oracle as x185 — the hash match proves the rollup
    store roundtrip is lossless."""
    from kafana_spark import event_index

    return event_index.rolling_active_from_store(
        spark, _event_index_root(spark, sf_dir), ROLL_WINDOW_DAYS)


def x_stored_acf(spark, sf_dir):
    """x194 — x190 served from the stored daily series (per-batch
    partial counts summed at serve time — distributive, exact)."""
    from kafana_spark import event_index

    return event_index.acf_from_store(
        spark, _event_index_root(spark, sf_dir), ACF_MAX_LAG)


def x_stored_error_spike(spark, sf_dir):
    """x195 — x187 served from the stored hourly grid."""
    from kafana_spark import event_index

    return event_index.error_spike_from_store(
        spark, _event_index_root(spark, sf_dir),
        SPIKE_TRAIL_HOURS, SPIKE_TOP_K)


def x_stored_forecast(spark, sf_dir):
    """x196 — x192 served from the stored daily series."""
    from kafana_spark import event_index

    return event_index.forecast_backtest_from_store(
        spark, _event_index_root(spark, sf_dir), FORECAST_SEASON)



#: x225 A/B readout converts on the funnel's terminal event.
ABT_CONV_TYPE = "purchase"
#: x226 collocations: rare-pair floor and report size.
PMI_MIN_COUNT = 5
PMI_TOP_K = 30
#: x227 EWMA chart: trailing window (decay 3/4) and ratio band.
EWMA_WINDOW = 14
EWMA_HI_BP = 15000
EWMA_LO_BP = 6667
#: x229 backtest: held-out users are user_id % MKV_TEST_MOD == MKV_TEST_MOD-1.
MKV_TEST_MOD = 3
#: x228 link prediction report size.
LP_TOP_K = 30
#: x230 layout advisor: rows per physical block (row-group proxy).
LAYOUT_BLOCK = 512


def x_ab_test(spark, sf_dir):
    """x225 — A/B experiment readout (variant = user_id % 2):
    per-arm conversion to purchase, bp lift, revenue cents, pooled
    two-proportion z in bp (floor-on-double over exact integers)."""
    return ev_ops.ab_test_report(_events(spark, sf_dir), ABT_CONV_TYPE)


def x_pmi_collocations(spark, sf_dir):
    """x226 — top-k bigram collocations by µnat PMI with a min-count
    floor (the phrase detector before vocabulary building)."""
    return text.pmi_collocations(_docs(spark, sf_dir),
                                 PMI_MIN_COUNT, PMI_TOP_K)


def x_ewma_anomalies(spark, sf_dir):
    """x227 — EWMA control chart over the daily event counts (decay
    3/4 as exact integer weights; full-window gating)."""
    return ev_ops.ewma_anomalies(_events(spark, sf_dir), EWMA_WINDOW,
                                 EWMA_HI_BP, EWMA_LO_BP)


def x_link_prediction(spark, sf_dir):
    """x228 — resource-allocation link prediction over the mutual
    k-NN graph (integer µunit RA weights, top candidate non-edges)."""
    return similarity.link_prediction(
        _embs(spark, sf_dir), LP_TOP_K, k=KNN_K, method="fixed",
        centroid_k=KNN_CELLS, n_probe=KNN_N_PROBE,
        n_assign=KNN_N_ASSIGN)


def x_markov_backtest(spark, sf_dir):
    """x229 — next-event prediction backtest: argmax Markov predictor
    trained on user_id%3 != 2, scored on the held-out third."""
    return ev_ops.markov_backtest(_events(spark, sf_dir), MKV_TEST_MOD)


def x_layout_advisor(spark, sf_dir):
    """x230 — sort-key/layout advisor over events: per candidate
    cluster column, current vs ideal block span under min-max
    pruning (block = event_id div LAYOUT_BLOCK)."""
    from kafana_spark.operators import skew

    return skew.layout_advisor(
        _events(spark, sf_dir),
        [("day", F.expr(f"unix_micros(ts) div {ev_ops.US_PER_DAY}")),
         ("user_id", F.col("user_id")),
         ("event_type", F.col("event_type"))],
        block_rows=LAYOUT_BLOCK)


def x_stored_ewma(spark, sf_dir):
    """x231 — x227's EWMA chart served from the PERSISTED event-
    rollup index's daily series (per-batch partials summed — exact).
    Same oracle as x227 — the lossless-roundtrip proof."""
    from kafana_spark import event_index

    return ev_ops.ewma_from_daily(
        event_index.daily_from_store(
            spark, _event_index_root(spark, sf_dir)),
        EWMA_WINDOW, EWMA_HI_BP, EWMA_LO_BP)



def x_column_stats(spark, sf_dir):
    """x232 — ANALYZE-style optimizer statistics for the events
    table: counts, nulls, exact NDV, min/max, and integer equi-depth
    quartiles (bounded-NDV fields only; event_id gets NDV/min/max)."""
    from kafana_spark.operators import stats

    return stats.column_stats(
        _events(spark, sf_dir),
        [("event_id", F.col("event_id"), False),
         ("user_id", F.col("user_id"), True),
         ("value_cents", F.expr("cast(floor(value * 100) as long)"),
          True),
         ("day", F.expr(f"unix_micros(ts) div {ev_ops.US_PER_DAY}"),
          True)])


def x_variant_funnel(spark, sf_dir):
    """x233 — the x181 funnel split by the x225 experiment arm:
    per-variant step counts and within-arm conversions."""
    return ev_ops.variant_funnel(_events(spark, sf_dir), FUNNEL_STEPS)


def x_latency_cdf(spark, sf_dir):
    """x234 — signup->purchase conversion-latency CDF on the log-ish
    bucket grid (the SLA curve behind x220's summary row)."""
    return ev_ops.latency_cdf(_events(spark, sf_dir),
                              CONV_FROM_TYPE, CONV_TO_TYPE)



#: x235 STL-lite residual MAD threshold (the x209 rule on residuals).
STL_Z_BP = 35000
#: x236 ensemble thresholds — deliberately tighter than the
#: single-method defaults so ordinary fixture wiggle exercises the
#: agreement logic (the fixtures' max MAD z is ~2.1x; 3.5x never
#: fires there).
ENS_MAD_Z_BP = 15000
ENS_STL_Z_BP = 15000
ENS_EWMA_HI_BP = 11500
ENS_EWMA_LO_BP = 8696


def x_stl_anomalies(spark, sf_dir):
    """x235 — STL-lite decomposition anomalies: centered 7-day trend
    + dow seasonal in 7x integer units, MAD rule on the residual."""
    return ev_ops.stl_anomalies(_events(spark, sf_dir), STL_Z_BP)


def x_anomaly_ensemble(spark, sf_dir):
    """x236 — MAD + EWMA + STL agreement triage over the daily
    series: per flagged day, which detectors fired."""
    return ev_ops.anomaly_ensemble(
        _events(spark, sf_dir), ENS_MAD_Z_BP, EWMA_WINDOW,
        ENS_EWMA_HI_BP, ENS_EWMA_LO_BP, ENS_STL_Z_BP)


def x_langid_confusion(spark, sf_dir):
    """x237 — x10's heuristic lang-id scored against the labeled
    lang column: the per-language confusion matrix eval loop."""
    return text.langid_confusion(_docs(spark, sf_dir))



def x_doc_metric_corr(spark, sf_dir):
    """x238 — Pearson matrix over (n_chars, n_tokens, n_distinct)
    per doc: the gate-redundancy screen (exact integer moments)."""
    return text.doc_metric_corr(_docs(spark, sf_dir))


def x_dow_hour_heatmap(spark, sf_dir):
    """x239 — day-of-week x hour activity heatmap with cell shares
    (epoch-day % 7 bucket identity, UTC hours)."""
    return ev_ops.dow_hour_heatmap(_events(spark, sf_dir))


# ------------------------------------------------- relational OLAP (r6 s7)
#: Q1 cutoff / Q3 split date / Q5 & Q14 windows — chosen inside the
#: fixtures' 1995–2001 span so every SF (incl. sf0.001) is non-empty.
TPCH_Q1_CUTOFF = "2001-09-02 00:00:00"
TPCH_Q3_SEGMENT = "BUILDING"
TPCH_Q3_CUT = "1998-06-01 00:00:00"
TPCH_Y0, TPCH_Y1 = "1996-01-01 00:00:00", "1997-01-01 00:00:00"
TPCH_Q10_D0, TPCH_Q10_D1 = "1997-01-01 00:00:00", "1997-04-01 00:00:00"
TPCH_BRAND_Y0, TPCH_BRAND_Y1 = ("1997-01-01 00:00:00",
                                "1998-01-01 00:00:00")
#: Q18 threshold in quantity-cents (250.00 units ≈ the p97 of per-
#: order total quantity — a few dozen survivors per 1500 orders).
TPCH_BIG_QTY_C = 25_000
TPCH_TOP_K = 20
#: x249 overlap-coefficient floor (bp). 6000 sits above the Jaccard
#: near-dup floor so containment pairs are a distinct, smaller set.
OVERLAP_MIN_BP = 6000
#: x251 dormancy cut — the fixtures give every customer at least one
#: order, so "never ordered" is vacuous; "no order since 1999" is the
#: discriminating recency window (6/29 customers at sf0.001/0.01).
TPCH_DORMANT_SINCE = "1999-01-01 00:00:00"


def _t(spark, sf_dir, name):
    tune_session(spark)
    return load_table(spark, sf_dir, name)


def x_pricing_summary(spark, sf_dir):
    """x240 — TPC-H Q1 pricing summary (integer cents/bp, truncating
    integer averages, 6 output rows)."""
    return relational.pricing_summary(_t(spark, sf_dir, "lineitem"),
                                      TPCH_Q1_CUTOFF)


def x_top_revenue_orders(spark, sf_dir):
    """x241 — TPC-H Q3 shipping priority: top unshipped-revenue
    orders of the BUILDING segment around the split date."""
    return relational.top_revenue_orders(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"), TPCH_Q3_SEGMENT, TPCH_Q3_CUT,
        10)


def x_regional_volume(spark, sf_dir):
    """x242 — TPC-H Q5 local-supplier volume per (region, nation),
    1996 order year, supplier-nation = customer-nation."""
    return relational.regional_volume(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"), _t(spark, sf_dir, "region"),
        TPCH_Y0, TPCH_Y1)


def x_returned_customers(spark, sf_dir):
    """x243 — TPC-H Q10 returned-item ranking: top customers by
    returned revenue in 1997Q1."""
    return relational.returned_customers(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "nation"),
        TPCH_Q10_D0, TPCH_Q10_D1, TPCH_TOP_K)


def x_brand_share(spark, sf_dir):
    """x244 — per-brand 1997 revenue with integer-bp share of total
    (the Q14 promo-share shape over the 25-brand frame)."""
    return relational.brand_share(_t(spark, sf_dir, "lineitem"),
                                  _t(spark, sf_dir, "part"),
                                  TPCH_BRAND_Y0, TPCH_BRAND_Y1)


def x_big_orders(spark, sf_dir):
    """x245 — TPC-H Q18 large-volume customers: orders over the
    quantity threshold, HAVING applied before any dimension join."""
    return relational.big_orders(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"), TPCH_BIG_QTY_C, TPCH_TOP_K)


def x_supplier_hhi(spark, sf_dir):
    """x246 — supplier-concentration HHI per brand (integer bp²
    Herfindahl over supplier revenue shares)."""
    return relational.supplier_hhi(_t(spark, sf_dir, "lineitem"),
                                   _t(spark, sf_dir, "part"))


def x_priority_sla(spark, sf_dir):
    """x247 — per-priority first-shipment lag report (min/avg/max
    days; truncating integer average)."""
    return relational.priority_sla(_t(spark, sf_dir, "orders"),
                                   _t(spark, sf_dir, "lineitem"))


def x_revenue_bands(spark, sf_dir):
    """x248 — customer revenue concentration by power-of-two band
    (exact length(bin(v))-1 bucketing; cumulative-from-top bp)."""
    return relational.revenue_bands(_t(spark, sf_dir, "orders"))


def x_overlap_near_dup(spark, sf_dir):
    """x249 — containment near-dup: overlap coefficient |A∩B| /
    min(|A|,|B|) in integer bp over hashed shingles — the asymmetric
    sibling of x03 that catches subset/boilerplate nesting."""
    # _spread: same heavy narrow md5+explode leg as x03
    # (r13 A/B: 3.52 -> 1.19 s)
    return dedup.overlap_near_dup(_spread(_docs(spark, sf_dir)),
                                  OVERLAP_MIN_BP)


def x_late_order_priorities(spark, sf_dir):
    """x250 — TPC-H Q4 shape: per-priority count of orders with a
    line shipped after the order date (LEFT SEMI, correlated date
    predicate)."""
    return relational.late_order_priorities(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem"))


def x_idle_rich_customers(spark, sf_dir):
    """x251 — TPC-H Q22 shape: above-average-balance customers with
    no orders since the dormancy cut, per nation (exact cross-
    multiplied threshold, LEFT ANTI join)."""
    return relational.idle_rich_customers(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "nation"), TPCH_DORMANT_SINCE)


def x_small_qty_revenue(spark, sf_dir):
    """x252 — TPC-H Q17 shape: revenue in lines under half the
    part's average quantity, per brand (exact integer cross-multiply
    for the correlated average cut)."""
    return relational.small_qty_revenue(_t(spark, sf_dir, "lineitem"),
                                        _t(spark, sf_dir, "part"))


def x_market_share(spark, sf_dir):
    """x253 — TPC-H Q8 shape: per (region, order year) the bp share
    of revenue supplied from the customer's own nation (one fact
    pass, conditional sum)."""
    return relational.market_share(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"), _t(spark, sf_dir, "region"))


def x_order_cadence(spark, sf_dir):
    """x254 — per-nation re-order cadence: consecutive-order gap days
    (lag window per custkey), truncating integer average."""
    return relational.order_cadence(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "nation"))


def x_daily_revenue_running(spark, sf_dir):
    """x255 — daily order revenue with running cumulative and a
    gap-correct trailing 7-day RANGE window over the daily frame."""
    return relational.daily_revenue_running(_t(spark, sf_dir, "orders"))


def x_join_estimate_calibration(spark, sf_dir):
    """x256 — optimizer-calibration advisor: textbook equi-join
    cardinality estimate vs measured rows for the three star joins,
    error in bp."""
    return relational.join_estimate_calibration(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"))


#: x259 per-nation ranking depth; x260 basket-affinity floors.
TOP_PER_NATION_K = 3
AFFINITY_MIN_PAIRS = 5
AFFINITY_TOP_K = 30


def x_priority_order_profile(spark, sf_dir):
    """x257 — per-priority exact integer quartiles of lines-per-order
    and $100-bucketed order totals (per-group cumulative distinct-
    value rule — bounded-NDV projections only)."""
    return relational.priority_order_profile(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem"))


def x_revenue_rollup(spark, sf_dir):
    """x258 — order revenue ROLLUP over (region, nation): all three
    grouping levels in one pass, rolled-up levels as 'ALL'."""
    return relational.revenue_rollup(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "nation"), _t(spark, sf_dir, "region"))


def x_top_customers_per_nation(spark, sf_dir):
    """x259 — top-3 customers by lifetime revenue within each nation
    (rank window over the customer-grain aggregate)."""
    return relational.top_customers_per_nation(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "nation"), TOP_PER_NATION_K)


def x_brand_affinity(spark, sf_dir):
    """x260 — market-basket brand affinity: within-order brand pairs
    with integer-µunit lift vs independence, min-support floored."""
    return relational.brand_affinity(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"),
        AFFINITY_MIN_PAIRS, AFFINITY_TOP_K)


def _order_index_root(spark, sf_dir) -> str:
    """Two-batch order-rollup build (orderkey parity split) so the
    stored twin proves cross-batch partial-sum merging, not just a
    write/read roundtrip."""
    orders = _t(spark, sf_dir, "orders")
    return _cached_index_root(
        "ordidx", sf_dir,
        lambda r: [relational.build_order_rollup(
            orders.where(F.col("o_orderkey") % 2 == i), r,
            batch=str(i)) for i in (0, 1)])


def x_stored_daily_revenue(spark, sf_dir):
    """x261 — x255's running daily revenue served from the PERSISTED
    two-batch order-rollup index (per-batch partials summed — exact).
    Same oracle as x255: the lossless-roundtrip proof."""
    return relational.running_from_daily(
        relational.daily_revenue_from_store(
            spark, _order_index_root(spark, sf_dir)))


#: x264 year-over-year comparison window.
YOY_Y0, YOY_Y1 = 1996, 1997


def x_order_of_record(spark, sf_dir):
    """x262 — per-brand argmax line: one combinable struct-max
    aggregate (revenue desc, orderkey asc), no window."""
    return relational.order_of_record(_t(spark, sf_dir, "lineitem"),
                                      _t(spark, sf_dir, "part"))


def x_brand_return_z(spark, sf_dir):
    """x263 — per-brand return-rate two-proportion z vs the rest of
    the corpus (exact integer counts, floor-on-double z in bp)."""
    return relational.brand_return_z(_t(spark, sf_dir, "lineitem"),
                                     _t(spark, sf_dir, "part"))


def x_yoy_growth(spark, sf_dir):
    """x264 — per-nation year-over-year order revenue growth in bp
    (both years in one conditional aggregate)."""
    return relational.yoy_growth(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "nation"), YOY_Y0, YOY_Y1)


def x_priority_status_chi2(spark, sf_dir):
    """x265 — chi-square independence cells for priority × status,
    per-cell µunit contributions floored before any cross-cell sum."""
    return relational.priority_status_chi2(_t(spark, sf_dir, "orders"))


def x_discount_curve(spark, sf_dir):
    """x266 — discount effectiveness curve: per exact discount-bp
    level, volume and revenue share."""
    return relational.discount_curve(_t(spark, sf_dir, "lineitem"))


#: x275 Q6 band; x277 Q15 quarter; x279 Q7 year + report size.
Q6_Y0, Q6_Y1 = "1996-01-01 00:00:00", "1997-01-01 00:00:00"
Q6_D_LO, Q6_D_HI, Q6_QTY_MAX_C = 0.05, 0.07, 2400
Q15_D0, Q15_D1 = "1996-01-01 00:00:00", "1996-04-01 00:00:00"
TRADE_TOP_K = 30


def x_blocking_suppliers(spark, sf_dir):
    """x274 — TPC-H Q21 shape: unique last-shipping supplier in
    multi-supplier orders, per-order aggregates only (no per-line
    window)."""
    return relational.blocking_suppliers(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier"),
        TPCH_TOP_K)


def x_forecast_revenue_change(spark, sf_dir):
    """x275 — TPC-H Q6: revenue recovered by dropping small-quantity
    discounts in the band (single pushed-down filter + one sum)."""
    return relational.forecast_revenue_change(
        _t(spark, sf_dir, "lineitem"), Q6_Y0, Q6_Y1, Q6_D_LO, Q6_D_HI,
        Q6_QTY_MAX_C)


def x_margin_proxy(spark, sf_dir):
    """x276 — TPC-H Q9 shape with retail-cost proxy (partsupp absent
    from fixtures — documented): margin per (supplier nation, ship
    year)."""
    return relational.margin_proxy(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"), _t(spark, sf_dir, "nation"))


def x_top_supplier_quarter(spark, sf_dir):
    """x277 — TPC-H Q15: supplier(s) at the quarter-revenue maximum
    (scalar-max semantics, ties surface; broadcast max join)."""
    return relational.top_supplier_quarter(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier"),
        Q15_D0, Q15_D1)


def x_order_count_distribution(spark, sf_dir):
    """x278 — TPC-H Q13 custdist: customers per exact order count
    (zero-order customers in the 0 bucket via LEFT join)."""
    return relational.order_count_distribution(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"))


def x_trade_matrix(spark, sf_dir):
    """x279 — TPC-H Q7 shape: cross-nation (supplier → customer)
    revenue pairs where nations differ, one year, top-k."""
    return relational.trade_matrix(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"), TPCH_Y0, TPCH_Y1, TRADE_TOP_K)


def x_tukey_outlier_orders(spark, sf_dir):
    """x271 — per-priority Tukey-fence outlier-order rate on
    $100-bucketed totals (integer fence from the group-quantile
    rule)."""
    return relational.tukey_outlier_orders(_t(spark, sf_dir, "orders"))


def x_revenue_forecast_backtest(spark, sf_dir):
    """x272 — trailing-7-day MA forecast of daily revenue, strictly-
    prior full-window gated, per-day errors + WAPE bp."""
    return relational.revenue_forecast_backtest(
        _t(spark, sf_dir, "orders"))


def x_referential_integrity(spark, sf_dir):
    """x273 — FK audit over the star schema: per edge, child rows and
    orphan count via LEFT ANTI on the parent key set."""
    return relational.referential_integrity(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"))


def x_bucketed_join_revenue(spark, sf_dir):
    """x268 — per-status revenue over the BUCKETED orders ⋈ lineitem
    warehouse: both tables persisted with bucketBy(8, orderkey), so
    the equi-join plan carries no Exchange on either leg (pinned by
    test).  The oracle is the plain join — bucketing changes the
    plan, never the answer."""
    import hashlib

    root = _cached_index_root("bwh", sf_dir, lambda r: None)
    prefix = "kafana_bwh_" + hashlib.md5(root.encode()).hexdigest()[:8]
    names = relational.build_bucketed_warehouse(
        spark, _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"), root, prefix)
    return relational.bucketed_join_revenue(spark, *names)


def x_disjunctive_revenue(spark, sf_dir):
    """x269 — TPC-H Q19 shape: OR-of-conjunctions revenue mixing part
    and line predicates, one conditional aggregate per branch."""
    return relational.disjunctive_revenue(_t(spark, sf_dir, "lineitem"),
                                          _t(spark, sf_dir, "part"))


def x_status_pivot(spark, sf_dir):
    """x270 — priority × status contingency in WIDE form via pivot
    with an explicit value list (deterministic schema)."""
    return relational.status_pivot(_t(spark, sf_dir, "orders"))


def x_lang_token_quartiles(spark, sf_dir):
    """x267 — per-language token-count quartiles over documents via
    the per-group cumulative distinct-value rule (stats.
    group_quantiles — the same kernel as the relational x257)."""
    from kafana_spark.operators import stats

    d = _docs(spark, sf_dir).select(
        "lang", F.expr("cast(size(split(text, ' ')) as bigint)")
        .alias("n_tokens"))
    return (stats.group_quantiles(d, "lang", F.col("n_tokens"))
            .withColumnRenamed("n", "n_docs"))


#: x294 ABC classification boundaries (cumulative revenue %).
ABC_A_PCT = 70
ABC_B_PCT = 90

#: x295 _msearch batch: search_id -> disjunctive BM25 terms.
MSEARCH_QUERIES = {
    "s1": ("spark", "sort"),
    "s2": ("merge", "vector"),
    "s3": ("window",),
}
MSEARCH_K = 5


def x_abc_classification(spark, sf_dir):
    """x294 — ABC/Pareto classification of parts by revenue: exact
    integer cross-multiplied class boundaries over the per-part
    aggregate (the 80/20 inventory report)."""
    return relational.abc_classification(
        _t(spark, sf_dir, "lineitem"), ABC_A_PCT, ABC_B_PCT)


def x_msearch(spark, sf_dir):
    """x295 — ES _msearch: three BM25 term queries answered in ONE
    corpus pass (union term set through the shared x88 contribution
    tree, broadcast (search, term) split, per-search rank window)."""
    from kafana_spark.operators import relevance

    return relevance.msearch_bm25(_docs(spark, sf_dir),
                                  MSEARCH_QUERIES, MSEARCH_K)


#: x293 RAKE: data-driven stopword pool size and report size.
RAKE_STOP_K = 15
RAKE_TOP_K = 20


def x_rake_keywords(spark, sf_dir):
    """x293 — RAKE keyphrase extraction: maximal non-stopword runs
    scored by summed degree/frequency µunits; stopwords = the corpus's
    top-15 tokens (deterministic cutoff)."""
    from kafana_spark.operators import text

    return text.rake_keywords(_docs(spark, sf_dir),
                              RAKE_STOP_K, RAKE_TOP_K)


#: x292 stump label cut (the x141 heuristic-label boundary).
STUMP_CUT = 4700
STUMP_TOP_K = 5


def x_benford_digits(spark, sf_dir):
    """x291 — Benford first-digit audit of order totals (integer-cent
    leading digit vs precomputed Benford bp constants; the classic
    monetary data-quality screen)."""
    from kafana_spark.operators import stats

    o = _t(spark, sf_dir, "orders")
    return stats.benford_digits(
        o, F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"))


def x_quality_stump(spark, sf_dir):
    """x292 — 1R decision stump: best n_chars threshold predicting
    the x11 quality-heuristic label (integer purity criterion; the
    interpretable baseline every learned gate is judged against)."""
    from kafana_spark.operators import stats, text

    q = text.quality_score(_docs(spark, sf_dir))
    return stats.best_stump(
        q, F.col("n_chars"),
        (F.col("quality_bp") >= STUMP_CUT).cast("long"), STUMP_TOP_K)


#: x288 PIT probe event type.
SCD2_PROBE_TYPE = "purchase"


def x_scd2_dim(spark, sf_dir):
    """x287 — SCD Type-2 dimension from the event changelog:
    consecutive identical states collapse into half-open validity
    intervals with version numbers and a current flag (the history
    table behind the C16 latest-state view)."""
    from kafana_spark.operators import events as ev_ops

    tune_session(spark)
    return ev_ops.scd2_dim(_events(spark, sf_dir))


def x_scd2_state_at(spark, sf_dir):
    """x288 — point-in-time lookup against the x287 dimension: the
    state version in effect AT each purchase event's timestamp (the
    leakage-safe feature-store join)."""
    from kafana_spark.operators import events as ev_ops

    tune_session(spark)
    return ev_ops.scd2_state_at(_events(spark, sf_dir),
                                SCD2_PROBE_TYPE)


def x_trend_fit(spark, sf_dir):
    """x289 — per-event-type OLS trend over the zero-densified daily
    count series: exact integer µunit slope/intercept, floor-on-double
    R² (the "is this metric growing?" regression)."""
    from kafana_spark.operators import events as ev_ops

    tune_session(spark)
    return ev_ops.trend_fit(_events(spark, sf_dir))


def x_stored_trend(spark, sf_dir):
    """x290 — x289 served from the PERSISTED event-rollup index's
    per-type hourly grid (hours collapse to days exactly; the merge
    across batches is a distributive sum). Same oracle as x289 — the
    hash match proves the rollup roundtrip is lossless."""
    from kafana_spark import event_index

    return event_index.trend_from_store(
        spark, _event_index_root(spark, sf_dir))


def _scd2_index_root(spark, sf_dir) -> str:
    """Build the persisted SCD2 dimension index as TWO event-time
    halves (base ≤ midpoint < append), so the oracle-hashed serve
    path exercises the cross-batch merge law, not just a single-batch
    roundtrip."""
    from kafana_spark import scd2_index

    d = _events(spark, sf_dir)

    def _build(r):
        lo, hi = d.agg(F.min(F.unix_micros("ts")),
                       F.max(F.unix_micros("ts"))).first()
        cut = lo + (hi - lo) // 2
        scd2_index.build_scd2_index(
            d.where(F.unix_micros("ts") <= cut), r)
        scd2_index.append_scd2_index(
            d.where(F.unix_micros("ts") > cut), r, batch="b2")

    return _cached_index_root("scd2idx", sf_dir, _build)


def x_stored_scd2(spark, sf_dir):
    """x296 — x287's SCD2 dimension served from the PERSISTED change
    index (two event-time batches merged by the idempotent serve-time
    re-collapse; no event re-read). Same oracle as x287 — the hash
    match proves the store roundtrip AND the cross-batch merge law
    are exact."""
    from kafana_spark import scd2_index

    tune_session(spark)
    return scd2_index.scd2_dim_from_store(
        spark, _scd2_index_root(spark, sf_dir))


def x_stored_pit(spark, sf_dir):
    """x297 — x288's point-in-time lookups served from the stored
    dimension: probe events (the query input) join the maintained
    index — the feature-store shape. Same oracle as x288."""
    from kafana_spark import scd2_index

    tune_session(spark)
    return scd2_index.scd2_state_at_from_store(
        spark, _events(spark, sf_dir),
        _scd2_index_root(spark, sf_dir), SCD2_PROBE_TYPE)


#: x298 binary-ANN Hamming candidate pool (exact-reranked to ANN_K).
BIN_POOL = 100
BIN_DIM = 64


def x_binary_ann(spark, sf_dir):
    """x298 — binary (sign-bit) quantized ANN: Hamming top-BIN_POOL
    over two bigint sign words per vector (8 B vs 512 B — the third
    compression tier beside int8 x50 and PQ x59), exact-cosine rerank
    to top-k. Deterministic end to end — the oracle replays the bit
    packing, the xor/bit_count scan and both rank windows exactly."""
    e = _embs(spark, sf_dir)
    q = similarity.modulo_queries(e, ANN_QUERY_MOD)
    return (similarity.hamming_topk(e, q, ANN_K, BIN_POOL, BIN_DIM)
            .orderBy("qid", "rank"))


def x_stored_binary_ann(spark, sf_dir):
    """x300 — x298 served from the PERSISTED binary index (sign words
    + refine vectors, the PQ codes+vectors layout; packing is
    stateless so appends never drift). Same oracle as x298 — the hash
    match proves the store roundtrip is lossless."""
    from kafana_spark import ann_index

    e = _embs(spark, sf_dir)
    q = similarity.modulo_queries(e, ANN_QUERY_MOD)
    root = _cached_index_root(
        "binidx", sf_dir,
        lambda r: ann_index.build_binary_index(e, r, BIN_DIM))
    return (ann_index.binary_topk_from_index(
        spark, root, q, ANN_K, BIN_POOL, BIN_DIM)
        .orderBy("qid", "rank"))


def x_binary_recall(spark, sf_dir):
    """x299 — binary-ANN recall vs the x07 brute-force truth per
    query in bp (the x125/x282 eval-loop discipline): how much of the
    exact top-k the 64×-smaller Hamming scan retains after rerank."""
    e = _embs(spark, sf_dir)
    q = similarity.modulo_queries(e, ANN_QUERY_MOD)
    bf = (similarity.brute_force_topk(e, q, ANN_K)
          .select("qid", "vec_id"))
    bn = (similarity.hamming_topk(e, q, ANN_K, BIN_POOL, BIN_DIM)
          .select("qid", "vec_id").withColumn("hit", F.lit(1)))
    return (bf.join(bn, ["qid", "vec_id"], "left")
            .groupBy("qid")
            .agg(F.count("hit").cast("int").alias("n_overlap"))
            .select("qid", "n_overlap",
                    F.expr(f"10000 * n_overlap div {ANN_K}")
                    .cast("long").alias("recall_bp"))
            .orderBy("qid"))


EXTENSION_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "x01_dedup_keep_first": x_dedup_keep_first,
    "x02_minhash_near_dup": x_minhash_near_dup,
    "x03_ngram_jaccard_dup": x_ngram_jaccard_dup,
    "x04_simhash_fingerprints": x_simhash_fingerprints,
    "x05_simhash_near_dup": x_simhash_near_dup,
    "x06_embedding_near_dup": x_embedding_near_dup,
    "x07_ann_brute_force": x_ann_brute_force,
    "x08_ann_ivf": x_ann_ivf,
    "x09_token_count": x_token_count,
    "x10_lang_id": x_lang_id,
    "x11_quality_score": x_quality_score,
    "x12_fingerprint": x_fingerprint,
    "x13_rolling_chunks": x_rolling_chunks,
    "x14_multimodal_meta": x_multimodal_meta,
    "x15_sessionize": x_sessionize,
    "x16_asof_join": x_asof_join,
    "x17_percentiles": x_percentiles,
    "x18_tfidf": x_tfidf,
    "x19_enrich_discover": x_enrich_discover,
    "x20_latest_state_store": x_latest_state,
    "x21_sliding_histogram": x_sliding_histogram,
    "x22_suppliers_by_region": x_suppliers_by_region,
    "x23_cube": x_cube,
    "x24_dup_clusters": x_dup_clusters,
    "x25_stratified_sample": x_stratified_sample,
    "x26_vocab_topk": x_vocab_topk,
    "x27_curation": x_curation,
    "x28_redact": x_redact,
    "x29_pack_sequences": x_pack_sequences,
    "x30_avro_roundtrip": x_avro_roundtrip,
    "x31_decontaminate": x_decontaminate,
    "x32_repetition": x_repetition,
    "x33_pair_counts": x_pair_counts,
    "x34_mixture_rebalance": x_mixture_rebalance,
    "x35_incremental_near_dup": x_incremental_near_dup,
    "x36_query_string_search": x_query_string_search,
    "x37_rollup_metrics": x_rollup_metrics,
    "x38_indexed_token_search": x_indexed_token_search,
    "x39_significant_terms": x_significant_terms,
    "x40_pipeline_aggs": x_pipeline_aggs,
    "x41_composite_agg": x_composite_agg,
    "x42_range_agg": x_range_agg,
    "x43_filters_agg": x_filters_agg,
    "x44_rare_terms": x_rare_terms,
    "x45_chunk_dedup": x_chunk_dedup,
    "x46_canonical_docs": x_canonical_docs,
    "x47_shard_assign": x_shard_assign,
    "x48_label_centroids": x_label_centroids,
    "x49_adjacency_matrix": x_adjacency_matrix,
    "x50_int8_quantize": x_int8_quantize,
    "x51_gapfill_histogram": x_gapfill_histogram,
    "x52_percentile_ranks": x_percentile_ranks,
    "x53_weighted_avg": x_weighted_avg,
    "x54_extended_stats": x_extended_stats,
    "x55_oov_rate": x_oov_rate,
    "x56_curation_v2": x_curation_v2,
    "x57_stored_near_dup": x_stored_near_dup,
    "x58_stored_ann": x_stored_ann,
    "x59_pq_ann": x_pq_ann,
    "x60_global_agg": x_global_agg,
    "x61_missing_agg": x_missing_agg,
    "x62_sampler_agg": x_sampler_agg,
    "x63_stored_pq": x_stored_pq,
    "x64_chunk_windows": x_chunk_windows,
    "x65_frame_sample": x_frame_sample,
    "x66_pack_sharded": x_pack_sharded,
    "x67_stored_clusters": x_stored_clusters,
    "x68_embedding_near_dup_bucketed": x_embedding_near_dup_bucketed,
    "x69_exact_substr": x_exact_substr,
    "x70_resize_images": x_resize_images,
    "x71_unigram_logprob": x_unigram_logprob,
    "x72_cms_counts": x_cms_counts,
    "x73_semantic_dedup": x_semantic_dedup,
    "x74_stored_semantic_pairs": x_stored_semantic_pairs,
    "x75_exact_substr_strip": x_exact_substr_strip,
    "x76_stored_substr_spans": x_stored_substr_spans,
    "x77_benchmark_spans": x_benchmark_spans,
    "x78_curation_v3": x_curation_v3,
    "x79_snm_near_dup": x_snm_near_dup,
    "x80_weighted_sample": x_weighted_sample,
    "x81_ann_lsh": x_ann_lsh,
    "x82_hard_negatives": x_hard_negatives,
    "x83_stored_lsh": x_stored_lsh,
    "x84_ann_lsh_multiprobe": x_ann_lsh_multiprobe,
    "x85_bucket_pipeline": x_bucket_pipeline,
    "x86_matrix_stats": x_matrix_stats,
    "x87_diversified_sampler": x_diversified_sampler,
    "x88_bm25_topk": x_bm25_topk,
    "x89_more_like_this": x_more_like_this,
    "x90_highlight": x_highlight,
    "x91_percolate": x_percolate,
    "x92_term_suggest": x_term_suggest,
    "x93_auto_date_histogram": x_auto_date_histogram,
    "x94_dsir_weights": x_dsir_weights,
    "x95_token_budget": x_token_budget,
    "x96_bigram_logprob": x_bigram_logprob,
    "x97_mmr_rerank": x_mmr_rerank,
    "x98_function_score": x_function_score,
    "x99_collapse": x_collapse,
    "x100_string_stats": x_string_stats,
    "x101_boxplot": x_boxplot,
    "x102_t_test": x_t_test,
    "x103_rate": x_rate,
    "x104_top_metrics": x_top_metrics,
    "x105_multi_terms": x_multi_terms,
    "x106_frequent_item_sets": x_frequent_item_sets,
    "x107_categorize_text": x_categorize_text,
    "x108_change_point": x_change_point,
    "x109_random_sampler": x_random_sampler,
    "x110_ppl_gate": x_ppl_gate,
    "x111_has_child": x_has_child,
    "x112_has_parent": x_has_parent,
    "x113_novelty": x_novelty,
    "x114_rank_eval": x_rank_eval,
    "x115_zipf_fit": x_zipf_fit,
    "x116_moving_percentile": x_moving_percentile,
    "x117_pinned_query": x_pinned_query,
    "x118_match_phrase": x_match_phrase,
    "x119_span_near": x_span_near,
    "x120_temperature_mixture": x_temperature_mixture,
    "x121_terms_set": x_terms_set,
    "x122_dis_max": x_dis_max,
    "x123_boosting": x_boosting,
    "x127_explain_score": x_explain_score,
    "x128_completion_suggest": x_completion_suggest,
    "x129_phrase_suggest": x_phrase_suggest,
    "x130_term_vectors": x_term_vectors,
    "x131_normalize": x_normalize,
    "x132_cumulative_cardinality": x_cumulative_cardinality,
    "x133_stored_percolate": x_stored_percolate,
    "x134_graph_explore": x_graph_explore,
    "x135_field_caps": x_field_caps,
    "x136_bpe_merge_train": x_bpe_merge_train,
    "x137_graph_explore_hops": x_graph_explore_hops,
    "x138_bpe_encode": x_bpe_encode,
    "x139_hybrid_rrf": x_hybrid_rrf,
    "x140_semantic_decon": x_semantic_decon,
    "x141_nb_quality": x_nb_quality,
    "x142_nb_eval": x_nb_eval,
    "x143_stored_bpe_encode": x_stored_bpe_encode,
    "x144_hybrid_rrf_lsh": x_hybrid_rrf_lsh,
    "x145_kmeans_refine": x_kmeans_refine,
    "x146_nb_roc": x_nb_roc,
    "x147_ann_ivf_lloyd": x_ann_ivf_lloyd,
    "x148_stored_lloyd": x_stored_lloyd,
    "x149_knn_graph": x_knn_graph,
    "x150_mutual_knn": x_mutual_knn,
    "x151_knn_clusters": x_knn_clusters,
    "x152_cluster_sample": x_cluster_sample,
    "x153_cluster_terms": x_cluster_terms,
    "x154_bpe_fertility": x_bpe_fertility,
    "x155_length_histogram": x_length_histogram,
    "x156_lloyd_update": x_lloyd_update,
    "x157_source_dup_matrix": x_source_dup_matrix,
    "x158_lang_fair_gate": x_lang_fair_gate,
    "x159_lang_card": x_lang_card,
    "x161_curation_v4": x_curation_v4,
    "x162_gopher_rules": x_gopher_rules,
    "x163_knn_label_prop": x_knn_label_prop,
    "x164_nb_calibration": x_nb_calibration,
    "x165_gate_kappa": x_gate_kappa,
    "x166_emb_outliers": x_emb_outliers,
    "x167_pca_power": x_pca_power,
    "x168_curation_v5": x_curation_v5,
    "x169_rejection_report": x_rejection_report,
    "x170_source_gate_matrix": x_source_gate_matrix,
    "x171_dup_quality": x_dup_quality,
    "x172_stored_gates": x_stored_gates,
    "x173_pca_convergence": x_pca_convergence,
    "x174_corpus_map": x_corpus_map,
    "x175_stored_knn_graph": x_stored_knn_graph,
    "x176_curation_impact": x_curation_impact,
    "x177_stored_knn_clusters": x_stored_knn_clusters,
    "x178_stored_cluster_sample": x_stored_cluster_sample,
    "x179_nb_reliability": x_nb_reliability,
    "x180_label_confusion": x_label_confusion,
    "x181_funnel": x_funnel,
    "x182_retention": x_retention,
    "x183_session_stats": x_session_stats,
    "x184_event_transitions": x_event_transitions,
    "x185_rolling_active": x_rolling_active,
    "x186_rfm_segments": x_rfm_segments,
    "x187_error_spike": x_error_spike,
    "x188_rocchio_confusion": x_rocchio_confusion,
    "x189_funnel_latency": x_funnel_latency,
    "x190_acf": x_acf,
    "x191_dow_profile": x_dow_profile,
    "x192_forecast_backtest": x_forecast_backtest,
    "x193_stored_rolling_active": x_stored_rolling_active,
    "x194_stored_acf": x_stored_acf,
    "x195_stored_error_spike": x_stored_error_spike,
    "x196_stored_forecast": x_stored_forecast,
    "x197_bot_flags": x_bot_flags,
    "x198_mixture_waterfill": x_mixture_waterfill,
    "x199_funnel_trend": x_funnel_trend,
    "x200_source_divergence": x_source_divergence,
    "x201_session_paths": x_session_paths,
    "x202_pii_scan": x_pii_scan,
    "x203_revenue_cohorts": x_revenue_cohorts,
    "x204_session_cooccurrence": x_session_cooccurrence,
    "x205_metric_alerts": x_metric_alerts,
    "x206_growth_accounting": x_growth_accounting,
    "x207_power_user_curve": x_power_user_curve,
    "x208_last_touch_attribution": x_last_touch_attribution,
    "x209_mad_anomalies": x_mad_anomalies,
    "x210_cusum_changepoint": x_cusum_changepoint,
    "x211_purchase_intervals": x_purchase_intervals,
    "x212_pagerank": x_pagerank,
    "x213_graph_triangles": x_graph_triangles,
    "x214_degree_histogram": x_degree_histogram,
    "x215_stored_metric_alerts": x_stored_metric_alerts,
    "x216_lexical_diversity": x_lexical_diversity,
    "x217_cell_modularity": x_cell_modularity,
    "x218_personalized_pagerank": x_personalized_pagerank,
    "x219_landing_bounce": x_landing_bounce,
    "x220_conversion_latency": x_conversion_latency,
    "x221_char_entropy": x_char_entropy,
    "x222_stored_pagerank": x_stored_pagerank,
    "x223_stored_mad_anomalies": x_stored_mad_anomalies,
    "x224_stored_cusum": x_stored_cusum,
    "x225_ab_test": x_ab_test,
    "x226_pmi_collocations": x_pmi_collocations,
    "x227_ewma_anomalies": x_ewma_anomalies,
    "x228_link_prediction": x_link_prediction,
    "x229_markov_backtest": x_markov_backtest,
    "x230_layout_advisor": x_layout_advisor,
    "x231_stored_ewma": x_stored_ewma,
    "x232_column_stats": x_column_stats,
    "x233_variant_funnel": x_variant_funnel,
    "x234_latency_cdf": x_latency_cdf,
    "x235_stl_anomalies": x_stl_anomalies,
    "x236_anomaly_ensemble": x_anomaly_ensemble,
    "x237_langid_confusion": x_langid_confusion,
    "x238_doc_metric_corr": x_doc_metric_corr,
    "x239_dow_hour_heatmap": x_dow_hour_heatmap,
    "x240_pricing_summary": x_pricing_summary,
    "x241_top_revenue_orders": x_top_revenue_orders,
    "x242_regional_volume": x_regional_volume,
    "x243_returned_customers": x_returned_customers,
    "x244_brand_share": x_brand_share,
    "x245_big_orders": x_big_orders,
    "x246_supplier_hhi": x_supplier_hhi,
    "x247_priority_sla": x_priority_sla,
    "x248_revenue_bands": x_revenue_bands,
    "x249_overlap_near_dup": x_overlap_near_dup,
    "x250_late_order_priorities": x_late_order_priorities,
    "x251_idle_rich_customers": x_idle_rich_customers,
    "x252_small_qty_revenue": x_small_qty_revenue,
    "x253_market_share": x_market_share,
    "x254_order_cadence": x_order_cadence,
    "x255_daily_revenue_running": x_daily_revenue_running,
    "x256_join_estimate_calibration": x_join_estimate_calibration,
    "x257_priority_order_profile": x_priority_order_profile,
    "x258_revenue_rollup": x_revenue_rollup,
    "x259_top_customers_per_nation": x_top_customers_per_nation,
    "x260_brand_affinity": x_brand_affinity,
    "x261_stored_daily_revenue": x_stored_daily_revenue,
    "x262_order_of_record": x_order_of_record,
    "x263_brand_return_z": x_brand_return_z,
    "x264_yoy_growth": x_yoy_growth,
    "x265_priority_status_chi2": x_priority_status_chi2,
    "x266_discount_curve": x_discount_curve,
    "x267_lang_token_quartiles": x_lang_token_quartiles,
    "x268_bucketed_join_revenue": x_bucketed_join_revenue,
    "x269_disjunctive_revenue": x_disjunctive_revenue,
    "x270_status_pivot": x_status_pivot,
    "x271_tukey_outlier_orders": x_tukey_outlier_orders,
    "x272_revenue_forecast_backtest": x_revenue_forecast_backtest,
    "x273_referential_integrity": x_referential_integrity,
    "x274_blocking_suppliers": x_blocking_suppliers,
    "x275_forecast_revenue_change": x_forecast_revenue_change,
    "x276_margin_proxy": x_margin_proxy,
    "x277_top_supplier_quarter": x_top_supplier_quarter,
    "x278_order_count_distribution": x_order_count_distribution,
    "x279_trade_matrix": x_trade_matrix,
    "x280_filtered_knn": x_filtered_knn,
    "x281_filtered_ivf": x_filtered_ivf,
    "x282_filtered_recall": x_filtered_recall,
    "x283_variable_width_histogram": x_variable_width_histogram,
    "x284_delete_by_query": x_delete_by_query,
    "x285_update_by_query": x_update_by_query,
    "x286_terms_with_other": x_terms_with_other,
    "x160_skew_report": x_skew_report,
    "x124_dedup_eval": x_dedup_eval,
    "x126_corpus_report": x_corpus_report,
    "x125_ann_recall": x_ann_recall,
    "x287_scd2_dim": x_scd2_dim,
    "x288_scd2_state_at": x_scd2_state_at,
    "x289_trend_fit": x_trend_fit,
    "x290_stored_trend": x_stored_trend,
    "x291_benford_digits": x_benford_digits,
    "x292_quality_stump": x_quality_stump,
    "x293_rake_keywords": x_rake_keywords,
    "x294_abc_classification": x_abc_classification,
    "x295_msearch": x_msearch,
    "x296_stored_scd2": x_stored_scd2,
    "x297_stored_pit": x_stored_pit,
    "x298_binary_ann": x_binary_ann,
    "x299_binary_recall": x_binary_recall,
    "x300_stored_binary_ann": x_stored_binary_ann,
    "x301_minhash_prod": x_minhash_prod,
}


# ----------------------------------------------------------- oracle SQL
# DuckDB twins generated from the same constants as the Spark plans.

#: DuckDB's generate_series takes only constant bounds (no lateral /
#: subquery parameters), so per-doc iteration in the oracles is capped
#: by these literals. Every capped site wraps its array in _capped(),
#: which error()s on any row exceeding the cap — a fixture change that
#: outgrows the bound fails the oracle LOUDLY instead of silently
#: under-generating rows and reporting a confusing hash mismatch.
ORACLE_MAX_TOKENS = 1000   # per-doc token count (sf0.1 max ≈ 100)
ORACLE_MAX_DIM = 4096      # embedding dims (testdata: 64)


def _capped(arr_expr: str, cap: int, what: str) -> str:
    return (f"CASE WHEN len({arr_expr}) > {cap} THEN "
            f"error('oracle {what} cap {cap} exceeded') "
            f"ELSE {arr_expr} END")


_TOKS = _capped("string_split(text, ' ')", ORACLE_MAX_TOKENS, "token")
_TOKS_LOWER = _capped("string_split(lower(text), ' ')",
                      ORACLE_MAX_TOKENS, "token")

_SHINGLES = (
    "sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s "
    f"FROM (SELECT doc_id, {_TOKS} AS t FROM documents), "
    f"generate_series(1, {ORACLE_MAX_TOKENS}) g(i) WHERE i + 2 <= len(t))"
)
_H60 = "CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)"

_JACCARD_CTES = (
    "sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id), "
    "inter AS (SELECT x.doc_id AS da, y.doc_id AS db, COUNT(*) AS i FROM sh x "
    "JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)"
)
_JACCARD_SELECT = (
    "SELECT c.da, c.db, ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard "
    "FROM cand c JOIN inter ON inter.da = c.da AND inter.db = c.db "
    "JOIN sizes sa ON sa.doc_id = c.da JOIN sizes sb ON sb.doc_id = c.db "
    f"WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) >= {NEAR_DUP_THRESHOLD}"
)
_JACCARD_TAIL = f"{_JACCARD_CTES} {_JACCARD_SELECT} ORDER BY 1, 2"


def _minhash_ctes() -> str:
    """The full minhash+LSH pipeline as a CTE chain ending in the
    verified-pairs ingredients (cand/sizes/inter) — shared by the x02
    oracle and the x24 clustering oracle."""
    mins = ", ".join(
        f"MIN(({a} * hm + {b}) % {MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS))
    band_selects = []
    for b in range(MINHASH_BANDS):
        cols = ", ".join(f"CAST(mh{b * MINHASH_ROWS + r} AS VARCHAR)"
                         for r in range(MINHASH_ROWS))
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5(concat_ws(',', {cols})) "
            "AS bkey FROM sig")
    bands = " UNION ALL ".join(band_selects)
    return (
        f"{_SHINGLES}, "
        f"hm AS (SELECT doc_id, {_H60} % {MINHASH_P} AS hm FROM sh), "
        f"sig AS (SELECT doc_id, {mins} FROM hm GROUP BY doc_id), "
        f"bands AS ({bands}), "
        "cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db FROM bands a "
        "JOIN bands b ON a.band = b.band AND a.bkey = b.bkey "
        "AND a.doc_id < b.doc_id), "
        + _JACCARD_CTES
    )


def _minhash_sql() -> str:
    return f"WITH {_minhash_ctes()} {_JACCARD_SELECT} ORDER BY 1, 2"


def _dup_clusters_ctes() -> str:
    """CTE chain ending in ``cl(doc_id, cluster_id)``: connected
    components over the near-dup pair graph as a recursive min-label
    reachability CTE — every document gets the min doc_id reachable
    through verified near-dup pairs (itself if isolated). Must be
    opened with WITH RECURSIVE."""
    return (
        f"{_minhash_ctes()}, "
        f"p AS ({_JACCARD_SELECT}), "
        "edges AS (SELECT da AS a, db AS b FROM p "
        "UNION ALL SELECT db, da FROM p), "
        "reach(node, label) AS ("
        "SELECT doc_id, doc_id FROM documents "
        "UNION "
        "SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b), "
        "cl AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach "
        "GROUP BY node)"
    )


def _dup_clusters_sql() -> str:
    """x24 oracle."""
    return (f"WITH RECURSIVE {_dup_clusters_ctes()} "
            "SELECT doc_id, cluster_id FROM cl ORDER BY doc_id")


def _ngram_jaccard_sql() -> str:
    return (
        f"WITH {_SHINGLES}, "
        "cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db FROM sh a "
        "JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id), "
        + _JACCARD_TAIL
    )


def _simhash_core() -> str:
    bit_sums = ", ".join(
        f"SUM(((hv >> {b}) & 1) * 2 - 1) AS b{b}" for b in range(SIMHASH_BITS))
    fp = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {2 ** b} ELSE 0 END)"
        for b in range(SIMHASH_BITS))
    return (
        f"{_SHINGLES}, "
        f"hv AS (SELECT doc_id, {_H60} AS hv FROM sh), "
        f"bits AS (SELECT doc_id, {bit_sums} FROM hv GROUP BY doc_id), "
        f"sims AS (SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM bits)"
    )


def _simhash_sql() -> str:
    return f"WITH {_simhash_core()} SELECT doc_id, simhash FROM sims ORDER BY doc_id"


def _simhash_near_dup_sql() -> str:
    chunk_bits = SIMHASH_BITS // SIMHASH_CHUNKS
    chunk_vals = ", ".join(f"({c})" for c in range(SIMHASH_CHUNKS))
    return (
        f"WITH {_simhash_core()}, "
        f"blocks AS (SELECT doc_id, simhash, c, (simhash >> (c * {chunk_bits})) "
        f"& {(1 << chunk_bits) - 1} AS v FROM sims, (VALUES {chunk_vals}) t(c)), "
        "cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, "
        "a.simhash AS ha, b.simhash AS hb FROM blocks a JOIN blocks b "
        "ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id) "
        "SELECT da, db, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming "
        f"FROM cand WHERE bit_count(xor(ha, hb)) <= {SIMHASH_MAX_HAMMING} "
        "ORDER BY da, db"
    )


_COS = ("list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * "
        "sqrt(list_dot_product({b}, {b})))")


def _embedding_near_dup_sql() -> str:
    cos = _COS.format(a="a.v", b="b.v")
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) "
        f"SELECT a.vec_id AS da, b.vec_id AS db, ROUND({cos}, 4) AS cos "
        "FROM e a JOIN e b ON a.vec_id < b.vec_id "
        f"WHERE ROUND({cos}, 4) >= {EMB_DUP_THRESHOLD} ORDER BY da, db"
    )


def _emb_bucket_ctes() -> str:
    """CTE chain ending in ``p(da, db, cos)`` — the deterministic
    SemDeDup pipeline: modulo centroids, 6dp-rounded multi-assignment
    (same convention as the proven x08 IVF oracle), in-cell
    4dp-rounded cosine pairs. Shared by the x68 pair oracle and the
    x73 clustering oracle."""
    acos = "ROUND(" + _COS.format(a="x.v", b="c.cv") + ", 6)"
    cos = "ROUND(" + _COS.format(a="a.v", b="b.v") + ", 4)"
    return (
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        f"c AS (SELECT vec_id AS cid, v AS cv FROM e "
        f"WHERE vec_id % {EMB_BUCKET_CELL_MOD} = 0), "
        "asg AS (SELECT vec_id, v, cid FROM ("
        "SELECT x.vec_id, x.v, c.cid, ROW_NUMBER() OVER "
        f"(PARTITION BY x.vec_id ORDER BY {acos} DESC, c.cid) AS r "
        f"FROM e x, c) t WHERE r <= {EMB_BUCKET_N_ASSIGN}), "
        f"p AS (SELECT a.vec_id AS da, b.vec_id AS db, {cos} AS cos "
        "FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id "
        f"WHERE {cos} >= {EMB_DUP_THRESHOLD})"
    )


def _embedding_near_dup_bucketed_sql() -> str:
    """x68 oracle — the SemDeDup pair chain with cross-cell dedup via
    MAX(cos) GROUP BY pair (mirrors the Spark side's groupBy, which
    guards against last-ulp BLAS divergence between two cells'
    batches)."""
    return (
        f"WITH {_emb_bucket_ctes()} "
        "SELECT da, db, MAX(cos) AS cos FROM p GROUP BY da, db "
        "ORDER BY da, db"
    )


def _semantic_dedup_sql() -> str:
    """x73 oracle — connected components over the x68 pair graph as a
    recursive min-label reachability CTE (same pattern as x24's
    clustering oracle), plus the keep-one flag (cluster min)."""
    return (
        f"WITH RECURSIVE {_emb_bucket_ctes()}, "
        "edges AS (SELECT da AS a, db AS b FROM p "
        "UNION ALL SELECT db, da FROM p), "
        "reach(node, label) AS ("
        "SELECT vec_id, vec_id FROM embeddings "
        "UNION "
        "SELECT e2.a, r.label FROM edges e2 JOIN reach r "
        "ON r.node = e2.b), "
        "cl AS (SELECT node AS vec_id, MIN(label) AS cluster_id "
        "FROM reach GROUP BY node) "
        "SELECT vec_id, cluster_id, "
        "vec_id = MIN(vec_id) OVER (PARTITION BY cluster_id) AS keep "
        "FROM cl ORDER BY vec_id"
    )


def _gram_ctes(k: int = dedup.EXSUB_K) -> str:
    """``t`` + ``g(doc_id, pos, h)`` — the positional hashed k-gram
    index every ExactSubstr-family oracle starts from."""
    gram = f"array_to_string(list_slice(t, i, i + {k - 1}), ' ')"
    h = f"CAST(concat('0x', substr(md5({gram}), 1, 15)) AS BIGINT)"
    return (
        f"t AS (SELECT doc_id, {_TOKS} AS t FROM documents), "
        f"g AS (SELECT doc_id, i - 1 AS pos, {h} AS h "
        f"FROM t, generate_series(1, {ORACLE_MAX_TOKENS}) gs(i) "
        f"WHERE i + {k - 1} <= len(t))"
    )


def _islands_ctes(k: int = dedup.EXSUB_K) -> str:
    """``m`` + ``s(doc_id, pos, span_idx)`` — gaps-and-islands span
    grouping over a ``cov(doc_id, pos)`` CTE (break when consecutive
    covered starts gap by > k — with fixed k the covered end is
    monotone in the start, so this is exact)."""
    return (
        "m AS (SELECT doc_id, pos, CASE WHEN pos - LAG(pos) OVER "
        f"(PARTITION BY doc_id ORDER BY pos) > {k} THEN 1 ELSE 0 END "
        "AS brk FROM cov), "
        "s AS (SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id "
        "ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span_idx FROM m)"
    )


_SPAN_SELECT = (
    "SELECT doc_id, CAST(span_idx AS INTEGER) AS span_idx, "
    "CAST(MIN(pos) AS INTEGER) AS start_tok, "
    "CAST(MAX(pos) + {km1} AS INTEGER) AS end_tok, "
    "CAST(MAX(pos) + {km1} - MIN(pos) + 1 AS INTEGER) AS span_tokens "
    "FROM s GROUP BY doc_id, span_idx ORDER BY doc_id, span_idx"
)


def _exact_substr_ctes() -> str:
    """Full chain through ``s`` for the duplicated-span oracles (x69,
    x75, x76): duplicated-hash set (COUNT >= 2) + coverage join +
    islands."""
    return (
        f"{_gram_ctes()}, "
        "d AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2), "
        "cov AS (SELECT DISTINCT doc_id, pos FROM g JOIN d USING (h)), "
        f"{_islands_ctes()}"
    )


def _snm_near_dup_sql() -> str:
    """x79 oracle — bucketed sorted-neighborhood blocking replayed
    exactly: md5 leading-token key, per-nibble-bucket ROW_NUMBER,
    rank-adjacency candidates within the window, exact shingle-Jaccard
    verify (the same _JACCARD_TAIL as x02/x03)."""
    kt, w = dedup.SNM_KEY_TOKENS, dedup.SNM_WINDOW
    return (
        f"WITH t0 AS (SELECT doc_id, {_TOKS} AS t FROM documents), "
        "k0 AS (SELECT doc_id, "
        f"md5(array_to_string(list_slice(t, 1, {kt}), ' ')) AS snm_key "
        "FROM t0), "
        "rk AS (SELECT doc_id, snm_key, substr(snm_key, 1, 1) AS bkt, "
        "ROW_NUMBER() OVER (PARTITION BY substr(snm_key, 1, 1) "
        "ORDER BY snm_key, doc_id) AS rn FROM k0), "
        "cand AS (SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS da, "
        "GREATEST(a.doc_id, b.doc_id) AS db "
        "FROM rk a JOIN rk b ON b.bkt = a.bkt AND b.rn > a.rn "
        f"AND b.rn - a.rn < {w}), "
        f"{_SHINGLES}, "
        + _JACCARD_TAIL
    )


def _weighted_sample_sql() -> str:
    """x80 oracle — the A-ES key replayed exactly: portable-hash
    uniform (never 0), fixed-point ROUND(ln(u)/w · 1e9)::BIGINT key,
    top-K by (key DESC, doc_id)."""
    from kafana_spark.operators.sample import WS_KEY_SCALE, WS_U_GRAIN

    u = ("((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) "
         f"|| '#ws'), 1, 15)) AS BIGINT) % {WS_U_GRAIN}) + 0.5) "
         f"/ {WS_U_GRAIN}.0")
    return (
        f"WITH {_quality_core()}, "
        "w AS (SELECT doc_id, quality_bp, "
        f"CAST(ROUND(ln({u}) / quality_bp * {WS_KEY_SCALE}) AS BIGINT) "
        "AS skey FROM q WHERE quality_bp > 0) "
        "SELECT doc_id, quality_bp, skey FROM w "
        f"ORDER BY skey DESC, doc_id LIMIT {WS_SAMPLE_K}"
    )


DECON_SPAN_K = 3  # x77 gram width — x31's 3-gram overlap convention


def _benchmark_spans_sql() -> str:
    """x77 oracle — contamination spans: covered positions are corpus
    gram starts whose hash occurs in the benchmark slice (doc_id %
    DECON_BENCH_MOD == 0), islands-merged like x69 but at the 3-gram
    width x31's overlap scoring uses."""
    return (
        f"WITH {_gram_ctes(DECON_SPAN_K)}, "
        "bh AS (SELECT DISTINCT h FROM g "
        f"WHERE doc_id % {DECON_BENCH_MOD} = 0), "
        "cov AS (SELECT DISTINCT g.doc_id, g.pos FROM g "
        f"JOIN bh USING (h) WHERE g.doc_id % {DECON_BENCH_MOD} <> 0), "
        f"{_islands_ctes(DECON_SPAN_K)} "
        + _SPAN_SELECT.format(km1=DECON_SPAN_K - 1)
    )


def _exact_substr_sql() -> str:
    """x69 oracle — maximal duplicated spans from the shared chain."""
    return (f"WITH {_exact_substr_ctes()} "
            + _SPAN_SELECT.format(km1=dedup.EXSUB_K - 1))


def _exact_substr_strip_sql() -> str:
    """x75 oracle — spans expand to covered token positions, the
    positional token explode anti-joins them, and survivors reassemble
    with a position-ordered string_agg (empty text for fully-stripped
    docs, mirroring the Spark coalesce)."""
    k = dedup.EXSUB_K
    return (
        f"WITH {_exact_substr_ctes()}, "
        "spans AS (SELECT doc_id, MIN(pos) AS s0, "
        f"MAX(pos) + {k - 1} AS e0 FROM s GROUP BY doc_id, span_idx), "
        "cov2 AS (SELECT doc_id, gp.p AS pos FROM spans, "
        f"generate_series(0, {ORACLE_MAX_TOKENS}) gp(p) "
        "WHERE gp.p BETWEEN s0 AND e0), "
        "tok2 AS (SELECT doc_id, i - 1 AS pos, t[i] AS tk FROM t, "
        f"generate_series(1, {ORACLE_MAX_TOKENS}) gi(i) "
        "WHERE i <= len(t)), "
        "kept AS (SELECT tok2.doc_id, tok2.pos, tok2.tk FROM tok2 "
        "LEFT JOIN cov2 ON cov2.doc_id = tok2.doc_id "
        "AND cov2.pos = tok2.pos WHERE cov2.pos IS NULL) "
        "SELECT doc.doc_id, COALESCE(string_agg(kept.tk, ' ' "
        "ORDER BY kept.pos), '') AS text "
        "FROM documents doc LEFT JOIN kept ON kept.doc_id = doc.doc_id "
        "GROUP BY doc.doc_id ORDER BY doc.doc_id"
    )


def _unigram_ctes() -> str:
    """CTE chain ending in ``lm(doc_id, n_tokens, score_u, avg_u)`` —
    the x71 unigram-LM pipeline (hashed-token vocab, corpus total,
    fixed-point per-token cost ROUND((ln N − ln cnt)·1e4)::BIGINT; all
    sums integer so accumulation order cannot diverge; ln() inputs are
    integer counts, identical on both engines well inside the 1e-4
    rounding grain). ``lm``-prefixed CTE names so the chain composes
    into the curation oracle without collisions."""
    fp = text.UNIGRAM_FP
    return (
        "lmtk AS (SELECT doc_id, unnest(string_split(text, ' ')) "
        "AS t FROM documents), "
        "lmh AS (SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 15)) "
        "AS BIGINT) AS h FROM lmtk), "
        "lmv AS (SELECT h, COUNT(*) AS cnt FROM lmh GROUP BY h), "
        "lmtot AS (SELECT COUNT(*) AS n FROM lmh), "
        "lmdt AS (SELECT doc_id, h, COUNT(*) AS c FROM lmh "
        "GROUP BY doc_id, h), "
        "lmc AS (SELECT lmdt.doc_id, lmdt.c, "
        f"CAST(ROUND((ln(lmtot.n) - ln(lmv.cnt)) * {fp}) AS BIGINT) "
        "AS cost_u FROM lmdt JOIN lmv USING (h), lmtot), "
        "lm AS (SELECT doc_id, CAST(SUM(c) AS INTEGER) AS n_tokens, "
        "CAST(SUM(c * cost_u) AS BIGINT) AS score_u, "
        "CAST(SUM(c * cost_u) // SUM(c) AS BIGINT) AS avg_u "
        "FROM lmc GROUP BY doc_id)"
    )


def _unigram_logprob_sql() -> str:
    """x71 oracle — the shared unigram chain, selected per doc."""
    return (f"WITH {_unigram_ctes()} "
            "SELECT doc_id, n_tokens, score_u, avg_u FROM lm "
            "ORDER BY doc_id")


def _cms_counts_sql() -> str:
    """x72 oracle — replays the count-min sketch exactly: d hash rows
    of w buckets keyed by the portable hash of token||'#'||row, exact
    top-K terms, min-over-rows estimate."""
    from kafana_spark.rollup import CMS_D, CMS_W

    hb = ("CAST(concat('0x', substr(md5({t} || '#' || "
          "CAST({j} AS VARCHAR)), 1, 15)) AS BIGINT) % " + str(CMS_W))
    return (
        "WITH tk AS (SELECT unnest(string_split(text, ' ')) AS t "
        "FROM documents), "
        "ex AS (SELECT t, COUNT(*) AS exact_cnt FROM tk GROUP BY t), "
        "top AS (SELECT t, exact_cnt FROM ex "
        f"ORDER BY exact_cnt DESC, t LIMIT {CMS_TOP_K}), "
        "rows_ AS (SELECT t, j FROM tk, "
        f"generate_series(0, {CMS_D - 1}) g(j)), "
        f"sk AS (SELECT j, {hb.format(t='t', j='j')} AS b, "
        "COUNT(*) AS cnt FROM rows_ GROUP BY 1, 2), "
        "cand AS (SELECT top.t, g.j FROM top, "
        f"generate_series(0, {CMS_D - 1}) g(j)), "
        f"cb AS (SELECT t, j, {hb.format(t='t', j='j')} AS b FROM cand), "
        "est AS (SELECT cb.t, CAST(MIN(COALESCE(sk.cnt, 0)) AS BIGINT) "
        "AS cms_cnt FROM cb LEFT JOIN sk ON sk.j = cb.j AND sk.b = cb.b "
        "GROUP BY cb.t) "
        "SELECT top.t AS token, CAST(top.exact_cnt AS BIGINT) "
        "AS exact_cnt, est.cms_cnt FROM top JOIN est ON est.t = top.t "
        "ORDER BY exact_cnt DESC, token"
    )


def _resize_images_sql() -> str:
    """x70 oracle — byte-exact replay of the resize stub: payload =
    text bytes truncated to width·height and zero-padded; md5 over the
    padded VARCHAR equals Spark's md5 over the padded binary because
    the text is pure ASCII (guarded) and DuckDB hashes the raw bytes
    including chr(0) padding (verified: md5('hi'||chr(0)×3) matches
    hashlib.md5(b'hi\\x00\\x00\\x00'))."""
    t = RESIZE_W * RESIZE_H
    return (
        "WITH d0 AS (SELECT doc_id, CASE WHEN "
        "octet_length(encode(text)) <> length(text) THEN "
        "error('oracle resize requires ascii text') ELSE text END "
        "AS text FROM documents) "
        f"SELECT doc_id AS media_id, CAST({RESIZE_W} AS INTEGER) AS width, "
        f"CAST({RESIZE_H} AS INTEGER) AS height, "
        f"CAST({t} AS BIGINT) AS payload_len, "
        f"md5(substr(text, 1, {t}) || "
        f"repeat(chr(0), greatest(0, {t} - length(text)))) AS payload_md5 "
        "FROM d0 ORDER BY media_id"
    )


def _ann_brute_force_sql() -> str:
    cos = _COS.format(a="q.v", b="c.v")
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
        f"q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id % {ANN_QUERY_MOD} = 0), "
        f"scored AS (SELECT q.qid, c.vec_id, ROUND({cos}, 4) AS cos FROM q, e c "
        "WHERE c.vec_id <> q.qid), "
        "ranked AS (SELECT qid, vec_id, cos, CAST(ROW_NUMBER() OVER "
        "(PARTITION BY qid ORDER BY cos DESC, vec_id) AS INTEGER) AS rank FROM scored) "
        f"SELECT qid, vec_id, cos, rank FROM ranked WHERE rank <= {ANN_K} "
        "ORDER BY qid, rank"
    )


def _ann_ivf_sql() -> str:
    """Full IVF pipeline in DuckDB — the modulo quantizer is
    deterministic, so the whole approximate path (centroid set,
    6dp-rounded argmax assignment with n_assign cells, n_probe probes,
    4dp-rounded in-cell ranking) is exactly reproducible in SQL."""
    acos = "ROUND(" + _COS.format(a="x.v", b="c.cv") + ", 6)"
    qcos = "ROUND(" + _COS.format(a="q.v", b="c.cv") + ", 6)"
    cos = "ROUND(" + _COS.format(a="p.qv", b="m.v") + ", 4)"
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
        f"c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % {ANN_CENTROID_MOD} = 0), "
        f"q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id % {ANN_QUERY_MOD} = 0), "
        "asg AS (SELECT vec_id, v, cid FROM ("
        f"SELECT x.vec_id, x.v, c.cid, ROW_NUMBER() OVER (PARTITION BY x.vec_id "
        f"ORDER BY {acos} DESC, c.cid) AS r FROM e x, c) t WHERE r <= {ANN_N_ASSIGN}), "
        "probes AS (SELECT qid, qv, cid FROM ("
        f"SELECT q.qid, q.v AS qv, c.cid, ROW_NUMBER() OVER (PARTITION BY q.qid "
        f"ORDER BY {qcos} DESC, c.cid) AS r FROM q, c) t WHERE r <= {ANN_N_PROBE}), "
        f"scored AS (SELECT DISTINCT p.qid, m.vec_id, {cos} AS cos "
        "FROM probes p JOIN asg m ON p.cid = m.cid WHERE m.vec_id <> p.qid), "
        "ranked AS (SELECT qid, vec_id, cos, CAST(ROW_NUMBER() OVER "
        "(PARTITION BY qid ORDER BY cos DESC, vec_id) AS INTEGER) AS rank FROM scored) "
        f"SELECT qid, vec_id, cos, rank FROM ranked WHERE rank <= {ANN_K} "
        "ORDER BY qid, rank"
    )


def _ann_lsh_sql() -> str:
    """Full hyperplane-LSH pipeline in DuckDB — anchor-difference
    normals (deterministic modulo pool) and integer micro-unit
    projections (per-dimension floor(t·1e6+0.5) before the sum — the
    _pq_sql stance) make every bit reproducible across engines; the
    candidate set and 4dp cosine ranking then replay exactly."""
    need = 2 * LSH_N_TABLES * LSH_N_BITS
    cos = _COS.format(a="q.v", b="m.v")
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        "a AS (SELECT v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn "
        f"FROM e WHERE vec_id % {LSH_ANCHOR_MOD} = 1), "
        "pr AS (SELECT (rn-1)//2 AS pid, "
        "any_value(CASE WHEN rn % 2 = 1 THEN v END) AS v1, "
        "any_value(CASE WHEN rn % 2 = 0 THEN v END) AS v2 "
        f"FROM a WHERE rn <= {need} GROUP BY 1), "
        f"p AS (SELECT pid // {LSH_N_BITS} AS t, "
        f"pid % {LSH_N_BITS} AS j, v1, v2 FROM pr), "
        "du AS (SELECT x.vec_id, p.t, p.j, "
        "CAST(SUM(floor(x.v[i] * (p.v1[i] - p.v2[i]) * 1000000 + 0.5)) "
        "AS BIGINT) AS du "
        f"FROM e x, p, generate_series(1, {EMB_DIM}) g(i) "
        "GROUP BY x.vec_id, p.t, p.j), "
        "codes AS (SELECT vec_id, t, CAST(SUM(CASE WHEN du >= 0 THEN 1 "
        "ELSE 0 END * CAST(power(2, j) AS BIGINT)) AS BIGINT) AS code "
        "FROM du GROUP BY vec_id, t), "
        "cand AS (SELECT DISTINCT qc.vec_id AS qid, c.vec_id "
        "FROM codes qc JOIN codes c ON qc.t = c.t AND qc.code = c.code "
        f"WHERE qc.vec_id % {ANN_QUERY_MOD} = 0 "
        "AND c.vec_id <> qc.vec_id), "
        f"scored AS (SELECT cand.qid, cand.vec_id, ROUND({cos}, 4) AS cos "
        "FROM cand JOIN e q ON q.vec_id = cand.qid "
        "JOIN e m ON m.vec_id = cand.vec_id), "
        "ranked AS (SELECT qid, vec_id, cos, CAST(ROW_NUMBER() OVER "
        "(PARTITION BY qid ORDER BY cos DESC, vec_id) AS INTEGER) AS rank "
        "FROM scored) "
        f"SELECT qid, vec_id, cos, rank FROM ranked WHERE rank <= {ANN_K} "
        "ORDER BY qid, rank"
    )


def _ann_lsh_multiprobe_sql() -> str:
    """x84 oracle — x81's replay plus the probe expansion: per
    (query, table), the own-bucket code UNION ALL the code with the
    minimum-|margin| bit flipped (ROW_NUMBER over (abs(du), j) — the
    exact tie-break Spark's min_by(j, struct(abs(du), j)) applies)."""
    need = 2 * LSH_N_TABLES * LSH_N_BITS
    cos = _COS.format(a="q.v", b="m.v")
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        "a AS (SELECT v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn "
        f"FROM e WHERE vec_id % {LSH_ANCHOR_MOD} = 1), "
        "pr AS (SELECT (rn-1)//2 AS pid, "
        "any_value(CASE WHEN rn % 2 = 1 THEN v END) AS v1, "
        "any_value(CASE WHEN rn % 2 = 0 THEN v END) AS v2 "
        f"FROM a WHERE rn <= {need} GROUP BY 1), "
        f"p AS (SELECT pid // {LSH_N_BITS} AS t, "
        f"pid % {LSH_N_BITS} AS j, v1, v2 FROM pr), "
        "du AS (SELECT x.vec_id, p.t, p.j, "
        "CAST(SUM(floor(x.v[i] * (p.v1[i] - p.v2[i]) * 1000000 + 0.5)) "
        "AS BIGINT) AS du "
        f"FROM e x, p, generate_series(1, {EMB_DIM}) g(i) "
        "GROUP BY x.vec_id, p.t, p.j), "
        "codes AS (SELECT vec_id, t, CAST(SUM(CASE WHEN du >= 0 THEN 1 "
        "ELSE 0 END * CAST(power(2, j) AS BIGINT)) AS BIGINT) AS code "
        "FROM du GROUP BY vec_id, t), "
        f"qdu AS (SELECT * FROM du WHERE vec_id % {ANN_QUERY_MOD} = 0), "
        "jst AS (SELECT vec_id, t, j AS jstar FROM ("
        "SELECT vec_id, t, j, ROW_NUMBER() OVER (PARTITION BY vec_id, t "
        "ORDER BY abs(du), j) AS r FROM qdu) s WHERE r = 1), "
        "qc AS (SELECT c.vec_id AS qid, c.t, c.code, jst.jstar "
        "FROM codes c JOIN jst ON jst.vec_id = c.vec_id "
        "AND jst.t = c.t), "
        "probes AS (SELECT qid, t, code FROM qc "
        "UNION ALL SELECT qid, t, "
        "xor(code, CAST(power(2, jstar) AS BIGINT)) AS code FROM qc), "
        "cand AS (SELECT DISTINCT pb.qid, c.vec_id "
        "FROM probes pb JOIN codes c ON pb.t = c.t AND pb.code = c.code "
        "WHERE c.vec_id <> pb.qid), "
        f"scored AS (SELECT cand.qid, cand.vec_id, ROUND({cos}, 4) AS cos "
        "FROM cand JOIN e q ON q.vec_id = cand.qid "
        "JOIN e m ON m.vec_id = cand.vec_id), "
        "ranked AS (SELECT qid, vec_id, cos, CAST(ROW_NUMBER() OVER "
        "(PARTITION BY qid ORDER BY cos DESC, vec_id) AS INTEGER) AS rank "
        "FROM scored) "
        f"SELECT qid, vec_id, cos, rank FROM ranked WHERE rank <= {ANN_K} "
        "ORDER BY qid, rank"
    )


def _hard_negatives_sql() -> str:
    """x82 oracle — the x08 IVF replay with the label riding through
    assignment and a mismatch filter before ranking."""
    acos = "ROUND(" + _COS.format(a="x.v", b="c.cv") + ", 6)"
    qcos = "ROUND(" + _COS.format(a="q.v", b="c.cv") + ", 6)"
    cos = "ROUND(" + _COS.format(a="p.qv", b="m.v") + ", 4)"
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, "
        "label FROM embeddings), "
        "c AS (SELECT vec_id AS cid, v AS cv FROM e "
        f"WHERE vec_id % {ANN_CENTROID_MOD} = 0), "
        "q AS (SELECT vec_id AS qid, v, label AS qlabel FROM e "
        f"WHERE vec_id % {ANN_QUERY_MOD} = 0), "
        "asg AS (SELECT vec_id, v, label, cid FROM ("
        "SELECT x.vec_id, x.v, x.label, c.cid, ROW_NUMBER() OVER "
        f"(PARTITION BY x.vec_id ORDER BY {acos} DESC, c.cid) AS r "
        f"FROM e x, c) t WHERE r <= {ANN_N_ASSIGN}), "
        "probes AS (SELECT qid, qv, qlabel, cid FROM ("
        "SELECT q.qid, q.v AS qv, q.qlabel, c.cid, ROW_NUMBER() OVER "
        f"(PARTITION BY q.qid ORDER BY {qcos} DESC, c.cid) AS r "
        f"FROM q, c) t WHERE r <= {ANN_N_PROBE}), "
        "scored AS (SELECT DISTINCT p.qid, p.qlabel, m.vec_id, m.label, "
        f"{cos} AS cos FROM probes p JOIN asg m ON p.cid = m.cid "
        "WHERE m.vec_id <> p.qid AND m.label <> p.qlabel), "
        "ranked AS (SELECT qid, qlabel, vec_id, label, cos, "
        "CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, "
        "vec_id) AS INTEGER) AS rank FROM scored) "
        "SELECT qid, qlabel, vec_id, label, cos, rank FROM ranked "
        f"WHERE rank <= {ANN_K} ORDER BY qid, rank"
    )


def _cdc_sql() -> str:
    """The FULL content-defined-chunking pipeline in DuckDB — upgrading
    x13 from rows-only to a complete oracle. The kernel
    (text.rolling_hash_chunks) is deterministic: per-position window
    hashes are position-LOCAL (byte at p contributes 257^(i-p) to the
    window ending at i — a set-wise aggregation, no sequential state),
    and the only sequential part — greedy min-length acceptance of
    boundary candidates — is a jump-pointer recursion: next(c) = first
    candidate ≥ c + window, precomputed set-wise, then followed by a
    pure equi-join recursive CTE (the first candidate of a doc is
    always accepted: every candidate i ≥ window-1 satisfies the
    i − (−1) ≥ window gap from the virtual cut at −1). Arithmetic is
    HUGEINT mod 2^61−1 with a recursive 257^k power table, matching
    the numpy kernel's Mersenne fold bit-for-bit. ASCII + length caps
    error() loudly on fixture drift.
    """
    m = (1 << 61) - 1
    w, mask_bits, cap = 16, 5, 2048
    return (
        "WITH RECURSIVE "
        "d0 AS (SELECT doc_id, CASE WHEN "
        "octet_length(encode(text)) <> length(text) THEN "
        "error('x13 oracle requires ascii text') "
        f"WHEN length(text) > {cap} THEN "
        f"error('x13 oracle length cap {cap} exceeded') "
        "ELSE text END AS text FROM documents), "
        "dl AS (SELECT doc_id, text, length(text) AS n FROM d0), "
        "pw AS (SELECT 0 AS k, CAST(1 AS HUGEINT) AS p "
        f"UNION ALL SELECT k + 1, (p * 257) % {m} FROM pw "
        f"WHERE k < {cap}), "
        "bytes AS MATERIALIZED (SELECT dl.doc_id, g.p, "
        "CAST(ascii(substr(dl.text, g.p + 1, 1)) AS HUGEINT) AS b "
        f"FROM dl, generate_series(0, {cap - 1}) g(p) WHERE g.p < dl.n), "
        "wh AS (SELECT b.doc_id, b.p + pw.k AS i, "
        f"CAST(SUM(b.b * pw.p) % {m} AS BIGINT) AS h, "
        "COUNT(*) AS nterms "
        f"FROM bytes b JOIN pw ON pw.k < {w} "
        "GROUP BY b.doc_id, b.p + pw.k), "
        "cand AS MATERIALIZED (SELECT wh.doc_id, wh.i "
        "FROM wh JOIN dl USING (doc_id) "
        f"WHERE wh.i >= {w - 1} AND wh.i < dl.n "
        f"AND wh.h % {1 << mask_bits} = 0 AND wh.nterms = {w}), "
        "nxt AS MATERIALIZED (SELECT a.doc_id, a.i, MIN(b.i) AS nx "
        "FROM cand a LEFT JOIN cand b "
        f"ON b.doc_id = a.doc_id AND b.i >= a.i + {w} "
        "GROUP BY a.doc_id, a.i), "
        "acc AS MATERIALIZED ("
        "SELECT doc_id, MIN(i) AS cut, 0 AS idx FROM cand GROUP BY doc_id "
        "UNION ALL SELECT n.doc_id, n.nx, a.idx + 1 "
        "FROM acc a JOIN nxt n ON n.doc_id = a.doc_id AND n.i = a.cut "
        "WHERE n.nx IS NOT NULL), "
        "starts AS (SELECT a.doc_id, a.idx AS chunk_idx, "
        "COALESCE(p.cut, -1) + 1 AS s, a.cut + 1 AS e "
        "FROM acc a LEFT JOIN acc p "
        "ON p.doc_id = a.doc_id AND p.idx = a.idx - 1), "
        "lastc AS (SELECT doc_id, MAX(cut) AS lc, MAX(idx) AS li "
        "FROM acc GROUP BY doc_id), "
        "tailc AS (SELECT dl.doc_id, COALESCE(l.li + 1, 0) AS chunk_idx, "
        "COALESCE(l.lc + 1, 0) AS s, dl.n AS e "
        "FROM dl LEFT JOIN lastc l USING (doc_id) "
        "WHERE COALESCE(l.lc + 1, 0) < dl.n), "
        "allc AS (SELECT * FROM starts UNION ALL SELECT * FROM tailc), "
        "chash AS (SELECT a.doc_id, a.chunk_idx, a.e - a.s AS chunk_len, "
        f"CAST(SUM(b.b * pw.p) % {m} AS BIGINT) AS chunk_hash "
        "FROM allc a "
        "JOIN bytes b ON b.doc_id = a.doc_id AND b.p >= a.s AND b.p < a.e "
        "JOIN pw ON pw.k = a.e - 1 - b.p "
        "GROUP BY a.doc_id, a.chunk_idx, a.e, a.s) "
        "SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx, "
        "chunk_hash, CAST(chunk_len AS INTEGER) AS chunk_len "
        "FROM chash ORDER BY doc_id, chunk_idx"
    )


def _pack_sharded_sql() -> str:
    """x66's deterministic packing in DuckDB: per-shard running token
    sums, bin boundaries via the same jump-pointer recursion as x13
    (next bin start = first item whose cumulative sum exceeds the
    current bin's base + budget; an item larger than the budget forms
    a singleton bin — j == a ⇒ next = a + 1, mirroring the kernel's
    members-nonempty flush rule)."""
    b, n = PACK2_BUDGET, PACK2_SHARDS
    h = ("CAST(concat('0x', substr(md5(concat_ws('#', "
         "CAST(doc_id AS VARCHAR), 'pack')), 1, 15)) AS BIGINT)")
    return (
        "WITH RECURSIVE "
        "t AS (SELECT doc_id, len(string_split(text, ' ')) AS nt, "
        f"CAST({h} % {n} AS INTEGER) AS shard FROM documents), "
        "o AS (SELECT shard, doc_id, nt, "
        "ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS r, "
        "SUM(nt) OVER (PARTITION BY shard ORDER BY doc_id "
        "ROWS UNBOUNDED PRECEDING) AS cs FROM t), "
        "mx AS (SELECT shard, MAX(r) AS nr FROM o GROUP BY shard), "
        "jmp AS (SELECT a.shard, a.r AS a, "
        f"MIN(CASE WHEN b.cs - (a.cs - a.nt) > {b} THEN b.r END) AS j "
        "FROM o a JOIN o b ON b.shard = a.shard AND b.r >= a.r "
        "GROUP BY a.shard, a.r, a.cs, a.nt), "
        "nx AS (SELECT shard, a, CASE WHEN j = a THEN a + 1 ELSE j END "
        "AS nxt FROM jmp), "
        "bins AS (SELECT shard, 1 AS start_r, 0 AS seq_no FROM mx "
        "UNION ALL SELECT bi.shard, n2.nxt, bi.seq_no + 1 "
        "FROM bins bi JOIN nx n2 "
        "ON n2.shard = bi.shard AND n2.a = bi.start_r "
        "JOIN mx ON mx.shard = bi.shard "
        "WHERE n2.nxt IS NOT NULL AND n2.nxt <= mx.nr), "
        "binsz AS (SELECT bi.shard, bi.seq_no, bi.start_r, "
        "COALESCE(nb.start_r, mx.nr + 1) AS end_r "
        "FROM bins bi JOIN mx ON mx.shard = bi.shard "
        "LEFT JOIN bins nb "
        "ON nb.shard = bi.shard AND nb.seq_no = bi.seq_no + 1), "
        "asg AS (SELECT o.shard, o.doc_id, o.nt, bz.seq_no "
        "FROM o JOIN binsz bz ON bz.shard = o.shard "
        "AND o.r >= bz.start_r AND o.r < bz.end_r), "
        "agg AS (SELECT shard, seq_no, SUM(nt) AS seq_tokens, "
        "COUNT(*) AS seq_docs FROM asg GROUP BY shard, seq_no) "
        "SELECT concat(CAST(a.shard AS VARCHAR), '-', "
        "CAST(a.seq_no AS VARCHAR)) AS seq_id, a.doc_id, "
        "CAST(a.nt AS INTEGER) AS n_tokens, "
        "CAST(g.seq_tokens AS INTEGER) AS seq_tokens, "
        "CAST(g.seq_docs AS INTEGER) AS seq_docs "
        "FROM asg a JOIN agg g USING (shard, seq_no) ORDER BY a.doc_id"
    )


def _pq_sql() -> str:
    """Full PQ/ADC + exact-refine pipeline in DuckDB. Deterministic
    codebooks (modulo-sampled training vectors) and integer micro-unit
    distances (each per-DIMENSION squared difference rounded to
    floor(t·1e6 + 0.5) before any accumulation) make the entire
    approximate path bit-reproducible across engines — every SUM here
    adds integer values only, order-independent by construction, so
    DuckDB's unspecified aggregation order cannot diverge from Spark's
    fixed left fold (ADVICE.md r5)."""
    sub = PQ_DIM // PQ_M
    d2 = ("floor((x.v[mm.m*{s}+i] - tr.v[mm.m*{s}+i]) * "
          "(x.v[mm.m*{s}+i] - tr.v[mm.m*{s}+i]) * 1000000 + 0.5)"
          ).format(s=sub)
    qd2 = d2.replace("x.v", "q.v")
    return (
        "WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        f"e AS (SELECT vec_id, CASE WHEN len(v) <> {PQ_DIM} THEN "
        f"error('oracle pq dim {PQ_DIM} mismatch') ELSE v END AS v "
        "FROM e0), "
        "tr AS (SELECT v, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 "
        "AS INTEGER) AS code FROM (SELECT vec_id, v FROM e "
        f"WHERE vec_id % {PQ_TRAIN_MOD} = 0 ORDER BY vec_id "
        f"LIMIT {PQ_KSUB})), "
        "enc AS (SELECT x.vec_id, mm.m, tr.code, "
        f"CAST(SUM({d2}) AS BIGINT) AS d2u "
        f"FROM e x, generate_series(0, {PQ_M - 1}) mm(m), tr, "
        f"generate_series(1, {sub}) g(i) "
        "GROUP BY x.vec_id, mm.m, tr.code), "
        "codes AS (SELECT vec_id, m, code FROM ("
        "SELECT vec_id, m, code, ROW_NUMBER() OVER (PARTITION BY "
        "vec_id, m ORDER BY d2u, code) AS r FROM enc) t WHERE r = 1), "
        f"q AS (SELECT vec_id AS qid, v FROM e "
        f"WHERE vec_id % {ANN_QUERY_MOD} = 0), "
        "tab AS (SELECT q.qid, mm.m, tr.code, "
        f"CAST(SUM({qd2}) AS BIGINT) AS d2u "
        f"FROM q, generate_series(0, {PQ_M - 1}) mm(m), tr, "
        f"generate_series(1, {sub}) g(i) "
        "GROUP BY q.qid, mm.m, tr.code), "
        "sc AS (SELECT t.qid, c.vec_id, CAST(SUM(t.d2u) AS BIGINT) "
        "AS adist_u FROM codes c JOIN tab t ON t.m = c.m "
        "AND t.code = c.code WHERE t.qid <> c.vec_id "
        "GROUP BY t.qid, c.vec_id), "
        "cand AS (SELECT qid, vec_id FROM (SELECT qid, vec_id, "
        "ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist_u, vec_id) "
        f"AS r FROM sc) t WHERE r <= {PQ_POOL}), "
        "rr AS (SELECT cd.qid, cd.vec_id, "
        "CAST(SUM(floor((q.v[i] - x.v[i]) * (q.v[i] - x.v[i]) "
        "* 1000000 + 0.5)) AS BIGINT) AS d2u "
        "FROM cand cd JOIN e x ON x.vec_id = cd.vec_id "
        f"JOIN q ON q.qid = cd.qid, generate_series(1, {PQ_DIM}) g(i) "
        "GROUP BY cd.qid, cd.vec_id), "
        "fin AS (SELECT qid, vec_id, d2u, CAST(ROW_NUMBER() OVER "
        "(PARTITION BY qid ORDER BY d2u, vec_id) AS INTEGER) AS rank "
        "FROM rr) "
        f"SELECT qid, vec_id, d2u, rank FROM fin "
        f"WHERE rank <= {ANN_K} ORDER BY qid, rank"
    )


def _lang_id_core_sql() -> str:
    """CTE chain ending in ``lpred(doc_id, pred_lang)`` — the x10
    heuristic, shared with the x237 confusion eval."""
    score = ("len(list_intersect(list_distinct(string_split(lower(text), ' ')), "
             "[{words}]))")
    s = {lang: score.format(words=", ".join(f"'{w}'" for w in words))
         for lang, words in text.LANG_MARKERS.items()}
    return (
        "sc AS (SELECT doc_id, text, "
        + ", ".join(f"{s[lang]} AS s_{lang}" for lang in sorted(s)) +
        " FROM documents), "
        "lpred AS (SELECT doc_id, CASE "
        f"WHEN regexp_matches(text, '{text.CJK_PATTERN}') THEN 'zh' "
        "WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0 THEN 'und' "
        "WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de' "
        "WHEN s_en >= s_es AND s_en >= s_fr THEN 'en' "
        "WHEN s_es >= s_fr THEN 'es' "
        "ELSE 'fr' END AS pred_lang FROM sc)"
    )


def _lang_id_sql() -> str:
    return (f"WITH {_lang_id_core_sql()} "
            "SELECT doc_id, pred_lang FROM lpred ORDER BY doc_id")


def _quality_core(final_name: str = "q") -> str:
    """CTE chain ending in ``<final_name>(doc_id, n_chars, quality_bp)``."""
    stop = ", ".join(f"'{w}'" for w in text.STOPWORDS)
    return (
        "qt AS (SELECT doc_id, n_chars, len(string_split(text, ' ')) AS n, "
        "len(list_distinct(string_split(text, ' '))) AS uniq, "
        f"len(list_filter(string_split(text, ' '), x -> list_contains([{stop}], x))) "
        "AS stop_hits FROM documents), "
        f"{final_name} AS (SELECT doc_id, n_chars, CAST(("
        "4 * (LEAST(n, 100) * 100) + "
        "3 * ((10000 * uniq + n // 2) // n) + "
        "3 * LEAST((50000 * stop_hits) // n, 10000)"
        ") // 10 AS BIGINT) AS quality_bp FROM qt)"
    )


def _quality_sql() -> str:
    return (f"WITH {_quality_core()} "
            "SELECT doc_id, n_chars, quality_bp FROM q ORDER BY doc_id")


def _chunk_dedup_sql() -> str:
    k, t = CHUNK_BLOCK_TOKENS, CHUNK_MAX_FREQ
    toks = _capped("string_split(text, ' ')", 400 * k, "chunk-token")
    return (
        f"WITH t AS (SELECT doc_id, {toks} AS toks FROM documents), "
        f"b AS (SELECT doc_id, i AS blk_pos, "
        f"array_to_string(toks[(i*{k}+1):(i*{k}+{k})], ' ') AS blk "
        f"FROM t, generate_series(0, 400) g(i) WHERE i*{k} < len(toks)), "
        "f AS (SELECT blk, COUNT(*) AS freq FROM b GROUP BY blk), "
        "kept AS (SELECT b.doc_id, b.blk_pos, b.blk FROM b "
        f"JOIN f USING (blk) WHERE f.freq <= {t}) "
        "SELECT doc_id, string_agg(blk, ' ' ORDER BY blk_pos) AS clean_text "
        "FROM kept GROUP BY doc_id ORDER BY doc_id"
    )


def _canonical_sql() -> str:
    return (
        f"WITH RECURSIVE {_dup_clusters_ctes()}, {_quality_core()}, "
        "m AS (SELECT cl.doc_id, cl.cluster_id, q.quality_bp "
        "FROM cl JOIN q USING (doc_id)), "
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id "
        "ORDER BY quality_bp DESC, doc_id) AS rn, "
        "COUNT(*) OVER (PARTITION BY cluster_id) AS nm FROM m) "
        "SELECT cluster_id, doc_id AS keeper, CAST(nm AS BIGINT) AS n_members, "
        "quality_bp FROM r WHERE rn = 1 ORDER BY cluster_id"
    )


def _shard_sql() -> str:
    n, s = SHARD_N, SHARD_SEED
    hexp = ("CAST(concat('0x', substr(md5(concat_ws('#', "
            "CAST(doc_id AS VARCHAR), '{ns}{seed}')), 1, 15)) AS BIGINT)")
    hs = hexp.format(ns="shard", seed=s)
    hp = hexp.format(ns="pos", seed=s)
    return (
        f"WITH h AS (SELECT doc_id, {hs} AS hs, {hp} AS hp FROM documents) "
        f"SELECT doc_id, CAST(hs % {n} AS INTEGER) AS shard, "
        f"CAST(ROW_NUMBER() OVER (PARTITION BY hs % {n} "
        "ORDER BY hp, doc_id) AS INTEGER) AS pos "
        "FROM h ORDER BY doc_id"
    )


#: OOV CTE chain (tk2/v2/oo) shared by the x55-style scoring inside
#: the x56 composition oracle
_OOV_CTES = (
    "tk2 AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) "
    "AS token FROM documents), "
    "v2 AS (SELECT token, COUNT(*) AS cnt FROM tk2 GROUP BY token "
    "ORDER BY cnt DESC, token LIMIT 25), "
    "oo AS (SELECT doc_id, (10000 * COUNT(*) FILTER (WHERE token NOT IN "
    "(SELECT token FROM v2))) // COUNT(*) AS oov_bp FROM tk2 "
    "GROUP BY doc_id)")


def _rare_terms_sql() -> str:
    return (
        "WITH sh2 AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS s "
        f"FROM (SELECT doc_id, {_TOKS} AS t FROM documents), "
        f"generate_series(1, {ORACLE_MAX_TOKENS}) g(i) WHERE i + 1 <= len(t)), "
        "f AS (SELECT s AS term, COUNT(*) AS cnt FROM sh2 GROUP BY s) "
        f"SELECT term, cnt FROM f WHERE cnt <= {RARE_MAX_DF} ORDER BY term"
    )


# --- relevance-family oracles (x88-x95) -------------------------------

#: (doc_id, dl, term) exploded tokens with per-doc length riding along
#: — the shared head of the BM25/suggester oracles.
_TK_CTE = (f"tk AS (SELECT doc_id, len({_TOKS}) AS dl, "
           f"unnest({_TOKS}) AS term FROM documents)")


def _bm25_contrib(fp: float, k1: float, b: float) -> str:
    """The per-(doc, term) BM25 contribution in fixed-point units —
    the EXACT expression shape of relevance.bm25_scores (same
    association order, so the doubles agree bit-for-bit)."""
    return ("CAST(ROUND("
            "ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * "
            f"(tf * {k1 + 1.0!r}) / "
            f"(tf + {k1!r} * ({1.0 - b!r} + {b!r} * dl / avgdl)) * {fp!r}"
            ") AS BIGINT) AS c_u")


def _bm25_scores_ctes() -> str:
    """CTE chain ending in ``sc(doc_id, n_matched, score_u)`` — the
    BM25 scores for the x88 literal query; shared by the x88 ranking,
    the x98 function_score, and the x99 collapse oracles."""
    from kafana_spark.operators.relevance import BM25_B, BM25_FP, BM25_K1

    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    return (
        f"{_TK_CTE}, "
        "st AS (SELECT COUNT(*) AS n_docs, "
        f"AVG(len({_TOKS})) AS avgdl FROM documents), "
        f"tf AS (SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl "
        f"FROM tk WHERE term IN ({terms}) GROUP BY 1, 2), "
        "dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1), "
        "c AS (SELECT doc_id, "
        f"{_bm25_contrib(float(BM25_FP), BM25_K1, BM25_B)} "
        "FROM tf JOIN dfq USING (term) CROSS JOIN st), "
        "sc AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_matched, "
        "CAST(SUM(c_u) AS BIGINT) AS score_u FROM c GROUP BY doc_id)"
    )


def _bm25_sql() -> str:
    return (f"WITH {_bm25_scores_ctes()} "
            "SELECT doc_id, n_matched, score_u FROM sc "
            f"ORDER BY score_u DESC, doc_id LIMIT {BM25_K}")


def _mlt_sql() -> str:
    from kafana_spark.operators.relevance import (
        BM25_B, BM25_FP, BM25_K1, MLT_MAX_TERMS)

    return (
        f"WITH {_TK_CTE}, "
        f"stf AS (SELECT term, COUNT(*) AS stf FROM tk "
        f"WHERE doc_id = {MLT_SEED_DOC} GROUP BY 1), "
        "dfq0 AS (SELECT term, COUNT(DISTINCT doc_id) AS df "
        "FROM tk GROUP BY 1), "
        "nd AS (SELECT COUNT(*) AS n_docs FROM documents), "
        "qt AS (SELECT term FROM (SELECT s.term, s.stf * "
        f"CAST(ROUND(ln(n_docs / df) * {float(BM25_FP)!r}) AS BIGINT) "
        "AS w_u FROM stf s JOIN dfq0 USING (term) CROSS JOIN nd) "
        f"ORDER BY w_u DESC, term LIMIT {MLT_MAX_TERMS}), "
        "st AS (SELECT COUNT(*) AS n_docs, "
        f"AVG(len({_TOKS})) AS avgdl FROM documents), "
        "tf AS (SELECT doc_id, tk.term AS term, COUNT(*) AS tf, "
        "MAX(dl) AS dl FROM tk JOIN qt USING (term) GROUP BY 1, 2), "
        "dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1), "
        "c AS (SELECT doc_id, "
        f"{_bm25_contrib(float(BM25_FP), BM25_K1, BM25_B)} "
        "FROM tf JOIN dfq USING (term) CROSS JOIN st) "
        "SELECT doc_id, CAST(COUNT(*) AS INT) AS n_matched, "
        "CAST(SUM(c_u) AS BIGINT) AS score_u FROM c "
        f"WHERE doc_id <> {MLT_SEED_DOC} GROUP BY doc_id "
        f"ORDER BY score_u DESC, doc_id LIMIT {MLT_K}"
    )


def _highlight_sql() -> str:
    from kafana_spark.operators.relevance import HIGHLIGHT_CTX

    t = HL_TERM
    width = 2 * HIGHLIGHT_CTX + len(t) + 2
    return (
        "WITH h AS (SELECT doc_id, ' ' || text || ' ' AS p "
        "FROM documents), "
        f"m AS (SELECT doc_id, strpos(p, ' {t} ') AS pos, p FROM h) "
        "SELECT doc_id, CAST(pos AS INT) AS pos, "
        f"replace(substr(p, greatest(1, pos - {HIGHLIGHT_CTX}), {width}), "
        f"' {t} ', ' <em>{t}</em> ') AS snippet "
        "FROM m WHERE pos > 0 ORDER BY doc_id"
    )


def _percolate_sql() -> str:
    vals = ", ".join(f"('{qid}', '{t}', {len(ts)})"
                     for qid, ts in sorted(PERC_QUERIES.items())
                     for t in ts)
    return (
        f"WITH q(query_id, term, n_required) AS (VALUES {vals}), "
        "dt AS (SELECT DISTINCT doc_id, term FROM "
        f"(SELECT doc_id, unnest({_TOKS}) AS term FROM documents)), "
        "hits AS (SELECT doc_id, query_id, n_required, COUNT(*) AS nm "
        "FROM dt JOIN q USING (term) GROUP BY 1, 2, 3), "
        "ok AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_hits, "
        "MIN(doc_id) AS first_id FROM hits WHERE nm = n_required "
        "GROUP BY 1), "
        "qq AS (SELECT DISTINCT query_id FROM q) "
        "SELECT qq.query_id, COALESCE(n_hits, 0) AS n_hits, first_id "
        "FROM qq LEFT JOIN ok USING (query_id) ORDER BY query_id"
    )


def _suggest_sql() -> str:
    """Brute-force twin of the SymSpell path: the deletion-neighborhood
    join is a candidate SUPERSET of Levenshtein ≤ 2 (pinned in
    tests/test_relevance.py), and the Spark side applies the exact
    levenshtein filter, so exhaustive vocab × query search with the
    same filter is row-identical."""
    from kafana_spark.operators.relevance import (
        SUGGEST_MAX_EDIT, SUGGEST_PER_TERM)

    vals = ", ".join(f"('{m}')" for m in SUGGEST_INPUTS)
    return (
        f"WITH {_TK_CTE}, "
        "v AS (SELECT term, COUNT(*) AS freq FROM tk GROUP BY 1), "
        f"qs(q) AS (VALUES {vals}), "
        "cand AS (SELECT qs.q, v.term, v.freq, "
        "CAST(levenshtein(qs.q, v.term) AS INT) AS dist FROM qs, v "
        f"WHERE levenshtein(qs.q, v.term) <= {SUGGEST_MAX_EDIT}), "
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q "
        "ORDER BY dist, freq DESC, term) AS rn FROM cand) "
        "SELECT q, term, dist, freq, CAST(rn AS INT) AS rn FROM r "
        f"WHERE rn <= {SUGGEST_PER_TERM} ORDER BY q, rn"
    )


def _auto_hist_sql() -> str:
    from kafana_spark.query import AUTO_HIST_LADDER

    vals = ", ".join(f"({s})" for s in AUTO_HIST_LADDER)
    return (
        "WITH b AS (SELECT epoch_us(MIN(ts)) // 1000000 AS lo, "
        "epoch_us(MAX(ts)) // 1000000 AS hi FROM events), "
        f"l(interval_s) AS (VALUES {vals}), "
        "ch AS (SELECT interval_s FROM b, l "
        f"WHERE (hi - lo) // interval_s + 1 <= {AUTO_HIST_TARGET} "
        "ORDER BY interval_s LIMIT 1) "
        "SELECT make_timestamp(((epoch_us(ts) // 1000000) // interval_s "
        "* interval_s) * 1000000) AS bucket_start, interval_s, "
        "COUNT(*) AS cnt FROM events, ch GROUP BY 1, 2 ORDER BY 1"
    )


def _dsir_sql() -> str:
    from kafana_spark.operators.sample import DSIR_BUCKETS, DSIR_FP

    nb = DSIR_BUCKETS
    return (
        "WITH uni AS (SELECT doc_id, lang = 'en' AS is_t, "
        f"unnest({_TOKS}) AS g FROM documents), "
        f"big AS (SELECT doc_id, lang = 'en' AS is_t, "
        "t[i] || ' ' || t[i+1] AS g FROM "
        f"(SELECT doc_id, lang, {_TOKS} AS t FROM documents), "
        f"generate_series(1, {ORACLE_MAX_TOKENS}) gs(i) "
        "WHERE i + 1 <= len(t)), "
        "ex AS (SELECT * FROM uni UNION ALL SELECT * FROM big), "
        "h AS (SELECT doc_id, is_t, "
        f"CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) % {nb} "
        "AS b FROM ex), "
        "bu AS (SELECT b, COUNT(*) AS c_raw, "
        "SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS c_t FROM h GROUP BY 1), "
        "tot AS (SELECT SUM(c_raw) AS n_raw, SUM(c_t) AS n_t FROM bu), "
        "lt AS (SELECT b, CAST(ROUND("
        f"(ln(c_t + 1) - ln(n_t + {nb}) - ln(c_raw + 1) + "
        f"ln(n_raw + {nb})) * {float(DSIR_FP)!r}) AS BIGINT) AS lr_u "
        "FROM bu CROSS JOIN tot) "
        "SELECT doc_id, CAST(COUNT(*) AS INT) AS n_feats, "
        "CAST(SUM(lr_u) AS BIGINT) AS weight_u FROM h JOIN lt USING (b) "
        f"GROUP BY 1 ORDER BY weight_u DESC, doc_id LIMIT {DSIR_K}"
    )


def _bigram_sql() -> str:
    from kafana_spark.operators.text import BIGRAM_BACKOFF, UNIGRAM_FP

    fp = float(UNIGRAM_FP)
    gs = f"generate_series(1, {ORACLE_MAX_TOKENS}) g(i)"
    return (
        f"WITH tr AS (SELECT * FROM documents "
        f"WHERE doc_id % {BIGRAM_TRAIN_MOD} = 0), "
        f"t1 AS (SELECT unnest({_TOKS}) AS t FROM tr), "
        "c1 AS (SELECT t, COUNT(*) AS c1 FROM t1 GROUP BY 1), "
        "tot AS (SELECT COUNT(*) AS n1, COUNT(DISTINCT t) AS nv FROM t1), "
        "c2 AS (SELECT g, COUNT(*) AS c2 FROM "
        f"(SELECT t[i] || ' ' || t[i+1] AS g FROM "
        f"(SELECT {_TOKS} AS t FROM tr), {gs} WHERE i + 1 <= len(t)) "
        "GROUP BY 1), "
        f"f AS (SELECT doc_id, t[1] AS w FROM "
        f"(SELECT doc_id, {_TOKS} AS t FROM documents) WHERE len(t) >= 1), "
        "fc AS (SELECT doc_id, CAST(ROUND((ln(n1 + nv) - "
        f"ln(COALESCE(c1.c1, 0) + 1)) * {fp!r}) AS BIGINT) AS cost_u, "
        "0 AS bk FROM f LEFT JOIN c1 ON c1.t = f.w CROSS JOIN tot), "
        f"bs AS (SELECT doc_id, t[i] AS prev, t[i+1] AS w, "
        f"t[i] || ' ' || t[i+1] AS g FROM "
        f"(SELECT doc_id, {_TOKS} AS t FROM documents), {gs} "
        "WHERE i + 1 <= len(t)), "
        "bc AS (SELECT doc_id, CASE WHEN c2.c2 IS NOT NULL THEN "
        f"CAST(ROUND((ln(cp.c1) - ln(c2.c2)) * {fp!r}) AS BIGINT) "
        f"ELSE CAST(ROUND((ln(n1 + nv) - ln(COALESCE(cw.c1, 0) + 1) "
        f"- ln({BIGRAM_BACKOFF!r})) * {fp!r}) AS BIGINT) END AS cost_u, "
        "CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END AS bk "
        "FROM bs LEFT JOIN c2 ON c2.g = bs.g "
        "LEFT JOIN c1 cp ON cp.t = bs.prev "
        "LEFT JOIN c1 cw ON cw.t = bs.w CROSS JOIN tot) "
        "SELECT doc_id, CAST(COUNT(*) AS INT) AS n_scored, "
        "CAST(SUM(bk) AS INT) AS n_backoff, "
        "CAST(SUM(cost_u) AS BIGINT) AS score_u, "
        "CAST(SUM(cost_u) AS BIGINT) // COUNT(*) AS avg_u "
        "FROM (SELECT * FROM fc UNION ALL SELECT * FROM bc) "
        "GROUP BY doc_id ORDER BY doc_id"
    )


def _function_score_sql() -> str:
    from kafana_spark.operators.relevance import BM25_FP

    return (
        f"WITH {_bm25_scores_ctes()}, {_quality_core()}, "
        "wq AS (SELECT doc_id, CAST(ROUND(ln(1.0 + quality_bp) * "
        f"{float(BM25_FP)!r}) AS BIGINT) AS wq_u FROM q) "
        "SELECT sc.doc_id, n_matched, score_u, "
        "CAST(score_u * wq_u AS BIGINT) AS fs_u "
        "FROM sc JOIN wq USING (doc_id) "
        f"ORDER BY fs_u DESC, sc.doc_id LIMIT {FS_K}"
    )


def _collapse_sql() -> str:
    return (
        f"WITH {_bm25_scores_ctes()} "
        "SELECT lang, CAST(rn AS INT) AS rn, doc_id, score_u FROM "
        "(SELECT d.lang, sc.doc_id, sc.score_u, ROW_NUMBER() OVER "
        "(PARTITION BY d.lang ORDER BY sc.score_u DESC, sc.doc_id) AS rn "
        "FROM sc JOIN documents d USING (doc_id)) "
        f"WHERE rn <= {COLLAPSE_K} ORDER BY lang, rn"
    )


def _mmr_sql() -> str:
    """Unrolled MMR greedy (MMR_K steps) — each step is one per-query
    argmax CTE over integer scores, so the sequential selection is
    exact in set-based SQL."""
    from kafana_spark.operators.similarity import (
        MMR_CAND, MMR_K, MMR_LAMBDA_NUM)

    lam, lam2 = MMR_LAMBDA_NUM, 10 - MMR_LAMBDA_NUM
    qcos = "ROUND(" + _COS.format(a="q.v", b="c.v") + ", 4)"
    pcos = "ROUND(" + _COS.format(a="x.v", b="y.v") + ", 4)"
    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        f"q AS (SELECT vec_id AS qid, v FROM e "
        f"WHERE vec_id % {ANN_QUERY_MOD} = 0), "
        f"scored AS (SELECT q.qid, c.vec_id, {qcos} AS cos "
        "FROM q, e c WHERE c.vec_id <> q.qid), "
        "cand AS MATERIALIZED (SELECT qid, vec_id, "
        "CAST(ROUND(cos * 10000.0) AS BIGINT) AS rel_u FROM "
        "(SELECT qid, vec_id, cos, ROW_NUMBER() OVER (PARTITION BY qid "
        "ORDER BY cos DESC, vec_id) AS rn FROM scored) "
        f"WHERE rn <= {MMR_CAND}), "
        "ps AS MATERIALIZED (SELECT a.qid, a.vec_id AS va, b.vec_id AS vb, "
        f"CAST(ROUND({pcos} * 10000.0) AS BIGINT) AS sim_u "
        "FROM cand a JOIN cand b ON a.qid = b.qid "
        "AND a.vec_id <> b.vec_id "
        "JOIN e x ON x.vec_id = a.vec_id "
        "JOIN e y ON y.vec_id = b.vec_id), "
        f"sel1 AS (SELECT qid, vec_id, rel_u, {lam} * rel_u AS mmr_u, "
        "1 AS rank FROM (SELECT qid, vec_id, rel_u, ROW_NUMBER() OVER "
        f"(PARTITION BY qid ORDER BY {lam} * rel_u DESC, vec_id) AS rn "
        "FROM cand) WHERE rn = 1), "
        "selu1 AS MATERIALIZED (SELECT * FROM sel1)",
    ]
    for kk in range(2, MMR_K + 1):
        parts.append(
            f", mx{kk} AS (SELECT c.qid, c.vec_id, MAX(p.sim_u) AS mx "
            f"FROM cand c JOIN selu{kk - 1} s ON s.qid = c.qid "
            "JOIN ps p ON p.qid = c.qid AND p.va = c.vec_id "
            "AND p.vb = s.vec_id GROUP BY 1, 2)"
            f", sc{kk} AS (SELECT c.qid, c.vec_id, c.rel_u, "
            f"{lam} * c.rel_u - {lam2} * m.mx AS mmr_u "
            f"FROM cand c JOIN mx{kk} m ON m.qid = c.qid "
            "AND m.vec_id = c.vec_id "
            f"LEFT JOIN selu{kk - 1} s ON s.qid = c.qid "
            "AND s.vec_id = c.vec_id WHERE s.vec_id IS NULL)"
            f", sel{kk} AS (SELECT qid, vec_id, rel_u, mmr_u, "
            f"{kk} AS rank FROM (SELECT *, ROW_NUMBER() OVER "
            "(PARTITION BY qid ORDER BY mmr_u DESC, vec_id) AS rn "
            f"FROM sc{kk}) WHERE rn = 1)"
            f", selu{kk} AS MATERIALIZED (SELECT * FROM selu{kk - 1} "
            f"UNION ALL SELECT * FROM sel{kk})")
    parts.append(
        f" SELECT qid, CAST(rank AS INT) AS rank, vec_id, rel_u, mmr_u "
        f"FROM selu{MMR_K} ORDER BY qid, rank")
    return "".join(parts)


def _token_budget_sql() -> str:
    return (
        f"WITH {_quality_core()}, "
        f"n AS (SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents), "
        "j AS (SELECT q.doc_id, quality_bp, n_tokens FROM q "
        "JOIN n USING (doc_id)), "
        "c AS (SELECT doc_id, quality_bp, n_tokens, "
        "CAST(SUM(n_tokens) OVER (ORDER BY quality_bp DESC, doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
        "AS cum_tokens FROM j) "
        f"SELECT * FROM c WHERE cum_tokens <= {TOKEN_BUDGET} "
        "ORDER BY doc_id"
    )


# --- x100-x110 oracles ------------------------------------------------

#: the sample_bucket(key, seed=0) DuckDB twin (operators/sample.py)
def _bucket_sql(key: str) -> str:
    return ("CAST(concat('0x', substr(md5(concat_ws('#', "
            f"CAST({key} AS VARCHAR), '0')), 1, 15)) AS BIGINT) "
            "% 1000000")


def _string_stats_sql() -> str:
    """x100 oracle — lengths in one agg; char distribution unnested,
    each entropy term rounded to integer nano-bits BEFORE the sum."""
    return (
        "WITH s AS (SELECT event_type AS s FROM events "
        "WHERE event_type IS NOT NULL), "
        "base AS (SELECT COUNT(*) AS cnt, MIN(length(s)) AS min_len, "
        "MAX(length(s)) AS max_len, ROUND(AVG(length(s)), 4) AS avg_len "
        "FROM s), "
        "ch AS (SELECT unnest(string_split(s, '')) AS c FROM s), "
        "cc AS (SELECT c, COUNT(*) AS n_c FROM ch WHERE c <> '' "
        "GROUP BY c), "
        "tot AS (SELECT CAST(SUM(n_c) AS BIGINT) AS n FROM cc), "
        "ent AS (SELECT CAST(SUM(CAST(ROUND(-(CAST(n_c AS DOUBLE) / n) "
        "* log2(CAST(n_c AS DOUBLE) / n) * 1e9) AS BIGINT)) AS BIGINT) "
        "AS entropy_nano FROM cc, tot) "
        "SELECT base.cnt, base.min_len, base.max_len, base.avg_len, "
        "ent.entropy_nano FROM base, ent"
    )


def _boxplot_sql() -> str:
    """x101 oracle — quantile_cont shares Spark percentile's (n−1)·q
    linear interpolation; fences from the 4dp-rounded quantiles."""
    return (
        "WITH q AS (SELECT l_returnflag, COUNT(*) AS cnt, "
        "MIN(l_extendedprice) AS min_v, MAX(l_extendedprice) AS max_v, "
        "ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS q1, "
        "ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS q2, "
        "ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS q3 "
        "FROM lineitem GROUP BY l_returnflag), "
        "f AS (SELECT l_returnflag, q1 - 1.5 * (q3 - q1) AS fl, "
        "q3 + 1.5 * (q3 - q1) AS fu FROM q), "
        "w AS (SELECT l.l_returnflag, MIN(l.l_extendedprice) AS "
        "lo_whisker, MAX(l.l_extendedprice) AS hi_whisker FROM "
        "lineitem l JOIN f ON l.l_returnflag = f.l_returnflag "
        "WHERE l.l_extendedprice >= f.fl AND l.l_extendedprice <= f.fu "
        "GROUP BY l.l_returnflag) "
        "SELECT q.l_returnflag, q.cnt, q.min_v, q.max_v, q.q1, q.q2, "
        "q.q3, w.lo_whisker, w.hi_whisker FROM q JOIN w "
        "USING (l_returnflag) ORDER BY l_returnflag"
    )


def _t_test_sql() -> str:
    """x102 oracle — Welch from per-group (n, mean, var_samp), the
    same arithmetic tree as the Spark plan."""
    ga, gb = TTEST_GROUPS
    return (
        "WITH s AS (SELECT event_type, COUNT(value) AS n, "
        "AVG(value) AS m, VAR_SAMP(value) AS v FROM events "
        f"WHERE event_type IN ('{ga}', '{gb}') GROUP BY event_type), "
        f"a AS (SELECT n AS na, m AS ma, v AS va FROM s "
        f"WHERE event_type = '{ga}'), "
        f"b AS (SELECT n AS nb, m AS mb, v AS vb FROM s "
        f"WHERE event_type = '{gb}') "
        f"SELECT '{ga}' AS group_a, '{gb}' AS group_b, na, nb, "
        "ROUND(ma, 4) AS mean_a, ROUND(mb, 4) AS mean_b, "
        "ROUND((ma - mb) / sqrt(va / na + vb / nb), 4) AS t_stat, "
        "ROUND((va / na + vb / nb) * (va / na + vb / nb) / "
        "((va / na) * (va / na) / (na - 1) + "
        "(vb / nb) * (vb / nb) / (nb - 1)), 2) AS df "
        "FROM a, b"
    )


def _rate_sql() -> str:
    """x103 oracle — weekly buckets, per-day normalization by true
    calendar length."""
    return (
        "WITH b AS (SELECT date_trunc('week', ts) AS bucket, "
        "COUNT(*) AS cnt, SUM(value) AS sum_v FROM events GROUP BY 1) "
        "SELECT CAST(bucket AS DATE) AS ds, cnt, "
        "date_diff('day', CAST(bucket AS DATE), "
        "CAST(bucket + INTERVAL 7 DAY AS DATE)) AS n_days, "
        "ROUND(sum_v, 2) AS sum_v, "
        "ROUND(sum_v / date_diff('day', CAST(bucket AS DATE), "
        "CAST(bucket + INTERVAL 7 DAY AS DATE)), 4) AS sum_per_day, "
        "ROUND(CAST(cnt AS DOUBLE) / date_diff('day', "
        "CAST(bucket AS DATE), CAST(bucket + INTERVAL 7 DAY AS DATE)), "
        "4) AS docs_per_day FROM b ORDER BY ds"
    )


def _change_point_sql() -> str:
    """x108 oracle — micro-unit daily series, IEEE-exact split stats
    from identical integers, argmax by (stat DESC, bucket)."""
    return (
        "WITH b0 AS (SELECT date_trunc('day', ts) AS bucket, "
        "ROUND(SUM(value), 4) AS sum_v FROM events GROUP BY 1), "
        "b AS (SELECT bucket, CAST(ROUND(sum_v * 1e6) AS BIGINT) "
        "AS v_u FROM b0), "
        "c AS (SELECT bucket, "
        "CAST(ROW_NUMBER() OVER (ORDER BY bucket) AS INTEGER) AS k, "
        "CAST(SUM(v_u) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) "
        "AS BIGINT) AS s_k, "
        "CAST(SUM(v_u) OVER () AS BIGINT) AS s_n, "
        "COUNT(*) OVER () AS n FROM b), "
        "s AS (SELECT bucket, k, n, CAST(s_k AS DOUBLE) / k AS ml, "
        "CAST(s_n - s_k AS DOUBLE) / (n - k) AS mr FROM c "
        "WHERE k < n), "
        "r AS (SELECT *, ABS(ml - mr) AS stat FROM s), "
        "p AS (SELECT *, ROW_NUMBER() OVER (ORDER BY stat DESC, bucket) "
        "AS rn FROM r) "
        "SELECT CAST(bucket AS DATE) AS ds, k, n, "
        "ROUND(ml / 1e6, 4) AS mean_left, "
        "ROUND(mr / 1e6, 4) AS mean_right, "
        "ROUND(stat / 1e6, 4) AS diff FROM p WHERE rn = 1"
    )


def _ppl_gate_sql() -> str:
    """x110 oracle — the shared x71 unigram chain banded by the fixed
    integer cuts, keep-hash replayed per band."""
    return (
        f"WITH {_unigram_ctes()}, "
        "g AS (SELECT doc_id, avg_u, CASE "
        f"WHEN avg_u < {PPL_HEAD_MAX} THEN 'head' "
        f"WHEN avg_u < {PPL_MID_MAX} THEN 'middle' "
        "ELSE 'tail' END AS band FROM lm) "
        "SELECT doc_id, avg_u, band FROM g WHERE "
        f"{_bucket_sql('doc_id')} < CASE band "
        "WHEN 'head' THEN 1000000 "
        f"WHEN 'middle' THEN {PPL_KEEP_MID_PPM} "
        f"ELSE {PPL_KEEP_TAIL_PPM} END "
        "ORDER BY doc_id"
    )


def _novelty_sql() -> str:
    """x113 oracle — the shared shingle CTE hashed per (doc, gram),
    first-occurrence MIN per hash, per-doc novel share in integer bp."""
    return (
        f"WITH {_SHINGLES}, "
        f"g AS (SELECT doc_id, {_H60} AS h FROM sh), "
        "f AS (SELECT h, MIN(doc_id) AS first_doc FROM g GROUP BY h) "
        "SELECT g.doc_id, COUNT(*) AS n_grams, "
        "COUNT(CASE WHEN f.first_doc = g.doc_id THEN 1 END) AS n_novel, "
        "CAST(10000 * COUNT(CASE WHEN f.first_doc = g.doc_id THEN 1 "
        "END) // COUNT(*) AS BIGINT) AS novelty_bp "
        "FROM g JOIN f USING (h) GROUP BY g.doc_id ORDER BY g.doc_id"
    )


def _zipf_fit_sql() -> str:
    """x115 oracle — the x26 vocab CTE, micro-unit ln coordinates,
    exact integer moment sums, identical-integer divisions."""
    from kafana_spark.operators.text import ZIPF_FP

    fp = float(ZIPF_FP)
    return (
        "WITH t AS (SELECT unnest(string_split(lower(text), ' ')) "
        "AS token FROM documents), "
        "c AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY token "
        f"ORDER BY cnt DESC, token LIMIT {ZIPF_K}), "
        "r AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, "
        "token) AS rk FROM c), "
        f"p AS (SELECT CAST(ROUND(ln(rk) * {fp!r}) AS BIGINT) AS xu, "
        f"CAST(ROUND(ln(cnt) * {fp!r}) AS BIGINT) AS yu FROM r), "
        "s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(xu) AS BIGINT) AS sx, CAST(SUM(yu) AS BIGINT) AS sy, "
        "CAST(SUM(xu * yu) AS BIGINT) AS sxy, "
        "CAST(SUM(xu * xu) AS BIGINT) AS sxx FROM p) "
        "SELECT CAST(n AS INT) AS n_terms, "
        f"CAST(ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx) * {fp!r}) "
        "AS BIGINT) AS slope_u, "
        "CAST(ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) "
        "* sx) / n) AS BIGINT) AS intercept_u FROM s"
    )


def _pinned_query_sql() -> str:
    """x117 oracle — the shared x88 BM25 chain; pinned VALUES ranked
    by list order, organic remainder appended."""
    n_pin = len(PINNED_IDS)
    vals = ", ".join(f"({i + 1}, {d})" for i, d in enumerate(PINNED_IDS))
    not_in = ", ".join(str(d) for d in PINNED_IDS)
    return (
        f"WITH {_bm25_scores_ctes()}, "
        f"ids AS (SELECT * FROM (VALUES {vals}) t(rank, doc_id)), "
        "pin AS (SELECT ids.rank, ids.doc_id, "
        "CAST(COALESCE(sc.score_u, 0) AS BIGINT) AS score_u, "
        "1 AS pinned FROM ids LEFT JOIN sc USING (doc_id)), "
        "org AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_u "
        f"DESC, doc_id) + {n_pin} AS INT) AS rank, doc_id, score_u, "
        f"0 AS pinned FROM sc WHERE doc_id NOT IN ({not_in}) "
        f"ORDER BY score_u DESC, doc_id LIMIT {PINNED_K - n_pin}) "
        "SELECT rank, doc_id, score_u, pinned FROM pin "
        "UNION ALL SELECT rank, doc_id, score_u, pinned FROM org "
        "ORDER BY rank"
    )


_TERMS_SET_IN = ", ".join(f"'{t}'" for t in TERMS_SET)


def _corpus_report_sql() -> str:
    """x126 oracle — the same five aggregates composed in one WITH;
    quality comes from the shared _quality_core chain."""
    return (
        f"WITH {_quality_core()}, "
        "tc AS (SELECT len(string_split(text, ' ')) AS n_tokens "
        "FROM documents), "
        "base AS (SELECT COUNT(*) AS n_docs, "
        "CAST(COUNT(DISTINCT sha256(text)) AS BIGINT) AS n_uniq "
        "FROM documents), "
        "tok AS (SELECT CAST(SUM(n_tokens) AS BIGINT) "
        "AS n_tokens_total FROM tc), "
        "qq AS (SELECT quantile_cont(quality_bp, [0.25, 0.5, 0.75]) "
        "AS qs FROM q), "
        "lt AS (SELECT lang, COUNT(*) AS c FROM documents "
        "GROUP BY lang), "
        "nl AS (SELECT CAST(COUNT(*) AS INT) AS n_langs FROM lt), "
        "top AS (SELECT lang AS top_lang, c AS top_cnt FROM lt "
        "ORDER BY c DESC, lang LIMIT 1) "
        "SELECT base.n_docs, tok.n_tokens_total, "
        "CAST(tok.n_tokens_total // base.n_docs AS BIGINT) "
        "AS avg_tokens_per_doc, "
        "CAST(10000 * (base.n_docs - base.n_uniq) // base.n_docs "
        "AS BIGINT) AS exact_dup_bp, "
        "nl.n_langs, top.top_lang, "
        "CAST(10000 * top.top_cnt // base.n_docs AS BIGINT) "
        "AS top_lang_share_bp, "
        "qs[1] AS q25_quality_bp, qs[2] AS q50_quality_bp, "
        "qs[3] AS q75_quality_bp "
        "FROM base, tok, qq, nl, top"
    )


def _dedup_eval_sql() -> str:
    """x124 oracle — the x02 (LSH) and x03 (exact) pair queries as
    nested-CTE subqueries, full-outer compared."""
    return (
        f"WITH lsh AS ({_minhash_sql()}), ex AS ({_ngram_jaccard_sql()}), "
        "j AS (SELECT COALESCE(l.da, e.da) AS da, "
        "COALESCE(l.db, e.db) AS db, "
        "l.da IS NOT NULL AS in_lsh, e.da IS NOT NULL AS in_ex "
        "FROM lsh l FULL OUTER JOIN ex e "
        "ON l.da = e.da AND l.db = e.db), "
        "a AS (SELECT CAST(SUM(CASE WHEN in_lsh AND in_ex THEN 1 "
        "ELSE 0 END) AS BIGINT) AS tp, "
        "CAST(SUM(CASE WHEN in_lsh AND NOT in_ex THEN 1 ELSE 0 END) "
        "AS BIGINT) AS fp, "
        "CAST(SUM(CASE WHEN NOT in_lsh AND in_ex THEN 1 ELSE 0 END) "
        "AS BIGINT) AS fn FROM j) "
        "SELECT tp, fp, fn, "
        "CAST(CASE WHEN tp + fp > 0 THEN 10000 * tp // (tp + fp) "
        "ELSE 0 END AS BIGINT) AS precision_bp, "
        "CAST(CASE WHEN tp + fn > 0 THEN 10000 * tp // (tp + fn) "
        "ELSE 0 END AS BIGINT) AS recall_bp FROM a"
    )


def _ann_recall_sql() -> str:
    """x125 oracle — the x07 and x08 ranked queries as nested-CTE
    subqueries, per-qid overlap in integer bp."""
    return (
        f"WITH bf AS ({_ann_brute_force_sql()}), "
        f"iv AS ({_ann_ivf_sql()}) "
        "SELECT bf.qid, CAST(COUNT(iv.vec_id) AS INT) AS n_overlap, "
        f"CAST(10000 * COUNT(iv.vec_id) // {ANN_K} AS BIGINT) "
        "AS recall_bp "
        "FROM bf LEFT JOIN iv ON iv.qid = bf.qid "
        "AND iv.vec_id = bf.vec_id "
        "GROUP BY bf.qid ORDER BY bf.qid"
    )


def _binary_ann_sql() -> str:
    """x298 oracle — sign-word packing (1::BIGINT << (i−1) sums, the
    exact integers Spark's shiftleft aggregate produces), xor +
    bit_count Hamming pool, exact-cosine rerank."""
    cos = _COS.format(a="qv.v", b="cv.v")
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        "bits AS (SELECT vec_id, i, CASE WHEN x > 0 THEN 1::BIGINT "
        "ELSE 0::BIGINT END AS b FROM (SELECT vec_id, UNNEST(v) AS x, "
        "GENERATE_SUBSCRIPTS(v, 1) AS i FROM e)), "
        "words AS (SELECT vec_id, "
        "CAST(SUM(CASE WHEN i <= 32 THEN b << (i - 1) ELSE 0 END) "
        "AS BIGINT) AS w0, "
        "CAST(SUM(CASE WHEN i > 32 THEN b << (i - 33) ELSE 0 END) "
        "AS BIGINT) AS w1 FROM bits GROUP BY vec_id), "
        "qw AS (SELECT vec_id AS qid, w0 AS qw0, w1 AS qw1 FROM words "
        f"WHERE vec_id % {ANN_QUERY_MOD} = 0), "
        "hm AS (SELECT qw.qid, c.vec_id, "
        "CAST(bit_count(xor(c.w0, qw.qw0)) "
        "+ bit_count(xor(c.w1, qw.qw1)) AS INT) AS ham "
        "FROM qw CROSS JOIN words c WHERE c.vec_id <> qw.qid), "
        "pooled AS (SELECT qid, vec_id, ham, ROW_NUMBER() OVER "
        "(PARTITION BY qid ORDER BY ham, vec_id) AS pr FROM hm), "
        f"cand AS (SELECT qid, vec_id, ham FROM pooled "
        f"WHERE pr <= {BIN_POOL}), "
        "scored AS (SELECT cand.qid, cand.vec_id, cand.ham, "
        f"ROUND({cos}, 4) AS cos FROM cand "
        "JOIN e cv ON cv.vec_id = cand.vec_id "
        "JOIN e qv ON qv.vec_id = cand.qid), "
        "ranked AS (SELECT qid, vec_id, ham, cos, "
        "CAST(ROW_NUMBER() OVER (PARTITION BY qid "
        "ORDER BY cos DESC, vec_id) AS INTEGER) AS rank FROM scored) "
        f"SELECT qid, vec_id, ham, cos, rank FROM ranked "
        f"WHERE rank <= {ANN_K} ORDER BY qid, rank"
    )


def _binary_recall_sql() -> str:
    """x299 oracle — x07 truth vs the x298 pipeline, overlap in bp."""
    return (
        f"WITH bf AS ({_ann_brute_force_sql()}), "
        f"bn AS ({_binary_ann_sql()}) "
        "SELECT bf.qid, CAST(COUNT(bn.vec_id) AS INT) AS n_overlap, "
        f"CAST(10000 * COUNT(bn.vec_id) // {ANN_K} AS BIGINT) "
        "AS recall_bp "
        "FROM bf LEFT JOIN bn ON bn.qid = bf.qid "
        "AND bn.vec_id = bf.vec_id "
        "GROUP BY bf.qid ORDER BY bf.qid"
    )


def _variable_width_histogram_sql() -> str:
    """x283 oracle — distinct-cent frame, adjacent-gap window, top
    (n-1) gap boundaries, theta-join assignment. All-integer (values
    are positive so // floor == Spark's truncating div)."""
    return (
        "WITH per AS (SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) "
        "AS v_c, CAST(COUNT(*) AS BIGINT) AS n FROM events "
        "WHERE value IS NOT NULL GROUP BY 1), "
        "g AS (SELECT v_c - LAG(v_c) OVER (ORDER BY v_c) AS gap, "
        "v_c AS edge FROM per), "
        "b AS (SELECT edge FROM g WHERE gap IS NOT NULL "
        f"ORDER BY gap DESC, edge LIMIT {VWH_BUCKETS - 1}), "
        "a AS (SELECT p.v_c, p.n, CAST(COUNT(b.edge) AS INT) AS bucket "
        "FROM per p LEFT JOIN b ON b.edge <= p.v_c GROUP BY 1, 2) "
        "SELECT bucket, MIN(v_c) AS min_c, MAX(v_c) AS max_c, "
        "CAST(SUM(n) AS BIGINT) AS doc_count, "
        "CAST(SUM(v_c * n) // SUM(n) AS BIGINT) AS key_c "
        "FROM a GROUP BY 1 ORDER BY bucket")


def _filtered_knn_sql() -> str:
    """x280 oracle — the x07 brute-force shape with the label
    predicate applied to the candidate side BEFORE ranking."""
    labels = ", ".join(str(v) for v in FILTER_LABELS)
    cos = _COS.format(a="q.v", b="c.v")
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, "
        "label FROM embeddings), "
        f"q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id % {ANN_QUERY_MOD} = 0), "
        f"elig AS (SELECT vec_id, v FROM e WHERE label IN ({labels})), "
        f"scored AS (SELECT q.qid, c.vec_id, ROUND({cos}, 4) AS cos "
        "FROM q, elig c WHERE c.vec_id <> q.qid), "
        "ranked AS (SELECT qid, vec_id, cos, CAST(ROW_NUMBER() OVER "
        "(PARTITION BY qid ORDER BY cos DESC, vec_id) AS INTEGER) AS rank FROM scored) "
        f"SELECT qid, vec_id, cos, rank FROM ranked WHERE rank <= {ANN_K} "
        "ORDER BY qid, rank")


def _filtered_ivf_sql() -> str:
    """x281 oracle — the x08 IVF pipeline with the label filter on
    cell MEMBERS (assignment stays label-blind: the argmax runs over
    the full corpus before the predicate) and the doubled probe
    count."""
    labels = ", ".join(str(v) for v in FILTER_LABELS)
    acos = "ROUND(" + _COS.format(a="x.v", b="c.cv") + ", 6)"
    qcos = "ROUND(" + _COS.format(a="q.v", b="c.cv") + ", 6)"
    cos = "ROUND(" + _COS.format(a="p.qv", b="m.v") + ", 4)"
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, "
        "label FROM embeddings), "
        f"c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % {ANN_CENTROID_MOD} = 0), "
        f"q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id % {ANN_QUERY_MOD} = 0), "
        "asg AS (SELECT vec_id, v, cid FROM ("
        f"SELECT x.vec_id, x.v, x.label, c.cid, ROW_NUMBER() OVER (PARTITION BY x.vec_id "
        f"ORDER BY {acos} DESC, c.cid) AS r FROM e x, c) t "
        f"WHERE r <= {ANN_N_ASSIGN} AND label IN ({labels})), "
        "probes AS (SELECT qid, qv, cid FROM ("
        f"SELECT q.qid, q.v AS qv, c.cid, ROW_NUMBER() OVER (PARTITION BY q.qid "
        f"ORDER BY {qcos} DESC, c.cid) AS r FROM q, c) t WHERE r <= {FILTERED_N_PROBE}), "
        f"scored AS (SELECT DISTINCT p.qid, m.vec_id, {cos} AS cos "
        "FROM probes p JOIN asg m ON p.cid = m.cid WHERE m.vec_id <> p.qid), "
        "ranked AS (SELECT qid, vec_id, cos, CAST(ROW_NUMBER() OVER "
        "(PARTITION BY qid ORDER BY cos DESC, vec_id) AS INTEGER) AS rank FROM scored) "
        f"SELECT qid, vec_id, cos, rank FROM ranked WHERE rank <= {ANN_K} "
        "ORDER BY qid, rank")


def _filtered_recall_sql() -> str:
    """x282 oracle — x280/x281 as nested-CTE subqueries, per-qid
    overlap in integer bp (the x125 shape)."""
    return (
        f"WITH fbf AS ({_filtered_knn_sql()}), "
        f"fiv AS ({_filtered_ivf_sql()}) "
        "SELECT fbf.qid, CAST(COUNT(fiv.vec_id) AS INT) AS n_overlap, "
        f"CAST(10000 * COUNT(fiv.vec_id) // {ANN_K} AS BIGINT) "
        "AS recall_bp "
        "FROM fbf LEFT JOIN fiv ON fiv.qid = fbf.qid "
        "AND fiv.vec_id = fbf.vec_id "
        "GROUP BY fbf.qid ORDER BY fbf.qid")


def _phrase_suggest_sql() -> str:
    """x129 oracle — brute-force per-position candidates (the x92
    twin stance), all combinations, bigram Stupid-Backoff costs from
    string-keyed count tables (Spark keys on 60-bit hashes; a
    collision would need ~2^30 vocabulary — accepted)."""
    from kafana_spark.operators.relevance import (
        PHRASE_EDIT_PENALTY_U, PHRASE_PER_TERM, PHRASE_TOPN,
        SUGGEST_MAX_EDIT)

    w_count = len(PHRASE_INPUT)
    vals = ", ".join(f"({i}, '{w}')" for i, w in enumerate(PHRASE_INPUT))
    combo_from = ", ".join(f"cand c{i}" for i in range(w_count))
    combo_where = " AND ".join(f"c{i}.pos = {i}" for i in range(w_count))
    combo_cols = ", ".join(
        f"c{i}.term AS w{i}, c{i}.dist AS d{i}" for i in range(w_count))
    joins, costs = [], []
    for i in range(w_count - 1):
        joins.append(
            f"LEFT JOIN c1 p{i} ON p{i}.term = w{i} "
            f"LEFT JOIN c1 n{i} ON n{i}.term = w{i + 1} "
            f"LEFT JOIN c2 g{i} ON g{i}.gm = w{i} || ' ' || w{i + 1}")
        costs.append(
            f"CASE WHEN g{i}.c IS NOT NULL THEN "
            f"CAST(ROUND((ln(p{i}.c) - ln(g{i}.c)) * 10000.0) AS BIGINT) "
            "ELSE CAST(ROUND((ln(tot.n1 + tot.nv) - "
            f"ln(COALESCE(n{i}.c, 0) + 1) - ln(0.4)) * 10000.0) "
            f"AS BIGINT) END AS k{i}")
    tdist = " + ".join(f"d{i}" for i in range(w_count))
    tcost = " + ".join(f"k{i}" for i in range(w_count - 1))
    sugg = " || ' ' || ".join(f"w{i}" for i in range(w_count))
    return (
        f"WITH {_TK_CTE}, "
        "v AS (SELECT term, COUNT(*) AS freq FROM tk GROUP BY 1), "
        f"q(pos, q) AS (VALUES {vals}), "
        "cand0 AS (SELECT q.pos, v.term, v.freq, "
        "CAST(levenshtein(q.q, v.term) AS INT) AS dist FROM q, v "
        f"WHERE levenshtein(q.q, v.term) <= {SUGGEST_MAX_EDIT}), "
        "cand AS (SELECT pos, term, dist FROM (SELECT *, "
        "ROW_NUMBER() OVER (PARTITION BY pos ORDER BY dist, freq DESC, "
        f"term) AS rn FROM cand0) s WHERE rn <= {PHRASE_PER_TERM}), "
        "c1 AS (SELECT term, COUNT(*) AS c FROM tk GROUP BY 1), "
        "tot AS (SELECT COUNT(*) AS n1, COUNT(DISTINCT term) AS nv "
        "FROM tk), "
        "g0 AS (SELECT t[i] || ' ' || t[i+1] AS gm "
        f"FROM (SELECT {_TOKS} AS t FROM documents), "
        f"generate_series(1, {ORACLE_MAX_TOKENS}) gs(i) "
        "WHERE i + 1 <= len(t)), "
        "c2 AS (SELECT gm, COUNT(*) AS c FROM g0 GROUP BY 1), "
        f"combos AS (SELECT {combo_cols} FROM {combo_from} "
        f"WHERE {combo_where}), "
        f"sc AS (SELECT combos.*, {', '.join(costs)} "
        f"FROM combos CROSS JOIN tot {' '.join(joins)}), "
        f"p AS (SELECT {sugg} AS suggestion, "
        f"CAST({tdist} AS INT) AS total_dist, "
        f"CAST({tcost} + {PHRASE_EDIT_PENALTY_U} * ({tdist}) AS BIGINT) "
        "AS cost_u FROM sc), "
        "r AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY cost_u, "
        "suggestion) AS INT) AS rank FROM p) "
        f"SELECT suggestion, total_dist, cost_u, rank FROM r "
        f"WHERE rank <= {PHRASE_TOPN} ORDER BY rank"
    )


def _explain_score_sql() -> str:
    """x127 oracle — the x88 contribution chain with tf carried
    through, filtered to the one explained document."""
    from kafana_spark.operators.relevance import BM25_B, BM25_FP, BM25_K1

    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    return (
        f"WITH {_TK_CTE}, "
        "st AS (SELECT COUNT(*) AS n_docs, "
        f"AVG(len({_TOKS})) AS avgdl FROM documents), "
        "tf AS (SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl "
        f"FROM tk WHERE term IN ({terms}) GROUP BY 1, 2), "
        "dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1), "
        "c AS (SELECT doc_id, term, tf, "
        f"{_bm25_contrib(float(BM25_FP), BM25_K1, BM25_B)} "
        "FROM tf JOIN dfq USING (term) CROSS JOIN st) "
        f"SELECT term, tf, c_u FROM c WHERE doc_id = {EXPLAIN_DOC} "
        "ORDER BY term"
    )


def _boosting_sql() -> str:
    """x123 oracle — the x88 score chain; negative-containment docs
    take score_u · ppm div 1e6."""
    from kafana_spark.operators.relevance import NEG_BOOST_PPM

    return (
        f"WITH {_bm25_scores_ctes()}, "
        "neg AS (SELECT doc_id, 1 AS _neg FROM documents "
        f"WHERE list_contains({_TOKS}, '{BOOST_NEG_TERM}')) "
        "SELECT sc.doc_id, sc.n_matched, "
        "CAST(CASE WHEN neg._neg IS NOT NULL THEN "
        f"sc.score_u * {NEG_BOOST_PPM} // 1000000 "
        "ELSE sc.score_u END AS BIGINT) AS score_u, "
        "COALESCE(neg._neg, 0) AS demoted "
        "FROM sc LEFT JOIN neg USING (doc_id) "
        "ORDER BY score_u DESC, doc_id LIMIT 10"
    )


def _dis_max_sql() -> str:
    """x122 oracle — the x88 contribution chain, combined as
    max + round(tie · (sum − max)) in exact integers."""
    from kafana_spark.operators.relevance import (
        BM25_B, BM25_FP, BM25_K1, DIS_MAX_TIE)

    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    return (
        f"WITH {_TK_CTE}, "
        "st AS (SELECT COUNT(*) AS n_docs, "
        f"AVG(len({_TOKS})) AS avgdl FROM documents), "
        "tf AS (SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl "
        f"FROM tk WHERE term IN ({terms}) GROUP BY 1, 2), "
        "dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1), "
        "c AS (SELECT doc_id, "
        f"{_bm25_contrib(float(BM25_FP), BM25_K1, BM25_B)} "
        "FROM tf JOIN dfq USING (term) CROSS JOIN st), "
        "a AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_matched, "
        "CAST(MAX(c_u) AS BIGINT) AS mx, CAST(SUM(c_u) AS BIGINT) "
        "AS sm FROM c GROUP BY doc_id) "
        "SELECT doc_id, n_matched, CAST(mx + CAST(ROUND("
        f"{DIS_MAX_TIE!r} * (sm - mx)) AS BIGINT) AS BIGINT) "
        "AS score_u FROM a "
        f"ORDER BY score_u DESC, doc_id LIMIT {DIS_MAX_K}"
    )


def _rank_eval_sql() -> str:
    """x114 oracle — per-term BM25 contributions (the x88 expression
    shape), rank windows per query, integer gains/metrics."""
    from kafana_spark.operators.relevance import (
        BM25_B, BM25_FP, BM25_K1, RANK_EVAL_FP)

    terms = ", ".join(f"'{t}'" for t in RANK_EVAL_TERMS)
    k = RANK_EVAL_K
    g = f"CAST(ROUND({float(RANK_EVAL_FP)!r} / log2(i + 1)) AS BIGINT)"
    return (
        f"WITH {_TK_CTE}, "
        "st AS (SELECT COUNT(*) AS n_docs, "
        f"AVG(len({_TOKS})) AS avgdl FROM documents), "
        "tf AS (SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl "
        f"FROM tk WHERE term IN ({terms}) GROUP BY 1, 2), "
        "dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1), "
        "c AS (SELECT term, doc_id, "
        f"{_bm25_contrib(float(BM25_FP), BM25_K1, BM25_B)}, "
        f"CASE WHEN tf >= {REL_MIN_TF} THEN 1 ELSE 0 END AS rel "
        "FROM tf JOIN dfq USING (term) CROSS JOIN st), "
        "nr AS (SELECT term, CAST(SUM(rel) AS BIGINT) AS n_rel "
        "FROM c GROUP BY term), "
        "rk AS (SELECT term, doc_id, rel, ROW_NUMBER() OVER "
        "(PARTITION BY term ORDER BY c_u DESC, doc_id) AS rank "
        "FROM c), "
        "top AS (SELECT term, rel, rank, "
        f"CAST(ROUND({float(RANK_EVAL_FP)!r} / log2(rank + 1)) "
        "AS BIGINT) AS gain_u "
        f"FROM rk WHERE rank <= {k}), "
        "pq AS (SELECT term, CAST(SUM(rel) AS BIGINT) AS n_rel_at_k, "
        "CAST(COUNT(*) AS BIGINT) AS n_ret, "
        "CAST(SUM(rel * gain_u) AS BIGINT) AS dcg_u, "
        "MIN(CASE WHEN rel = 1 THEN rank END) AS first_rel "
        "FROM top GROUP BY term), "
        f"ideal AS (SELECT nr.term, CAST(SUM({g}) AS BIGINT) AS idcg_u "
        f"FROM nr, generate_series(1, {k}) gs(i) "
        f"WHERE i <= LEAST(n_rel, {k}) GROUP BY nr.term), "
        f"ql AS (SELECT unnest([{terms}]) AS term) "
        "SELECT ql.term, CAST(COALESCE(nr.n_rel, 0) AS BIGINT) "
        "AS n_rel, "
        "CAST(CASE WHEN COALESCE(pq.n_ret, 0) > 0 THEN "
        "10000 * pq.n_rel_at_k // pq.n_ret ELSE 0 END AS BIGINT) "
        "AS p_at_k_bp, "
        "CAST(CASE WHEN first_rel IS NOT NULL THEN "
        f"{RANK_EVAL_FP} // first_rel ELSE 0 END AS BIGINT) AS mrr_u, "
        "CAST(COALESCE(pq.dcg_u, 0) AS BIGINT) AS dcg_u, "
        "CAST(COALESCE(ideal.idcg_u, 0) AS BIGINT) AS idcg_u, "
        "CAST(CASE WHEN COALESCE(ideal.idcg_u, 0) > 0 THEN "
        "10000 * pq.dcg_u // ideal.idcg_u ELSE 0 END AS BIGINT) "
        "AS ndcg_bp "
        "FROM ql LEFT JOIN pq USING (term) LEFT JOIN nr USING (term) "
        "LEFT JOIN ideal USING (term) ORDER BY term"
    )


def _nb_quality_ctes() -> str:
    """Shared x141/x142 oracle chain ending in ``scored(doc_id,
    nb_score_u, pred)`` — quality-core labels, top-k training vocab,
    add-one LLR weights rounded to µunits BEFORE the per-doc sum,
    broadcastable prior."""
    m, k, cut = NB_TRAIN_MOD, NB_VOCAB_K, NB_QUALITY_CUT
    return (
        f"{_quality_core()}, "
        "tk0 AS (SELECT doc_id, "
        f"unnest(list_distinct({_TOKS})) AS token FROM documents), "
        f"lab AS (SELECT q.doc_id, CASE WHEN quality_bp >= {cut} "
        f"THEN 1 ELSE 0 END AS y FROM q WHERE doc_id % {m} = 0), "
        "trtok AS (SELECT t.doc_id, token, y FROM tk0 t "
        "JOIN lab USING (doc_id)), "
        "v AS (SELECT token FROM (SELECT token, COUNT(*) AS c "
        "FROM trtok GROUP BY token "
        f"ORDER BY c DESC, token LIMIT {k})), "
        "cnt AS (SELECT token, SUM(y) AS n1t, SUM(1 - y) AS n0t "
        "FROM trtok WHERE token IN (SELECT token FROM v) "
        "GROUP BY token), "
        "tot AS (SELECT SUM(y) AS n1, SUM(1 - y) AS n0 FROM lab), "
        "w AS (SELECT token, CAST(ROUND(1000000 * ("
        "ln((n1t + 1.0) / (n1 + 2.0)) - ln((n0t + 1.0) / (n0 + 2.0))"
        ")) AS BIGINT) AS w_u FROM cnt CROSS JOIN tot), "
        "pri AS (SELECT CAST(ROUND(1000000 * "
        "ln((n1 + 1.0) / (n0 + 1.0))) AS BIGINT) AS prior_u FROM tot), "
        "sc AS (SELECT doc_id, SUM(w_u) AS s FROM tk0 "
        f"JOIN w USING (token) WHERE doc_id % {m} <> 0 "
        "GROUP BY doc_id), "
        "scored AS (SELECT d.doc_id, "
        "CAST(COALESCE(s, 0) + prior_u AS BIGINT) AS nb_score_u, "
        "(COALESCE(s, 0) + prior_u) >= 0 AS pred "
        f"FROM (SELECT doc_id FROM documents WHERE doc_id % {m} <> 0) "
        "d LEFT JOIN sc USING (doc_id) CROSS JOIN pri)")


def _nb_quality_sql() -> str:
    """x141 oracle — per-doc held-out scores from the shared chain."""
    return (f"WITH {_nb_quality_ctes()} "
            "SELECT doc_id, nb_score_u, pred FROM scored "
            "ORDER BY doc_id")


def _nb_eval_sql() -> str:
    """x142 oracle — confusion counts + integer-bp metrics of the x141
    classifier against the held-out heuristic labels."""
    m, cut = NB_TRAIN_MOD, NB_QUALITY_CUT
    return (
        f"WITH {_nb_quality_ctes()}, "
        f"truth AS (SELECT doc_id, quality_bp >= {cut} AS yt FROM q "
        f"WHERE doc_id % {m} <> 0), "
        "j AS (SELECT pred, yt FROM scored JOIN truth USING (doc_id)), "
        "cm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(CASE WHEN pred AND yt THEN 1 ELSE 0 END) AS BIGINT) "
        "AS tp, "
        "CAST(SUM(CASE WHEN pred AND NOT yt THEN 1 ELSE 0 END) "
        "AS BIGINT) AS fp, "
        "CAST(SUM(CASE WHEN NOT pred AND yt THEN 1 ELSE 0 END) "
        "AS BIGINT) AS fn, "
        "CAST(SUM(CASE WHEN NOT pred AND NOT yt THEN 1 ELSE 0 END) "
        "AS BIGINT) AS tn FROM j) "
        "SELECT n, tp, fp, fn, tn, "
        "CAST(10000 * (tp + tn) // n AS BIGINT) AS acc_bp, "
        "CAST(CASE WHEN tp + fp > 0 THEN 10000 * tp // (tp + fp) "
        "ELSE 0 END AS BIGINT) AS prec_bp, "
        "CAST(CASE WHEN tp + fn > 0 THEN 10000 * tp // (tp + fn) "
        "ELSE 0 END AS BIGINT) AS rec_bp FROM cm")


def _nb_roc_sql() -> str:
    """x146 oracle — the PR sweep + tie-averaged rank AUC over the
    shared scored chain: distinct-score groups, best-first cumsums
    over the group frame, deepest point per retrieval-depth bin, and
    U2 = Σ(2·n1g·cum_n0_below + n1g·n0g) kept integral."""
    m, cut = NB_TRAIN_MOD, NB_QUALITY_CUT
    return (
        f"WITH {_nb_quality_ctes()}, "
        f"truth AS (SELECT doc_id, CASE WHEN quality_bp >= {cut} "
        f"THEN 1 ELSE 0 END AS yt FROM q WHERE doc_id % {m} <> 0), "
        "jj AS (SELECT nb_score_u AS s, yt FROM scored "
        "JOIN truth USING (doc_id)), "
        "g AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS c, "
        "CAST(SUM(yt) AS BIGINT) AS t1 FROM jj GROUP BY s), "
        "t AS (SELECT CAST(SUM(c) AS BIGINT) AS n, "
        "CAST(SUM(t1) AS BIGINT) AS n1, "
        "CAST(SUM(c - t1) AS BIGINT) AS n0 FROM g), "
        "cum AS (SELECT s, c, t1, "
        "CAST(SUM(c) OVER (ORDER BY s DESC) AS BIGINT) AS cum_ret, "
        "CAST(SUM(t1) OVER (ORDER BY s DESC) AS BIGINT) AS cum_tp, "
        "CAST(COALESCE(SUM(c - t1) OVER (ORDER BY s ASC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
        "AS BIGINT) AS cum0b FROM g), "
        "auc AS (SELECT CASE WHEN n1 * n0 > 0 THEN CAST(10000 * "
        "SUM(2 * t1 * cum0b + t1 * (c - t1)) // (2 * n1 * n0) "
        "AS BIGINT) ELSE 5000 END AS auc_bp "
        "FROM cum CROSS JOIN t GROUP BY n1, n0), "
        "binned AS (SELECT (10 * cum_ret + n - 1) // n AS dec, "
        "cum_ret, cum_tp, n1 FROM cum CROSS JOIN t), "
        "deep AS (SELECT dec, cum_ret AS n_ret, cum_tp AS tp, n1 "
        "FROM (SELECT dec, cum_ret, cum_tp, n1, ROW_NUMBER() OVER "
        "(PARTITION BY dec ORDER BY cum_ret DESC) AS r FROM binned) "
        "WHERE r = 1) "
        "SELECT CAST(dec AS INT) AS dec, n_ret, tp, "
        "CAST(10000 * tp // n_ret AS BIGINT) AS prec_bp, "
        "CAST(CASE WHEN n1 > 0 THEN 10000 * tp // n1 ELSE 0 END "
        "AS BIGINT) AS rec_bp, "
        "CAST(20000 * tp // (n_ret + n1) AS BIGINT) AS f1_bp, "
        "auc_bp FROM deep CROSS JOIN auc ORDER BY dec")


def _semantic_decon_sql() -> str:
    """x140 oracle — the x68 SemDeDup assignment chain applied to TWO
    sets (corpus-derived centroids, both sides assigned identically),
    cross-set per-cell pairs, per-corpus-id hit aggregate."""
    acos = "ROUND(" + _COS.format(a="x.v", b="c.cv") + ", 6)"
    cos = "ROUND(" + _COS.format(a="a.v", b="b.v") + ", 4)"
    asg = (
        "(SELECT vec_id, v, cid FROM ("
        "SELECT x.vec_id, x.v, c.cid, ROW_NUMBER() OVER "
        f"(PARTITION BY x.vec_id ORDER BY {acos} DESC, c.cid) AS r "
        "FROM {src} x, c) t WHERE r <= "
        f"{EMB_BUCKET_N_ASSIGN})")
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        f"bm AS (SELECT * FROM e WHERE vec_id % {SEM_DECON_MOD} = 0), "
        f"cp AS (SELECT * FROM e WHERE vec_id % {SEM_DECON_MOD} <> 0), "
        "c AS (SELECT vec_id AS cid, v AS cv FROM cp "
        f"WHERE vec_id % {EMB_BUCKET_CELL_MOD} = 0), "
        f"ca AS {asg.format(src='cp')}, "
        f"ba AS {asg.format(src='bm')}, "
        f"p AS (SELECT a.vec_id, b.vec_id AS bid, {cos} AS cos "
        "FROM ca a JOIN ba b ON a.cid = b.cid "
        f"WHERE {cos} >= {EMB_DUP_THRESHOLD}) "
        "SELECT vec_id, CAST(COUNT(DISTINCT bid) AS BIGINT) "
        "AS n_bench_hits, MAX(cos) AS max_cos FROM p "
        "GROUP BY vec_id ORDER BY vec_id")


def _bpe_chain(n: int, k: int, carry: str = "",
               apply_last: bool = False, prologue: str = "",
               src: str = "documents") -> str:
    """Shared x136/x138 oracle prologue: the unrolled BPE merge chain —
    wrapped symbol encoding (chr(1)+sym+chr(2)), plain replace-all
    merges (same greedy left-to-right non-overlap semantics as Spark's
    ``replace``), per-round pair counts c{r} + top-k tables t{r}, and
    merged sequences s{r+1}. ``carry`` rides extra columns through the
    s-chain and ``prologue``/``src`` let the encode oracle source s1
    from a CTE that computes them (doc_id + n_tokens)."""
    soh, stx = "chr(1)", "chr(2)"
    parts = [
        f"WITH {prologue}s1 AS (SELECT {carry}{soh} || "
        f"replace(lower(text), ' ', {stx}||{soh}) || {stx} AS s "
        f"FROM {src})"]
    for r in range(1, n + 1):
        parts.append(
            f", p{r} AS (SELECT unnest(list_transform("
            "generate_series(1, len(t) - 1), "
            "i -> t[i] || ' ' || t[i+1])) AS pair FROM "
            f"(SELECT string_split(substr(s, 2, len(s) - 2), "
            f"{stx}||{soh}) AS t FROM s{r}))"
            f", c{r} AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt "
            f"FROM p{r} GROUP BY pair)"
            f", t{r} AS (SELECT pair, cnt, row_number() OVER "
            f"(ORDER BY cnt DESC, pair) AS rk FROM c{r} "
            f"QUALIFY rk <= {k})")
        if r < n or apply_last:
            parts.append(
                f", m{r} AS (SELECT {soh} || replace(pair, ' ', "
                f"{stx}||{soh}) || {stx} AS srch, "
                f"{soh} || replace(pair, ' ', '_') || {stx} AS rep "
                f"FROM t{r} WHERE rk = 1)"
                f", s{r + 1} AS (SELECT {carry}replace(s, "
                f"(SELECT srch FROM m{r}), (SELECT rep FROM m{r})) "
                f"AS s FROM s{r})")
    return "".join(parts)


def _bpe_merge_sql() -> str:
    """x136 oracle — per-round candidate tables of the merge loop."""
    n, k = BPE_MERGE_ROUNDS, BPE_MERGE_TOPK
    union = " UNION ALL ".join(
        f"SELECT {r} AS rnd, CAST(rk AS INT) AS rk, pair, cnt "
        f"FROM t{r}" for r in range(1, n + 1))
    return _bpe_chain(n, k) + " " + union + " ORDER BY rnd, rk"


def _bpe_encode_sql() -> str:
    """x138 oracle — apply ALL learned merges, count symbols per doc."""
    n = BPE_MERGE_ROUNDS
    chain = _bpe_chain(
        n, 1, carry="doc_id, n_tokens, ", apply_last=True,
        prologue=("s0 AS (SELECT doc_id, "
                  "CAST(len(string_split(text, ' ')) AS INT) "
                  "AS n_tokens, text FROM documents), "),
        src="s0")
    nsym = ("len(string_split(substr(s, 2, len(s) - 2), "
            "chr(2)||chr(1)))")
    return (chain
            + f" SELECT doc_id, n_tokens, CAST({nsym} AS INT) "
            f"AS n_symbols, CAST(10000 * {nsym} // n_tokens AS BIGINT) "
            f"AS ratio_bp FROM s{n + 1} ORDER BY doc_id")


def _bpe_fertility_sql() -> str:
    """x154 oracle — the x138 per-doc encode chain aggregated per
    language with the integer token-mass-weighted fertility."""
    return (
        f"WITH enc AS ({_bpe_encode_sql()}) "
        "SELECT d.lang, COUNT(*) AS n_docs, "
        "CAST(SUM(n_tokens) AS BIGINT) AS toks, "
        "CAST(SUM(n_symbols) AS BIGINT) AS syms, "
        "CAST(10000 * SUM(n_symbols) // SUM(n_tokens) AS BIGINT) "
        "AS fert_bp "
        "FROM enc JOIN documents d USING (doc_id) "
        "GROUP BY d.lang ORDER BY d.lang")


def _length_histogram_sql() -> str:
    """x155 oracle — token-count bins with cumulative token share."""
    w = LEN_BIN_W
    return (
        "WITH t AS (SELECT CAST(len(string_split(text, ' ')) "
        "AS BIGINT) AS n_tok FROM documents), "
        f"b AS (SELECT n_tok // {w} AS bin, COUNT(*) AS n_docs, "
        "CAST(SUM(n_tok) AS BIGINT) AS toks FROM t GROUP BY 1), "
        "tot AS (SELECT CAST(SUM(toks) AS BIGINT) AS total FROM b) "
        f"SELECT bin, bin * {w} AS lo, n_docs, toks, "
        "CAST(10000 * SUM(toks) OVER (ORDER BY bin) // total "
        "AS BIGINT) AS cum_share_bp "
        "FROM b CROSS JOIN tot ORDER BY bin")


def _rrf_fusion_sql(vec_ctes: str) -> str:
    """Shared x139/x144 oracle — the BM25 lex ranking + a caller-
    supplied vector-ranking CTE chain (must end in ``vec(id,
    vec_rank)``) + the integer RRF fusion tail: contributions are
    RRF_FP // (k0 + rank), 0 for a missing list (pure integers)."""
    from kafana_spark.operators.relevance import RRF_FP, RRF_K0

    return (
        f"WITH {_bm25_scores_ctes()}, "
        "lex AS (SELECT doc_id AS id, CAST(ROW_NUMBER() OVER "
        "(ORDER BY score_u DESC, doc_id) AS INT) AS lex_rank FROM sc "
        f"QUALIFY lex_rank <= {RRF_POOL}), "
        + vec_ctes +
        " f AS (SELECT COALESCE(lex.id, vec.id) AS doc_id, "
        "lex_rank, vec_rank FROM lex FULL OUTER JOIN vec "
        "ON lex.id = vec.id), "
        "s AS (SELECT doc_id, "
        "CAST(COALESCE(lex_rank, 0) AS INT) AS lex_rank, "
        "CAST(COALESCE(vec_rank, 0) AS INT) AS vec_rank, "
        f"CAST(COALESCE({RRF_FP} // ({RRF_K0} + lex_rank), 0) + "
        f"COALESCE({RRF_FP} // ({RRF_K0} + vec_rank), 0) AS BIGINT) "
        "AS rrf_u FROM f) "
        "SELECT doc_id, lex_rank, vec_rank, rrf_u, "
        "CAST(ROW_NUMBER() OVER (ORDER BY rrf_u DESC, doc_id) AS INT) "
        f"AS rank FROM s QUALIFY rank <= {RRF_K} ORDER BY rank")


def _hybrid_rrf_sql() -> str:
    """x139 oracle — fusion with the x07 brute-force cosine ranking."""
    cos = _COS.format(a="q.v", b="c.v")
    return _rrf_fusion_sql(
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        f"q AS (SELECT v FROM e WHERE vec_id = {RRF_QVEC}), "
        f"vscored AS (SELECT c.vec_id AS id, ROUND({cos}, 4) AS cos "
        f"FROM e c, q WHERE c.vec_id <> {RRF_QVEC}), "
        "vec AS (SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY cos "
        "DESC, id) AS INT) AS vec_rank FROM vscored "
        f"QUALIFY vec_rank <= {RRF_POOL}),")


def _hybrid_rrf_lsh_sql() -> str:
    """x144 oracle — fusion with the x81 hyperplane-LSH bucketed
    ranking for the single RRF query vector (same integer-µunit
    projection chain as _ann_lsh_sql, query filter = RRF_QVEC)."""
    need = 2 * LSH_N_TABLES * LSH_N_BITS
    cos = _COS.format(a="q.v", b="m.v")
    return _rrf_fusion_sql(
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        "a AS (SELECT v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn "
        f"FROM e WHERE vec_id % {LSH_ANCHOR_MOD} = 1), "
        "pr AS (SELECT (rn-1)//2 AS pid, "
        "any_value(CASE WHEN rn % 2 = 1 THEN v END) AS v1, "
        "any_value(CASE WHEN rn % 2 = 0 THEN v END) AS v2 "
        f"FROM a WHERE rn <= {need} GROUP BY 1), "
        f"p AS (SELECT pid // {LSH_N_BITS} AS t, "
        f"pid % {LSH_N_BITS} AS j, v1, v2 FROM pr), "
        "du AS (SELECT x.vec_id, p.t, p.j, "
        "CAST(SUM(floor(x.v[i] * (p.v1[i] - p.v2[i]) * 1000000 + 0.5)) "
        "AS BIGINT) AS du "
        f"FROM e x, p, generate_series(1, {EMB_DIM}) g(i) "
        "GROUP BY x.vec_id, p.t, p.j), "
        "codes AS (SELECT vec_id, t, CAST(SUM(CASE WHEN du >= 0 THEN 1 "
        "ELSE 0 END * CAST(power(2, j) AS BIGINT)) AS BIGINT) AS code "
        "FROM du GROUP BY vec_id, t), "
        "cand AS (SELECT DISTINCT c2.vec_id "
        "FROM codes qc JOIN codes c2 ON qc.t = c2.t "
        "AND qc.code = c2.code "
        f"WHERE qc.vec_id = {RRF_QVEC} AND c2.vec_id <> qc.vec_id), "
        f"vscored AS (SELECT cand.vec_id AS id, ROUND({cos}, 4) "
        "AS cos FROM cand "
        f"JOIN e q ON q.vec_id = {RRF_QVEC} "
        "JOIN e m ON m.vec_id = cand.vec_id), "
        "vec AS (SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY cos "
        "DESC, id) AS INT) AS vec_rank FROM vscored "
        f"QUALIFY vec_rank <= {RRF_POOL}),")


def _km_walk_ctes(rounds: int, updates: int,
                  where: str = "") -> list[str]:
    """Shared x145/x147 oracle chain — the unrolled Lloyd walk in
    DuckDB: µunit integer projection (list_transform), per-round
    argmin assignment with ties to the lowest cid (b{t}), and the
    rounded-mean centroid update floor(sum/cnt + 0.5) on the exact
    double quotient (sums < 2^53, so both engines divide identical
    doubles) producing c{t+1} for t <= ``updates``. generate_series
    expands distance work to n×cells×dim rows — bounded at oracle
    SFs."""
    ctes = [
        "eu AS (SELECT vec_id, list_transform(CAST(embedding AS "
        "DOUBLE[]), x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) "
        f"AS vu FROM embeddings{where})",
        f"c1 AS (SELECT vec_id AS cid, vu AS cu FROM eu "
        f"WHERE vec_id % {KM_MOD} = 0)",
    ]
    for t in range(1, rounds + 1):
        ctes.append(
            f"a{t} AS (SELECT x.vec_id, c.cid, "
            "CAST(SUM((x.vu[i] - c.cu[i]) * (x.vu[i] - c.cu[i])) "
            "AS BIGINT) AS d2 "
            f"FROM eu x, c{t} c, generate_series(1, {EMB_DIM}) g(i) "
            "GROUP BY x.vec_id, c.cid)")
        ctes.append(
            f"b{t} AS (SELECT vec_id, d2, cid FROM (SELECT vec_id, "
            "d2, cid, ROW_NUMBER() OVER (PARTITION BY vec_id "
            f"ORDER BY d2, cid) AS r FROM a{t}) q WHERE r = 1)")
        if t <= updates:
            ctes.append(
                f"cs{t} AS (SELECT b.cid, g2.i, "
                "CAST(SUM(x.vu[g2.i]) AS BIGINT) AS s, COUNT(*) AS cnt "
                f"FROM b{t} b JOIN eu x USING (vec_id), "
                f"generate_series(1, {EMB_DIM}) g2(i) "
                "GROUP BY b.cid, g2.i)")
            ctes.append(
                f"c{t + 1} AS (SELECT cid, list(CAST(floor("
                "CAST(s AS DOUBLE) / cnt + 0.5) AS BIGINT) "
                f"ORDER BY i) AS cu FROM cs{t} GROUP BY cid)")
    return ctes


def _kmeans_refine_sql() -> str:
    """x145 oracle — per-round convergence stats off the shared
    Lloyd walk."""
    ctes = _km_walk_ctes(KM_ITERS, KM_ITERS - 1)
    stats = []
    for t in range(1, KM_ITERS + 1):
        ctes.append(
            f"g{t} AS (SELECT cid, COUNT(*) AS cnt, "
            f"CAST(SUM(d2) AS BIGINT) AS in_u FROM b{t} GROUP BY cid)")
        stats.append(
            f"SELECT {t} AS it, COUNT(*) AS n_cells, "
            "CAST(MAX(cnt) AS BIGINT) AS max_cell, "
            f"CAST(SUM(in_u) AS BIGINT) AS inertia_u FROM g{t}")
    return ("WITH " + ", ".join(ctes) + " "
            + " UNION ALL ".join(stats) + " ORDER BY it")


def _knn_chain_ctes() -> str:
    """Shared x149/x150 oracle chain ending in ``ranked(qid, vec_id,
    cos, rank)`` — the x08 probe chain with EVERY vector as a query
    and the x149 constants."""
    acos = "ROUND(" + _COS.format(a="x.v", b="c.cv") + ", 6)"
    qcos = "ROUND(" + _COS.format(a="q.v", b="c.cv") + ", 6)"
    cos = "ROUND(" + _COS.format(a="p.qv", b="m.v") + ", 4)"
    return (
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        "c AS (SELECT vec_id AS cid, v AS cv FROM e "
        "ORDER BY CAST(concat('0x', substr(md5(concat_ws('#', "
        "CAST(vec_id AS VARCHAR), 'ivfseed')), 1, 15)) AS BIGINT), "
        f"vec_id LIMIT {KNN_CELLS}), "
        "q AS (SELECT vec_id AS qid, v FROM e), "
        "asg AS (SELECT vec_id, v, cid FROM ("
        "SELECT x.vec_id, x.v, c.cid, ROW_NUMBER() OVER "
        f"(PARTITION BY x.vec_id ORDER BY {acos} DESC, c.cid) AS r "
        f"FROM e x, c) t WHERE r <= {KNN_N_ASSIGN}), "
        "probes AS (SELECT qid, qv, cid FROM ("
        "SELECT q.qid, q.v AS qv, c.cid, ROW_NUMBER() OVER "
        f"(PARTITION BY q.qid ORDER BY {qcos} DESC, c.cid) AS r "
        f"FROM q, c) t WHERE r <= {KNN_N_PROBE}), "
        f"scored AS (SELECT DISTINCT p.qid, m.vec_id, {cos} AS cos "
        "FROM probes p JOIN asg m ON p.cid = m.cid "
        "WHERE m.vec_id <> p.qid), "
        "ranked AS (SELECT qid, vec_id, cos, CAST(ROW_NUMBER() OVER "
        "(PARTITION BY qid ORDER BY cos DESC, vec_id) AS INTEGER) "
        f"AS rank FROM scored) ")


def _knn_graph_sql() -> str:
    """x149 oracle — the directed k-NN edge list."""
    return (f"WITH {_knn_chain_ctes()}"
            f"SELECT qid, vec_id, cos, rank FROM ranked "
            f"WHERE rank <= {KNN_K} ORDER BY qid, rank")


def _mutual_knn_sql() -> str:
    """x150 oracle — both directions present, a < b canonical."""
    return (f"WITH {_knn_chain_ctes()}, "
            f"g AS (SELECT qid, vec_id, cos, rank FROM ranked "
            f"WHERE rank <= {KNN_K}) "
            "SELECT ab.qid AS a, ab.vec_id AS b, ab.cos, "
            "ab.rank AS rank_ab, ba.rank AS rank_ba "
            "FROM g ab JOIN g ba ON ba.qid = ab.vec_id "
            "AND ba.vec_id = ab.qid "
            "WHERE ab.qid < ab.vec_id ORDER BY a, b")


def _knn_clusters_sql() -> str:
    """x151 oracle — min-label reachability over the mutual k-NN
    edges (the x73 recursive-CTE pattern) + per-cluster size."""
    return (
        f"WITH RECURSIVE {_knn_chain_ctes()}, "
        f"g AS (SELECT qid, vec_id, cos FROM ranked "
        f"WHERE rank <= {KNN_K}), "
        "mu AS (SELECT ab.qid AS a, ab.vec_id AS b FROM g ab "
        "JOIN g ba ON ba.qid = ab.vec_id AND ba.vec_id = ab.qid "
        f"WHERE ab.qid < ab.vec_id AND ab.cos >= {KNN_CLUSTER_MIN_COS}), "
        "edges AS (SELECT a, b FROM mu UNION ALL SELECT b, a FROM mu), "
        "reach(node, label) AS ("
        "SELECT vec_id, vec_id FROM embeddings "
        "UNION "
        "SELECT e2.a, r.label FROM edges e2 JOIN reach r "
        "ON r.node = e2.b), "
        "cl AS (SELECT node AS vec_id, MIN(label) AS cluster_id "
        "FROM reach GROUP BY node) "
        "SELECT vec_id, cluster_id, "
        "COUNT(*) OVER (PARTITION BY cluster_id) AS csize "
        "FROM cl ORDER BY vec_id"
    )


def _cluster_sample_sql() -> str:
    """x152 oracle — the x151 chain + portable-hash per-cluster rank
    against the ceil(sqrt(csize)) quota."""
    h = ("CAST(concat('0x', substr(md5(concat_ws('#', "
         "CAST(vec_id AS VARCHAR), 'csample')), 1, 15)) AS BIGINT)")
    return (
        f"WITH RECURSIVE {_knn_chain_ctes()}, "
        f"g AS (SELECT qid, vec_id, cos FROM ranked "
        f"WHERE rank <= {KNN_K}), "
        "mu AS (SELECT ab.qid AS a, ab.vec_id AS b FROM g ab "
        "JOIN g ba ON ba.qid = ab.vec_id AND ba.vec_id = ab.qid "
        f"WHERE ab.qid < ab.vec_id AND ab.cos >= {KNN_CLUSTER_MIN_COS}), "
        "edges AS (SELECT a, b FROM mu UNION ALL SELECT b, a FROM mu), "
        "reach(node, label) AS ("
        "SELECT vec_id, vec_id FROM embeddings "
        "UNION "
        "SELECT e2.a, r.label FROM edges e2 JOIN reach r "
        "ON r.node = e2.b), "
        "cl AS (SELECT node AS vec_id, MIN(label) AS cluster_id "
        "FROM reach GROUP BY node), "
        "sz AS (SELECT vec_id, cluster_id, "
        "COUNT(*) OVER (PARTITION BY cluster_id) AS csize FROM cl), "
        "rk AS (SELECT vec_id, cluster_id, csize, "
        "CAST(ROW_NUMBER() OVER (PARTITION BY cluster_id "
        f"ORDER BY {h}, vec_id) AS BIGINT) AS rk FROM sz) "
        "SELECT vec_id, cluster_id, csize, rk FROM rk "
        "WHERE rk <= CAST(ceil(sqrt(CAST(csize AS DOUBLE))) AS BIGINT) "
        "ORDER BY vec_id"
    )


def _cluster_terms_sql() -> str:
    """x153 oracle — the x151 CC chain + per-cluster distinctive
    token lift (integer): 10000·df_c·n_docs // (csize·df_all)."""
    return (
        f"WITH RECURSIVE {_knn_chain_ctes()}, "
        f"g AS (SELECT qid, vec_id, cos FROM ranked "
        f"WHERE rank <= {KNN_K}), "
        "mu AS (SELECT ab.qid AS a, ab.vec_id AS b FROM g ab "
        "JOIN g ba ON ba.qid = ab.vec_id AND ba.vec_id = ab.qid "
        f"WHERE ab.qid < ab.vec_id AND ab.cos >= {KNN_CLUSTER_MIN_COS}), "
        "edges AS (SELECT a, b FROM mu UNION ALL SELECT b, a FROM mu), "
        "reach(node, label) AS ("
        "SELECT vec_id, vec_id FROM embeddings "
        "UNION "
        "SELECT e2.a, r.label FROM edges e2 JOIN reach r "
        "ON r.node = e2.b), "
        "cl AS (SELECT node AS vec_id, MIN(label) AS cluster_id "
        "FROM reach GROUP BY node), "
        "sz AS (SELECT cluster_id, COUNT(*) AS csize FROM cl "
        "GROUP BY cluster_id), "
        "top AS (SELECT cluster_id, csize FROM sz "
        f"ORDER BY csize DESC, cluster_id LIMIT {CLTERM_TOP}), "
        "tk AS (SELECT d.doc_id, "
        f"unnest(list_distinct({_TOKS})) AS token FROM documents d), "
        "ctok AS (SELECT c.cluster_id, t.csize, tk.token, "
        "COUNT(*) AS df_c FROM tk JOIN cl c ON c.vec_id = tk.doc_id "
        "JOIN top t USING (cluster_id) "
        "GROUP BY c.cluster_id, t.csize, tk.token "
        f"HAVING COUNT(*) >= {CLTERM_MIN_DF}), "
        "corp AS (SELECT token, COUNT(*) AS df_all FROM tk "
        "GROUP BY token), "
        "nd AS (SELECT COUNT(*) AS n_docs FROM documents), "
        "sc AS (SELECT cluster_id, ctok.token, df_c, "
        "CAST(10000 * df_c * n_docs // (csize * df_all) AS BIGINT) "
        "AS lift_bp FROM ctok JOIN corp ON corp.token = ctok.token "
        "CROSS JOIN nd), "
        "rk AS (SELECT cluster_id, token, df_c, lift_bp, "
        "CAST(ROW_NUMBER() OVER (PARTITION BY cluster_id "
        "ORDER BY lift_bp DESC, df_c DESC, token) AS INT) AS rank "
        "FROM sc) "
        f"SELECT cluster_id, token, df_c, lift_bp, rank FROM rk "
        f"WHERE rank <= {CLTERM_K} ORDER BY cluster_id, rank"
    )


def _curation_v4_sql() -> str:
    """x161 oracle — the funnel composed from the shared chains:
    NB scored (q + scored), within-lang percentile, exact dedup
    keep-first, and the x152 cluster-sample keep set embedded as a
    self-contained recursive subquery (its CTE names stay scoped)."""
    m, cut, p = NB_TRAIN_MOD, NB_QUALITY_CUT, LANG_FAIR_KEEP_BP
    return (
        f"WITH {_nb_quality_ctes()}, "
        "jq4 AS (SELECT q.doc_id, d.lang, quality_bp FROM q "
        "JOIN documents d USING (doc_id)), "
        "lr4 AS (SELECT doc_id, CASE WHEN COUNT(*) OVER "
        "(PARTITION BY lang) > 1 THEN 10000 * (ROW_NUMBER() OVER "
        "(PARTITION BY lang ORDER BY quality_bp, doc_id) - 1) // "
        "(COUNT(*) OVER (PARTITION BY lang) - 1) ELSE 0 END "
        "AS pct FROM jq4), "
        f"k1 AS (SELECT doc_id FROM lr4 WHERE pct >= {p}), "
        "k2 AS (SELECT k1.doc_id FROM k1 "
        "JOIN q USING (doc_id) LEFT JOIN scored USING (doc_id) "
        f"WHERE CASE WHEN k1.doc_id % {m} = 0 "
        f"THEN quality_bp >= {cut} "
        "ELSE COALESCE(pred, FALSE) END), "
        "k3 AS (SELECT MIN(d.doc_id) AS doc_id FROM k2 "
        "JOIN documents d USING (doc_id) GROUP BY d.text), "
        f"k4 AS (SELECT k3.doc_id FROM k3 JOIN "
        f"({_cluster_sample_sql()}) cs ON cs.vec_id = k3.doc_id) "
        "SELECT 's0_all' AS stage, CAST(COUNT(*) AS BIGINT) "
        "AS n_kept FROM documents "
        "UNION ALL SELECT 's1_lang_fair', CAST(COUNT(*) AS BIGINT) "
        "FROM k1 "
        "UNION ALL SELECT 's2_nb_filter', CAST(COUNT(*) AS BIGINT) "
        "FROM k2 "
        "UNION ALL SELECT 's3_exact_dedup', CAST(COUNT(*) AS BIGINT) "
        "FROM k3 "
        "UNION ALL SELECT 's4_cluster_quota', CAST(COUNT(*) AS BIGINT) "
        "FROM k4 ORDER BY stage")


def _lang_card_sql() -> str:
    """x159 oracle — the three per-lang aggregates + integer
    shares/means (COUNT(DISTINCT text) stands in for the sha2
    distinct: same cardinality, collision-free)."""
    return (
        f"WITH {_quality_core()}, "
        "tk AS (SELECT lang, unnest(string_split(text, ' ')) "
        "AS token FROM documents), "
        "t1 AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS toks, "
        "CAST(COUNT(DISTINCT token) AS BIGINT) AS uniq_tokens "
        "FROM tk GROUP BY lang), "
        "t2 AS (SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(SUM(quality_bp) AS BIGINT) AS qsum "
        "FROM q JOIN documents d USING (doc_id) GROUP BY d.lang), "
        "t3 AS (SELECT lang, CAST(COUNT(DISTINCT text) AS BIGINT) "
        "AS n_uniq_texts FROM documents GROUP BY lang), "
        "tot AS (SELECT CAST(SUM(toks) AS BIGINT) AS total_toks "
        "FROM t1) "
        "SELECT t1.lang, n_docs, toks, uniq_tokens, "
        "CAST(10000 * toks // total_toks AS BIGINT) AS share_bp, "
        "CAST(qsum // n_docs AS BIGINT) AS mean_quality_bp, "
        "CAST(10000 * (n_docs - n_uniq_texts) // n_docs AS BIGINT) "
        "AS dup_bp "
        "FROM t1 JOIN t2 USING (lang) JOIN t3 USING (lang) "
        "CROSS JOIN tot ORDER BY lang")


def _skew_report_sql() -> str:
    """x160 oracle — per-key counts, shares, and the ceil salt
    recommendation over events.event_type."""
    return (
        "WITH c AS (SELECT CAST(event_type AS VARCHAR) AS key, "
        "CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1), "
        "tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM c) "
        "SELECT key, n, "
        "CAST(10000 * n // n_total AS BIGINT) AS share_bp, "
        f"CAST((n * {SKEW_PARTS} + n_total - 1) // n_total AS BIGINT) "
        "AS salts "
        f"FROM c CROSS JOIN tot ORDER BY n DESC, key LIMIT {SKEW_K}")


def _gopher_rules_sql() -> str:
    """x162 oracle — the four Gopher rules in integer arithmetic over
    the shared token split (same constants as the Spark side)."""
    stops = "['" + "', '".join(
        ("the", "a", "of", "and", "to", "is", "in", "it")) + "']"
    return (
        f"WITH t AS (SELECT doc_id, {_TOKS} AS tok FROM documents), "
        "m AS (SELECT doc_id, CAST(len(tok) AS BIGINT) AS n_words, "
        "CAST(10 * list_sum(list_transform(tok, x -> length(x))) "
        "// len(tok) AS BIGINT) AS mwl_x10, "
        "CAST(len(list_intersect(list_distinct(tok), "
        f"{stops})) AS BIGINT) AS n_stop FROM t), "
        "bg AS (SELECT doc_id, tok[i] || ' ' || tok[i+1] AS b "
        "FROM t, unnest(range(1, len(tok))) AS u(i)), "
        "bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2), "
        "d AS (SELECT doc_id, SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) "
        "AS dup_pos, SUM(c) AS npos FROM bc GROUP BY doc_id), "
        "j AS (SELECT m.doc_id, n_words, mwl_x10, n_stop, "
        "CAST(COALESCE(10000 * dup_pos // npos, 0) AS BIGINT) "
        "AS dup2_bp FROM m LEFT JOIN d USING (doc_id)) "
        "SELECT doc_id, n_words, mwl_x10, n_stop, dup2_bp, "
        f"n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS} "
        "AS r_wc, "
        f"mwl_x10 BETWEEN {GOPHER_MIN_MWL} AND {GOPHER_MAX_MWL} "
        "AS r_mwl, "
        f"n_stop >= {GOPHER_MIN_STOP} AS r_stop, "
        f"dup2_bp <= {GOPHER_MAX_DUP2_BP} AS r_dup, "
        f"(n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}) "
        f"AND (mwl_x10 BETWEEN {GOPHER_MIN_MWL} AND {GOPHER_MAX_MWL}) "
        f"AND n_stop >= {GOPHER_MIN_STOP} "
        f"AND dup2_bp <= {GOPHER_MAX_DUP2_BP} AS keep "
        "FROM j ORDER BY doc_id")


def _knn_label_prop_sql() -> str:
    """x163 oracle — majority vote over the shared kNN chain's
    top-KNN_K edges, leave-one-out accuracy per true label."""
    return (
        f"WITH {_knn_chain_ctes()}, "
        f"g AS (SELECT qid, vec_id FROM ranked WHERE rank <= {KNN_K}), "
        "lb AS (SELECT vec_id, CAST(label AS BIGINT) AS lbl "
        "FROM embeddings), "
        "v AS (SELECT qid, lbl, COUNT(*) AS c FROM g "
        "JOIN lb USING (vec_id) GROUP BY qid, lbl), "
        "p AS (SELECT qid, lbl AS pred FROM ("
        "SELECT qid, lbl, ROW_NUMBER() OVER (PARTITION BY qid "
        "ORDER BY c DESC, lbl) AS r FROM v) t WHERE r = 1), "
        "j AS (SELECT own.lbl AS label, "
        "CASE WHEN p.pred = own.lbl THEN 1 ELSE 0 END AS ok "
        "FROM p JOIN lb own ON own.vec_id = p.qid) "
        "SELECT label, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(ok) AS BIGINT) AS n_correct, "
        "CAST(10000 * SUM(ok) // COUNT(*) AS BIGINT) AS acc_bp "
        "FROM j GROUP BY label ORDER BY label")


def _nb_calibration_sql() -> str:
    """x164 oracle — fixed-width bins over the shared NB score chain
    (floor-on-double bin and mean, negative-safe)."""
    w = NB_CAL_BIN_W_U
    m, cut = NB_TRAIN_MOD, NB_QUALITY_CUT
    return (
        f"WITH {_nb_quality_ctes()}, "
        "tr AS (SELECT q.doc_id, CASE WHEN quality_bp >= "
        f"{cut} THEN 1 ELSE 0 END AS yt FROM q "
        f"WHERE doc_id % {m} <> 0), "
        "jj AS (SELECT CAST(FLOOR(CAST(nb_score_u AS DOUBLE) "
        f"/ {float(w)}) AS BIGINT) AS bin, nb_score_u AS s, yt "
        "FROM scored JOIN tr USING (doc_id)) "
        "SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(yt) AS BIGINT) AS n_pos, "
        "CAST(10000 * SUM(yt) // COUNT(*) AS BIGINT) AS pos_bp, "
        "CAST(FLOOR(CAST(SUM(s) AS DOUBLE) / COUNT(*)) AS BIGINT) "
        "AS mean_s_u "
        "FROM jj GROUP BY bin ORDER BY bin")


def _nb_reliability_sql() -> str:
    """x179 oracle — the x164 bin chain reduced to the one-row
    weighted-deviation summary (all integer)."""
    w = NB_CAL_BIN_W_U
    m, cut = NB_TRAIN_MOD, NB_QUALITY_CUT
    return (
        f"WITH {_nb_quality_ctes()}, "
        "tr AS (SELECT q.doc_id, CASE WHEN quality_bp >= "
        f"{cut} THEN 1 ELSE 0 END AS yt FROM q "
        f"WHERE doc_id % {m} <> 0), "
        "jj AS (SELECT CAST(FLOOR(CAST(nb_score_u AS DOUBLE) "
        f"/ {float(w)}) AS BIGINT) AS bin, yt "
        "FROM scored JOIN tr USING (doc_id)), "
        "g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS nb, "
        "CAST(SUM(yt) AS BIGINT) AS pb FROM jj GROUP BY bin), "
        "t AS (SELECT CAST(SUM(nb) AS BIGINT) AS n, "
        "CAST(SUM(pb) AS BIGINT) AS p, "
        "CAST(COUNT(*) AS BIGINT) AS n_bins FROM g) "
        "SELECT n, n_bins, "
        "CAST(10000 * p // n AS BIGINT) AS base_bp, "
        "CAST(SUM(nb * ABS(10000 * pb // nb - 10000 * p // n)) "
        "// n AS BIGINT) AS dev_bp "
        "FROM g CROSS JOIN t GROUP BY n, n_bins, p")


def _label_confusion_sql() -> str:
    """x180 oracle — the x163 vote chain grouped to the full
    (label, pred) matrix."""
    return (
        f"WITH {_knn_chain_ctes()}, "
        f"g AS (SELECT qid, vec_id FROM ranked WHERE rank <= {KNN_K}), "
        "lb AS (SELECT vec_id, CAST(label AS BIGINT) AS lbl "
        "FROM embeddings), "
        "v AS (SELECT qid, lbl, COUNT(*) AS c FROM g "
        "JOIN lb USING (vec_id) GROUP BY qid, lbl), "
        "p AS (SELECT qid, lbl AS pred FROM ("
        "SELECT qid, lbl, ROW_NUMBER() OVER (PARTITION BY qid "
        "ORDER BY c DESC, lbl) AS r FROM v) t WHERE r = 1), "
        "j AS (SELECT own.lbl AS label, p.pred FROM p "
        "JOIN lb own ON own.vec_id = p.qid) "
        "SELECT label, pred, CAST(COUNT(*) AS BIGINT) AS n "
        "FROM j GROUP BY label, pred ORDER BY label, pred")


def _gate_kappa_sql() -> str:
    """x165 oracle — the 2×2 agreement table + integer po/pe and the
    floor-on-double (negative-safe) kappa."""
    m, cut, nbcut = NB_TRAIN_MOD, NB_QUALITY_CUT, NB_KAPPA_CUT_U
    return (
        f"WITH {_nb_quality_ctes()}, "
        "tr AS (SELECT q.doc_id, CASE WHEN quality_bp >= "
        f"{cut} THEN 1 ELSE 0 END AS g1 FROM q "
        f"WHERE doc_id % {m} <> 0), "
        "jj AS (SELECT g1, CASE WHEN nb_score_u >= "
        f"{nbcut} THEN 1 ELSE 0 END AS g2 "
        "FROM scored JOIN tr USING (doc_id)), "
        "c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(g1 * g2) AS BIGINT) AS n11, "
        "CAST(SUM(g1 * (1 - g2)) AS BIGINT) AS n10, "
        "CAST(SUM((1 - g1) * g2) AS BIGINT) AS n01, "
        "CAST(SUM((1 - g1) * (1 - g2)) AS BIGINT) AS n00 FROM jj), "
        "pp AS (SELECT n, n11, n10, n01, n00, "
        "CAST(10000 * (n11 + n00) // n AS BIGINT) AS po_bp, "
        "CAST(10000 * ((n11 + n10) * (n11 + n01) "
        "+ (n01 + n00) * (n10 + n00)) // (n * n) AS BIGINT) "
        "AS pe_bp FROM c) "
        "SELECT n, n11, n10, n01, n00, po_bp, pe_bp, "
        "CASE WHEN pe_bp >= 10000 THEN CAST(10000 AS BIGINT) ELSE "
        "CAST(FLOOR(10000.0 * CAST(po_bp - pe_bp AS DOUBLE) "
        "/ CAST(10000 - pe_bp AS DOUBLE)) AS BIGINT) END "
        "AS kappa_bp FROM pp")


def _emb_outliers_sql() -> str:
    """x166 oracle — integer-bp mean neighbor cosine over the kNN
    chain, -10000 sentinel for singletons, bottom-OUTLIER_K."""
    return (
        f"WITH {_knn_chain_ctes()}, "
        "g AS (SELECT qid, CAST(ROUND(cos * 10000) AS BIGINT) AS cb "
        f"FROM ranked WHERE rank <= {KNN_K}), "
        "per AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS nn, "
        "SUM(cb) AS sc FROM g GROUP BY qid), "
        "al AS (SELECT e.vec_id, COALESCE(nn, 0) AS n_nbrs, "
        "CASE WHEN nn IS NULL THEN CAST(-10000 AS BIGINT) "
        "ELSE CAST(FLOOR(CAST(sc AS DOUBLE) / nn) AS BIGINT) END "
        "AS mean_cos_bp FROM e LEFT JOIN per ON per.qid = e.vec_id) "
        "SELECT vec_id, n_nbrs, mean_cos_bp FROM al "
        f"ORDER BY mean_cos_bp, vec_id LIMIT {OUTLIER_K}")


def _v5_chain_ctes() -> str:
    """Shared x168/x176 oracle chain ending in ``k5(doc_id)`` — the
    funnel's final keep set (Gopher gate and x166 outlier list
    embedded as self-contained derived tables; language-fair
    percentile WITHIN the Gopher-surviving pool; then the v4
    NB/dedup chain, the outlier anti-join, and the cluster quota)."""
    m, cut, p = NB_TRAIN_MOD, NB_QUALITY_CUT, LANG_FAIR_KEEP_BP
    return (
        f"{_nb_quality_ctes()}, "
        f"gp AS (SELECT doc_id FROM ({_gopher_rules_sql()}) "
        "WHERE keep), "
        "jq5 AS (SELECT q.doc_id, d.lang, quality_bp FROM q "
        "JOIN documents d USING (doc_id) JOIN gp USING (doc_id)), "
        "lr5 AS (SELECT doc_id, CASE WHEN COUNT(*) OVER "
        "(PARTITION BY lang) > 1 THEN 10000 * (ROW_NUMBER() OVER "
        "(PARTITION BY lang ORDER BY quality_bp, doc_id) - 1) // "
        "(COUNT(*) OVER (PARTITION BY lang) - 1) ELSE 0 END "
        "AS pct FROM jq5), "
        f"k1 AS (SELECT doc_id FROM lr5 WHERE pct >= {p}), "
        "k2 AS (SELECT k1.doc_id FROM k1 "
        "JOIN q USING (doc_id) LEFT JOIN scored USING (doc_id) "
        f"WHERE CASE WHEN k1.doc_id % {m} = 0 "
        f"THEN quality_bp >= {cut} "
        "ELSE COALESCE(pred, FALSE) END), "
        "k3 AS (SELECT MIN(d.doc_id) AS doc_id FROM k2 "
        "JOIN documents d USING (doc_id) GROUP BY d.text), "
        f"ol AS (SELECT vec_id FROM ({_emb_outliers_sql()})), "
        "k4 AS (SELECT doc_id FROM k3 WHERE doc_id NOT IN "
        "(SELECT vec_id FROM ol)), "
        f"k5 AS (SELECT k4.doc_id FROM k4 JOIN "
        f"({_cluster_sample_sql()}) cs ON cs.vec_id = k4.doc_id)")


def _curation_v5_sql() -> str:
    """x168 oracle — the funnel counts over the shared v5 chain."""
    return (
        f"WITH {_v5_chain_ctes()} "
        "SELECT 's0_all' AS stage, CAST(COUNT(*) AS BIGINT) "
        "AS n_kept FROM documents "
        "UNION ALL SELECT 's1_gopher', CAST(COUNT(*) AS BIGINT) "
        "FROM gp "
        "UNION ALL SELECT 's2_lang_fair', CAST(COUNT(*) AS BIGINT) "
        "FROM k1 "
        "UNION ALL SELECT 's3_nb_filter', CAST(COUNT(*) AS BIGINT) "
        "FROM k2 "
        "UNION ALL SELECT 's4_exact_dedup', CAST(COUNT(*) AS BIGINT) "
        "FROM k3 "
        "UNION ALL SELECT 's5_outlier_drop', CAST(COUNT(*) AS BIGINT) "
        "FROM k4 "
        "UNION ALL SELECT 's6_cluster_quota', CAST(COUNT(*) AS BIGINT) "
        "FROM k5 ORDER BY stage")


def _curation_impact_sql() -> str:
    """x176 oracle — per-language corpus mix before vs after the v5
    funnel (deltas may be negative: plain integer subtraction of two
    nonneg integer-division shares)."""
    return (
        f"WITH {_v5_chain_ctes()}, "
        "b AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_before "
        "FROM documents GROUP BY lang), "
        "a AS (SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_after "
        "FROM k5 JOIN documents d USING (doc_id) GROUP BY d.lang), "
        "tb AS (SELECT CAST(SUM(n_before) AS BIGINT) AS tot_b FROM b), "
        "ta AS (SELECT CAST(COALESCE(SUM(n_after), 0) AS BIGINT) "
        "AS tot_a FROM a), "
        "j AS (SELECT b.lang, n_before, COALESCE(n_after, 0) "
        "AS n_after, tot_b, tot_a FROM b LEFT JOIN a USING (lang) "
        "CROSS JOIN tb CROSS JOIN ta) "
        "SELECT lang, n_before, n_after, "
        "CAST(10000 * n_before // tot_b AS BIGINT) AS share_before_bp, "
        "CAST(CASE WHEN tot_a > 0 THEN 10000 * n_after // tot_a "
        "ELSE 0 END AS BIGINT) AS share_after_bp, "
        "CAST((CASE WHEN tot_a > 0 THEN 10000 * n_after // tot_a "
        "ELSE 0 END) - (10000 * n_before // tot_b) AS BIGINT) "
        "AS delta_bp "
        "FROM j ORDER BY lang")


def _rejection_report_sql() -> str:
    """x169 oracle — the three gates cross-tabulated: Gopher keep as
    a derived table, the x158 percentile chain over the full corpus,
    and the NB train-split rule from the shared scored chain."""
    m, cut, p = NB_TRAIN_MOD, NB_QUALITY_CUT, LANG_FAIR_KEEP_BP
    return (
        f"WITH {_nb_quality_ctes()}, "
        f"gg AS (SELECT doc_id, keep AS g_gopher FROM "
        f"({_gopher_rules_sql()})), "
        "jq9 AS (SELECT q.doc_id, d.lang, quality_bp FROM q "
        "JOIN documents d USING (doc_id)), "
        "lr9 AS (SELECT doc_id, CASE WHEN COUNT(*) OVER "
        "(PARTITION BY lang) > 1 THEN 10000 * (ROW_NUMBER() OVER "
        "(PARTITION BY lang ORDER BY quality_bp, doc_id) - 1) // "
        "(COUNT(*) OVER (PARTITION BY lang) - 1) ELSE 0 END "
        "AS pct FROM jq9), "
        f"gf AS (SELECT doc_id, pct >= {p} AS g_fair FROM lr9), "
        "gn AS (SELECT q.doc_id, "
        f"CASE WHEN q.doc_id % {m} = 0 THEN quality_bp >= {cut} "
        "ELSE COALESCE(pred, FALSE) END AS g_nb "
        "FROM q LEFT JOIN scored USING (doc_id)), "
        "j AS (SELECT gg.doc_id, g_gopher, g_fair, g_nb FROM gg "
        "JOIN gf USING (doc_id) JOIN gn USING (doc_id)), "
        "tot9 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM j) "
        "SELECT g_gopher, g_fair, g_nb, "
        "CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(10000 * COUNT(*) // n_total AS BIGINT) AS share_bp "
        "FROM j CROSS JOIN tot9 "
        "GROUP BY g_gopher, g_fair, g_nb, n_total "
        "ORDER BY g_gopher, g_fair, g_nb")


def _source_gate_matrix_sql() -> str:
    """x170 oracle — the x169 gate chains grouped by source."""
    m, cut, p = NB_TRAIN_MOD, NB_QUALITY_CUT, LANG_FAIR_KEEP_BP
    return (
        f"WITH {_nb_quality_ctes()}, "
        f"gg AS (SELECT doc_id, CASE WHEN keep THEN 1 ELSE 0 END "
        f"AS gg FROM ({_gopher_rules_sql()})), "
        "jq9 AS (SELECT q.doc_id, d.lang, quality_bp FROM q "
        "JOIN documents d USING (doc_id)), "
        "lr9 AS (SELECT doc_id, CASE WHEN COUNT(*) OVER "
        "(PARTITION BY lang) > 1 THEN 10000 * (ROW_NUMBER() OVER "
        "(PARTITION BY lang ORDER BY quality_bp, doc_id) - 1) // "
        "(COUNT(*) OVER (PARTITION BY lang) - 1) ELSE 0 END "
        "AS pct FROM jq9), "
        f"gf AS (SELECT doc_id, CASE WHEN pct >= {p} THEN 1 ELSE 0 "
        "END AS gf FROM lr9), "
        "gn AS (SELECT q.doc_id, "
        f"CASE WHEN q.doc_id % {m} = 0 THEN "
        f"(CASE WHEN quality_bp >= {cut} THEN 1 ELSE 0 END) "
        "ELSE (CASE WHEN COALESCE(pred, FALSE) THEN 1 ELSE 0 END) "
        "END AS gn FROM q LEFT JOIN scored USING (doc_id)), "
        "j AS (SELECT d.source, gg, gf, gn FROM documents d "
        "JOIN gg USING (doc_id) JOIN gf USING (doc_id) "
        "JOIN gn USING (doc_id)) "
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(10000 * SUM(gg) // COUNT(*) AS BIGINT) AS gopher_bp, "
        "CAST(10000 * SUM(gf) // COUNT(*) AS BIGINT) AS fair_bp, "
        "CAST(10000 * SUM(gn) // COUNT(*) AS BIGINT) AS nb_bp "
        "FROM j GROUP BY source ORDER BY source")


def _dup_quality_sql() -> str:
    """x171 oracle — prefix-duplicate (head-fingerprint) group-size
    bands × integer mean quality over the shared quality chain."""
    return (
        f"WITH {_quality_core()}, "
        "f AS (SELECT doc_id, md5(array_to_string("
        "string_split(text, ' ')[1:8], ' ')) AS fp "
        "FROM documents), "
        "sz AS (SELECT fp, COUNT(*) AS csize FROM f GROUP BY fp), "
        "j AS (SELECT CASE WHEN csize >= 3 THEN '3+' "
        "ELSE CAST(csize AS VARCHAR) END AS csize_band, "
        "f.fp, quality_bp "
        "FROM f JOIN sz USING (fp) "
        "JOIN q ON q.doc_id = f.doc_id) "
        "SELECT csize_band, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_groups, "
        "CAST(SUM(quality_bp) // COUNT(*) AS BIGINT) "
        "AS mean_quality_bp "
        "FROM j GROUP BY csize_band ORDER BY csize_band")


def _pca_base_ctes() -> str:
    """Shared x167/x173 oracle prefix: µunit quantization, HUGEINT
    moments, the exact scaled covariance, and the index-perturbed
    seed (all generated from the same constants as the Spark side)."""
    return (
        "e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        "xu AS MATERIALIZED (SELECT vec_id, j, "
        "CAST(FLOOR(v[j + 1] * 1000000 + 0.5) AS BIGINT) AS x "
        f"FROM e0, unnest(range(0, {EMB_DIM})) AS u(j)), "
        "ncnt AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM e0), "
        "sj AS (SELECT j, CAST(SUM(x) AS HUGEINT) AS s FROM xu "
        "GROUP BY j), "
        "smat AS (SELECT a.j AS j, b.j AS k, "
        "CAST(SUM(a.x * b.x) AS HUGEINT) AS g "
        "FROM xu a JOIN xu b USING (vec_id) GROUP BY a.j, b.j), "
        "cp AS MATERIALIZED (SELECT smat.j, smat.k, "
        "n * g - sa.s * sb.s AS c "
        "FROM smat JOIN sj sa ON sa.j = smat.j "
        "JOIN sj sb ON sb.j = smat.k CROSS JOIN ncnt), "
        "v0 AS (SELECT j, CAST(1000000 + j AS HUGEINT) AS vv "
        "FROM sj), ")


def _pca_iter_ctes(n_iters: int, mat: str = "cp",
                   pfx: str = "") -> str:
    """The unrolled power-iteration CTE chain (mv/norm/renormalized v
    per round) over matrix CTE ``mat`` with CTE-name prefix ``pfx``
    — generated from the iteration count so the twins cannot
    desynchronize from PCA_ITERS."""
    return "".join(
        f"mv{pfx}{t} AS (SELECT m0.j, SUM(m0.c * v{pfx}{t-1}.vv) AS m "
        f"FROM {mat} m0 JOIN v{pfx}{t-1} ON v{pfx}{t-1}.j = m0.k "
        f"GROUP BY m0.j), "
        f"nm{pfx}{t} AS (SELECT MAX(ABS(m)) AS nm FROM mv{pfx}{t}), "
        f"v{pfx}{t} AS (SELECT j, CASE WHEN m >= 0 "
        f"THEN (ABS(m) * 1000000) // nm "
        f"ELSE -((ABS(m) * 1000000) // nm) END AS vv "
        f"FROM mv{pfx}{t} CROSS JOIN nm{pfx}{t}), "
        for t in range(1, n_iters + 1))


def _pca_power_sql() -> str:
    """x167 oracle — the identical integer walk in SQL, then the
    centered projection histogram. Sign-safe truncating
    renormalization (DuckDB ``//`` truncates toward zero on
    negatives, matching the Spark side's sign·(abs//norm))."""
    w = PCA_BIN_W
    vf = f"v{PCA_ITERS}"
    return (
        f"WITH {_pca_base_ctes()}"
        + _pca_iter_ctes(PCA_ITERS) +
        f"svv AS (SELECT SUM(sj.s * {vf}.vv) AS sv FROM sj "
        f"JOIN {vf} USING (j)), "
        f"raw AS (SELECT vec_id, SUM(x * {vf}.vv) AS r FROM xu "
        f"JOIN {vf} USING (j) GROUP BY vec_id), "
        "bb AS (SELECT CAST(FLOOR(CAST(n * r - sv AS DOUBLE) "
        f"/ (CAST(n AS DOUBLE) * {float(w)})) AS BIGINT) AS bin "
        "FROM raw CROSS JOIN svv CROSS JOIN ncnt) "
        "SELECT bin, CAST(COUNT(*) AS BIGINT) AS n FROM bb "
        "GROUP BY bin ORDER BY bin")


def _pca_convergence_sql() -> str:
    """x173 oracle — the per-round Rayleigh quotients of the same
    walk: λ_t = v_{t-1}ᵀ·mv_t // v_{t-1}ᵀ·v_{t-1} (nonneg exact
    integers — C is PSD, so plain floor division is safe)."""
    lam = " UNION ALL ".join(
        f"SELECT CAST({t} AS INT) AS it, "
        f"CAST(SUM(vp.vv * m.m) // SUM(vp.vv * vp.vv) AS BIGINT) "
        f"AS lam_u FROM mv{t} m JOIN v{t-1} vp USING (j)"
        for t in range(1, PCA_ITERS + 1))
    return (
        f"WITH {_pca_base_ctes()}"
        + _pca_iter_ctes(PCA_ITERS)
        + f"lams AS ({lam}) SELECT it, lam_u FROM lams ORDER BY it")


def _corpus_map_sql() -> str:
    """x174 oracle — the 2-D grid: chain 1 is x167's walk; the
    deflated matrix cp2 = c − (mv_s·mv_sᵀ // num_s) is built with
    the identical scaled truncate-toward-zero arithmetic (DuckDB
    ``//`` truncates on HUGEINT, matching the Spark driver's
    _trunc_div); chain 2 re-runs the generated iteration CTEs over
    cp2 with its own perturbed seed."""
    w = PCA_BIN_W
    vf, vb = f"v{PCA_ITERS}", f"vb{PCA_ITERS}"
    return (
        f"WITH {_pca_base_ctes()}"
        + _pca_iter_ctes(PCA_ITERS) +
        f"mvf AS (SELECT cp.j, SUM(c * {vf}.vv) AS m "
        f"FROM cp JOIN {vf} ON {vf}.j = cp.k GROUP BY cp.j), "
        f"numf AS (SELECT SUM(v.vv * m.m) AS num FROM mvf m "
        f"JOIN {vf} v USING (j)), "
        "mvs AS (SELECT j, m // 10000000000 AS ms FROM mvf), "
        "nums AS (SELECT num // CAST(100000000000000000000 "
        "AS HUGEINT) AS ns FROM numf), "
        "cp2 AS MATERIALIZED (SELECT a.j AS j, b.j AS k, "
        "cp.c - ((a.ms * b.ms) // ns) AS c "
        "FROM mvs a CROSS JOIN mvs b "
        "JOIN cp ON cp.j = a.j AND cp.k = b.j CROSS JOIN nums), "
        "vb0 AS (SELECT j, CAST(1000000 + j AS HUGEINT) AS vv "
        "FROM sj), "
        + _pca_iter_ctes(PCA_ITERS, mat="cp2", pfx="b") +
        f"sv1 AS (SELECT SUM(sj.s * {vf}.vv) AS sv FROM sj "
        f"JOIN {vf} USING (j)), "
        f"sv2 AS (SELECT SUM(sj.s * {vb}.vv) AS sv FROM sj "
        f"JOIN {vb} USING (j)), "
        f"raw1 AS (SELECT vec_id, SUM(x * {vf}.vv) AS r FROM xu "
        f"JOIN {vf} USING (j) GROUP BY vec_id), "
        f"raw2 AS (SELECT vec_id, SUM(x * {vb}.vv) AS r FROM xu "
        f"JOIN {vb} USING (j) GROUP BY vec_id), "
        "bb AS (SELECT CAST(FLOOR(CAST(n * raw1.r - sv1.sv "
        f"AS DOUBLE) / (CAST(n AS DOUBLE) * {float(w)})) AS BIGINT) "
        "AS bin1, "
        "CAST(FLOOR(CAST(n * raw2.r - sv2.sv AS DOUBLE) "
        f"/ (CAST(n AS DOUBLE) * {float(w)})) AS BIGINT) AS bin2 "
        "FROM raw1 JOIN raw2 USING (vec_id) "
        "CROSS JOIN sv1 CROSS JOIN sv2 CROSS JOIN ncnt) "
        "SELECT bin1, bin2, CAST(COUNT(*) AS BIGINT) AS n FROM bb "
        "GROUP BY bin1, bin2 ORDER BY bin1, bin2")


def _lang_fair_gate_sql() -> str:
    """x158 oracle — within-language integer percentile of the x11
    quality score over the shared quality chain."""
    cut = LANG_FAIR_KEEP_BP
    pct = ("CASE WHEN n_lang > 1 THEN 10000 * (rk - 1) // (n_lang - 1) "
           "ELSE 0 END")
    return (
        f"WITH {_quality_core()}, "
        "jq AS (SELECT q.doc_id, d.lang, quality_bp FROM q "
        "JOIN documents d USING (doc_id)), "
        "r AS (SELECT doc_id, lang, quality_bp, "
        "CAST(ROW_NUMBER() OVER (PARTITION BY lang "
        "ORDER BY quality_bp, doc_id) AS BIGINT) AS rk, "
        "COUNT(*) OVER (PARTITION BY lang) AS n_lang FROM jq) "
        f"SELECT doc_id, lang, quality_bp, "
        f"CAST({pct} AS BIGINT) AS pct_bp, "
        f"({pct}) >= {cut} AS keep "
        "FROM r ORDER BY doc_id")


def _source_dup_matrix_sql() -> str:
    """x157 oracle — the x02 pair chain rolled up by canonical
    endpoint sources."""
    return (
        f"WITH p AS ({_minhash_sql()}) "
        "SELECT LEAST(a.source, b.source) AS src_a, "
        "GREATEST(a.source, b.source) AS src_b, "
        "CAST(COUNT(*) AS BIGINT) AS n_pairs "
        "FROM p JOIN documents a ON a.doc_id = p.da "
        "JOIN documents b ON b.doc_id = p.db "
        "GROUP BY 1, 2 ORDER BY src_a, src_b")


def _lloyd_update_sql() -> str:
    """x156 oracle — the Lloyd walk on the even-id BASE slice (shared
    CTEs, c4 + the cs3 sufficient stats), then ONE batch assignment
    of the odd-id slice against c4, the base+batch rounded-mean
    merge, and the integer L1 drift per cell."""
    t = KM_ITERS
    return (
        "WITH "
        + ", ".join(_km_walk_ctes(
            t, t, where=f" WHERE vec_id % {LLOYD_BATCH_MOD} = 0"))
        + ", "
        "eb AS (SELECT vec_id, list_transform(CAST(embedding AS "
        "DOUBLE[]), x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) "
        f"AS vu FROM embeddings WHERE vec_id % {LLOYD_BATCH_MOD} <> 0), "
        "abn AS (SELECT x.vec_id, c.cid, "
        "CAST(SUM((x.vu[i] - c.cu[i]) * (x.vu[i] - c.cu[i])) "
        "AS BIGINT) AS d2 "
        f"FROM eb x, c{t + 1} c, generate_series(1, {EMB_DIM}) g(i) "
        "GROUP BY x.vec_id, c.cid), "
        "bbn AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, "
        "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) "
        "AS r FROM abn) q WHERE r = 1), "
        "bs AS (SELECT b.cid, g2.i, "
        "CAST(SUM(x.vu[g2.i]) AS BIGINT) AS s, COUNT(*) AS cnt "
        "FROM bbn b JOIN eb x USING (vec_id), "
        f"generate_series(1, {EMB_DIM}) g2(i) GROUP BY b.cid, g2.i), "
        f"cdim AS (SELECT cid, g3.i, cu[g3.i] AS cu_i FROM c{t + 1}, "
        f"generate_series(1, {EMB_DIM}) g3(i)), "
        f"m AS (SELECT cs.cid, cs.i, cs.cnt AS n_base, "
        "COALESCE(bs.cnt, 0) AS n_new, "
        "CAST(floor(CAST(cs.s + COALESCE(bs.s, 0) AS DOUBLE) "
        "/ (cs.cnt + COALESCE(bs.cnt, 0)) + 0.5) AS BIGINT) AS mu "
        f"FROM cs{t} cs LEFT JOIN bs ON bs.cid = cs.cid "
        "AND bs.i = cs.i) "
        "SELECT m.cid, CAST(ANY_VALUE(n_base) AS BIGINT) AS n_base, "
        "CAST(ANY_VALUE(n_new) AS BIGINT) AS n_new, "
        "CAST(SUM(ABS(mu - cu_i)) AS BIGINT) AS shift_u "
        "FROM m JOIN cdim ON cdim.cid = m.cid AND cdim.i = m.i "
        "GROUP BY m.cid ORDER BY m.cid")


def _ann_ivf_lloyd_sql() -> str:
    """x147 oracle — the x08 probe/rank chain served from the
    refined centroids: KM_ITERS full Lloyd rounds (the shared walk,
    update after the last round included), cv = cu/1e6 exact doubles,
    then the identical 6dp assignment / n_probe probes / 4dp in-cell
    ranking."""
    acos = "ROUND(" + _COS.format(a="x.v", b="c.cv") + ", 6)"
    qcos = "ROUND(" + _COS.format(a="q.v", b="c.cv") + ", 6)"
    cos = "ROUND(" + _COS.format(a="p.qv", b="m.v") + ", 4)"
    ctes = _km_walk_ctes(KM_ITERS, KM_ITERS)
    ctes += [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings)",
        f"c AS (SELECT cid, list_transform(cu, x -> x / 1000000.0) "
        f"AS cv FROM c{KM_ITERS + 1})",
        f"q AS (SELECT vec_id AS qid, v FROM e "
        f"WHERE vec_id % {ANN_QUERY_MOD} = 0)",
        "asg AS (SELECT vec_id, v, cid FROM ("
        "SELECT x.vec_id, x.v, c.cid, ROW_NUMBER() OVER "
        f"(PARTITION BY x.vec_id ORDER BY {acos} DESC, c.cid) AS r "
        f"FROM e x, c) t WHERE r <= {ANN_N_ASSIGN})",
        "probes AS (SELECT qid, qv, cid FROM ("
        "SELECT q.qid, q.v AS qv, c.cid, ROW_NUMBER() OVER "
        f"(PARTITION BY q.qid ORDER BY {qcos} DESC, c.cid) AS r "
        f"FROM q, c) t WHERE r <= {ANN_N_PROBE})",
        f"scored AS (SELECT DISTINCT p.qid, m.vec_id, {cos} AS cos "
        "FROM probes p JOIN asg m ON p.cid = m.cid "
        "WHERE m.vec_id <> p.qid)",
        "ranked AS (SELECT qid, vec_id, cos, CAST(ROW_NUMBER() OVER "
        "(PARTITION BY qid ORDER BY cos DESC, vec_id) AS INTEGER) "
        "AS rank FROM scored)",
    ]
    return ("WITH " + ", ".join(ctes) + " "
            f"SELECT qid, vec_id, cos, rank FROM ranked "
            f"WHERE rank <= {ANN_K} ORDER BY qid, rank")


def _graph_hops_sql() -> str:
    """x137 oracle — two unrolled Graph-explore hops from the same
    GRAPH_SEED/GRAPH_MIN_FG constants; hop-2 foreground totals are the
    source term's corpus df (its bg), per-source top-k via QUALIFY."""
    s, mf = GRAPH_SEED, GRAPH_MIN_FG
    k1, k2 = GRAPH2_K1, GRAPH2_K2
    return (
        "WITH d0 AS (SELECT doc_id, "
        "list_distinct(string_split(text, ' ')) AS t FROM documents), "
        "tot AS (SELECT COUNT(*) AS n_docs, CAST(SUM(CASE WHEN "
        f"list_contains(t, '{s}') THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_seed FROM d0), "
        "bgall AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS bg FROM "
        "(SELECT doc_id, unnest(t) AS term FROM d0) u GROUP BY term), "
        "fg1 AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS fg FROM "
        f"(SELECT unnest(t) AS term FROM d0 "
        f"WHERE list_contains(t, '{s}')) u "
        f"WHERE term <> '{s}' GROUP BY term "
        f"HAVING COUNT(*) >= {mf}), "
        f"h1p AS (SELECT '{s}' AS src, fg1.term, fg1.fg, bgall.bg, "
        "CAST(FLOOR(10000.0 * fg1.fg * tot.n_docs / "
        "(CAST(tot.n_seed AS DOUBLE) * bgall.bg)) AS BIGINT) "
        "AS lift_bp FROM fg1 JOIN bgall USING (term) CROSS JOIN tot), "
        "h1 AS (SELECT src, term, fg, bg, lift_bp, "
        "CAST(row_number() OVER (ORDER BY lift_bp DESC, term) AS INT) "
        f"AS rk FROM h1p QUALIFY rk <= {k1}), "
        "pr AS (SELECT src, term, CAST(COUNT(*) AS BIGINT) AS fg "
        "FROM (SELECT f.term AS src, unnest(d0.t) AS term "
        "FROM d0 JOIN h1 f ON list_contains(d0.t, f.term)) x "
        "GROUP BY src, term), "
        "cand AS (SELECT pr.src, pr.term, pr.fg, bgall.bg, "
        "ns.bg AS n_src FROM pr JOIN bgall USING (term) "
        "JOIN h1 ns ON ns.term = pr.src "
        f"WHERE pr.term <> pr.src AND pr.term <> '{s}' "
        f"AND pr.fg >= {mf} "
        "AND pr.term NOT IN (SELECT term FROM h1)), "
        "h2p AS (SELECT src, term, fg, bg, "
        "CAST(FLOOR(10000.0 * fg * tot.n_docs / "
        "(CAST(n_src AS DOUBLE) * bg)) AS BIGINT) AS lift_bp "
        "FROM cand CROSS JOIN tot), "
        "h2 AS (SELECT src, term, fg, bg, lift_bp, "
        "CAST(row_number() OVER (PARTITION BY src "
        "ORDER BY lift_bp DESC, term) AS INT) AS rk FROM h2p "
        f"QUALIFY rk <= {k2}) "
        "SELECT 1 AS hop, src, term, fg, bg, lift_bp, rk FROM h1 "
        "UNION ALL "
        "SELECT 2 AS hop, src, term, fg, bg, lift_bp, rk FROM h2 "
        "ORDER BY hop, src, rk")


# ------------------------------------------ event analytics oracles

_US_DAY = 86_400_000_000
_US_HOUR = 3_600_000_000


def _funnel_stage_ctes() -> list[str]:
    """The shared x181/x189 first-touch stage chain, generated from
    FUNNEL_STEPS so the twins cannot desynchronize."""
    ctes = ["ev AS (SELECT user_id AS k, epoch_us(ts) AS us, "
            "event_type AS t FROM events)",
            f"s0 AS (SELECT k, MIN(us) AS t0 FROM ev "
            f"WHERE t = '{FUNNEL_STEPS[0]}' GROUP BY k)"]
    for i, s in enumerate(FUNNEL_STEPS[1:], start=1):
        ctes.append(
            f"s{i} AS (SELECT e.k, MIN(e.us) AS t0 FROM ev e "
            f"JOIN s{i - 1} p ON p.k = e.k AND e.t = '{s}' "
            f"AND e.us > p.t0 GROUP BY e.k)")
    return ctes


def _funnel_sql() -> str:
    """x181 oracle — per-step user counts + bp conversions over the
    shared stage chain."""
    ctes = _funnel_stage_ctes()
    union = " UNION ALL ".join(
        f"SELECT {i} AS step_idx, '{s}' AS step, COUNT(*) AS n_users "
        f"FROM s{i}" for i, s in enumerate(FUNNEL_STEPS))
    return (
        "WITH " + ", ".join(ctes) + ", "
        f"f AS ({union}), "
        "w AS (SELECT step_idx, step, n_users, "
        "LAG(n_users) OVER (ORDER BY step_idx) AS prev_n, "
        "FIRST_VALUE(n_users) OVER (ORDER BY step_idx) AS first_n "
        "FROM f) "
        "SELECT step_idx, step, n_users, "
        "CAST(CASE WHEN prev_n IS NULL THEN 10000 WHEN prev_n > 0 "
        "THEN n_users * 10000 // prev_n ELSE 0 END AS BIGINT) "
        "AS conv_prev_bp, "
        "CAST(CASE WHEN step_idx = 0 THEN 10000 WHEN first_n > 0 "
        "THEN n_users * 10000 // first_n ELSE 0 END AS BIGINT) "
        "AS conv_first_bp FROM w ORDER BY step_idx")


def _retention_sql() -> str:
    """x182 oracle — integer epoch-day/week cohort matrix."""
    wd = RETENTION_WEEK_DAYS
    return (
        "WITH ud AS (SELECT DISTINCT user_id AS k, "
        f"epoch_us(ts) // {_US_DAY} AS day FROM events), "
        "fr AS (SELECT k, MIN(day) AS d0 FROM ud GROUP BY k), "
        "act AS (SELECT DISTINCT ud.k, "
        f"fr.d0 // {wd} AS cohort_week, "
        f"(ud.day - fr.d0) // {wd} AS week_offset "
        "FROM ud JOIN fr ON fr.k = ud.k), "
        "c AS (SELECT cohort_week, week_offset, COUNT(*) AS n_users "
        "FROM act GROUP BY 1, 2), "
        "b AS (SELECT cohort_week, n_users AS base_n FROM c "
        "WHERE week_offset = 0) "
        "SELECT c.cohort_week, c.week_offset, c.n_users, "
        "CAST(c.n_users * 10000 // b.base_n AS BIGINT) AS retained_bp "
        "FROM c JOIN b USING (cohort_week) "
        "ORDER BY cohort_week, week_offset")


def _session_ctes() -> str:
    """The x15 gap-sessionization chain (shared verbatim by x183)."""
    return (
        "e AS (SELECT user_id, epoch_us(ts) AS us FROM events), "
        "d AS (SELECT user_id, us, CASE WHEN us - LAG(us) OVER "
        "(PARTITION BY user_id ORDER BY us) > "
        f"{SESSION_GAP_US} THEN 1 ELSE 0 END AS brk FROM e), "
        "s AS (SELECT user_id, us, SUM(brk) OVER (PARTITION BY user_id "
        "ORDER BY us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        "AS sid FROM d), "
        "ses AS (SELECT user_id, MIN(us) AS start_us, "
        "MAX(us) - MIN(us) AS dur_us, COUNT(*) AS events FROM s "
        "GROUP BY user_id, sid)")


def _session_stats_sql() -> str:
    """x183 oracle — one-row rollup of the shared session chain."""
    pcts = ", ".join(
        f"ROUND(quantile_cont(dur_us, {q}), 4) AS p{int(q * 100)}_dur_us"
        for q in SESSION_PCT_QS)
    return (
        f"WITH {_session_ctes()} "
        "SELECT COUNT(*) AS n_sessions, "
        "CAST(SUM(CASE WHEN events = 1 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_single, "
        "CAST(SUM(events) * 10000 // COUNT(*) AS BIGINT) "
        f"AS events_per_session_bp, {pcts}, "
        "MAX(dur_us) AS max_dur_us FROM ses")


def _event_transitions_sql() -> str:
    """x184 oracle — LEAD over the identical (ts, event_id) total
    order, row-normalized in integer bp."""
    return (
        "WITH ev AS (SELECT user_id AS k, epoch_us(ts) AS us, "
        "event_id AS eid, event_type AS src FROM events), "
        "p AS (SELECT src, LEAD(src) OVER (PARTITION BY k "
        "ORDER BY us, eid) AS dst FROM ev), "
        "c AS (SELECT src, dst, COUNT(*) AS n FROM p "
        "WHERE dst IS NOT NULL GROUP BY 1, 2) "
        "SELECT src, dst, n, CAST(n * 10000 // "
        "SUM(n) OVER (PARTITION BY src) AS BIGINT) AS prob_bp "
        "FROM c ORDER BY src, dst")


def _rolling_active_sql() -> str:
    """x185 oracle — the range-join formulation of the same rolling
    distinct count (the Spark side uses the constant-length explode;
    both report exactly the observed-day grid)."""
    w = ROLL_WINDOW_DAYS - 1
    return (
        "WITH ud AS (SELECT DISTINCT user_id AS k, "
        f"epoch_us(ts) // {_US_DAY} AS day FROM events), "
        "g AS (SELECT DISTINCT day AS tday FROM ud) "
        "SELECT g.tday AS day, "
        "COUNT(DISTINCT CASE WHEN u.day = g.tday THEN u.k END) AS dau, "
        "COUNT(DISTINCT u.k) AS wau, "
        "CAST(COUNT(DISTINCT CASE WHEN u.day = g.tday THEN u.k END) "
        "* 10000 // COUNT(DISTINCT u.k) AS BIGINT) AS stickiness_bp "
        f"FROM g JOIN ud u ON u.day BETWEEN g.tday - {w} AND g.tday "
        "GROUP BY g.tday ORDER BY day")


def _rfm_sql() -> str:
    """x186 oracle — integer-cent metrics; quartiles by the
    distinct-value-group percentile rule (pct_bp(v) = 10000·cum_lt(v)
    // (n−1); cum_lt = users strictly below v) so ties share a
    quartile — the same rule as the Spark side's broadcast cuts."""
    def metric_ctes(col: str, tag: str) -> str:
        conds = ", ".join(
            f"MIN(CASE WHEN nn > 1 AND cum_lt * 10000 >= {q} * (nn - 1) "
            f"THEN v END) AS c{q}"
            for q in (2500, 5000, 7500))
        return (
            f"{tag}v AS (SELECT {col} AS v, COUNT(*) AS cnt "
            f"FROM u GROUP BY {col}), "
            f"{tag}c AS (SELECT v, CAST(COALESCE(SUM(cnt) OVER "
            "(ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND "
            "1 PRECEDING), 0) AS BIGINT) AS cum_lt FROM "
            f"{tag}v), "
            f"{tag}b AS (SELECT {conds} FROM {tag}c CROSS JOIN nn1)")

    def quart(col: str, tag: str) -> str:
        return ("1 + " + " + ".join(
            f"CASE WHEN {col} >= {tag}b.c{q} THEN 1 ELSE 0 END"
            for q in (2500, 5000, 7500)))

    return (
        "WITH e AS (SELECT user_id AS k, "
        f"epoch_us(ts) // {_US_DAY} AS day, "
        "CAST(FLOOR(COALESCE(value, 0) * 100 + 0.5) AS BIGINT) AS cents "
        "FROM events), "
        "m AS (SELECT k, MAX(day) AS umax, COUNT(*) AS freq, "
        "CAST(SUM(cents) AS BIGINT) AS mon FROM e GROUP BY k), "
        "gm AS (SELECT MAX(umax) AS gmax FROM m), "
        "u AS (SELECT k, gm.gmax - umax AS rec, freq, mon "
        "FROM m CROSS JOIN gm), "
        "nn1 AS (SELECT COUNT(*) AS nn FROM u), "
        + metric_ctes("rec", "rr") + ", "
        + metric_ctes("freq", "ff") + ", "
        + metric_ctes("mon", "mm") + ", "
        f"q AS (SELECT k, mon, CAST({quart('rec', 'rr')} AS INT) AS r_q, "
        f"CAST({quart('freq', 'ff')} AS INT) AS f_q, "
        f"CAST({quart('mon', 'mm')} AS INT) AS m_q "
        "FROM u CROSS JOIN rrb CROSS JOIN ffb CROSS JOIN mmb) "
        "SELECT r_q, f_q, m_q, COUNT(*) AS n_users, "
        "CAST(SUM(mon) AS BIGINT) AS monetary_cents FROM q "
        "GROUP BY 1, 2, 3 ORDER BY r_q, f_q, m_q")


def _error_spike_sql() -> str:
    """x187 oracle — the identical RANGE window on the hour index."""
    th, k = SPIKE_TRAIL_HOURS, SPIKE_TOP_K
    return (
        "WITH h AS (SELECT "
        f"epoch_us(ts) // {_US_HOUR} AS hour, "
        "CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err "
        "FROM events), "
        "g AS (SELECT hour, CAST(SUM(is_err) AS BIGINT) AS n_err "
        "FROM h GROUP BY hour), "
        "w AS (SELECT hour, n_err, "
        "CAST(SUM(n_err) OVER (ORDER BY hour RANGE BETWEEN "
        f"{th} PRECEDING AND 1 PRECEDING) AS BIGINT) AS trail, "
        "COUNT(*) OVER (ORDER BY hour RANGE BETWEEN "
        f"{th} PRECEDING AND 1 PRECEDING) AS hrs FROM g) "
        "SELECT hour, n_err, trail, "
        f"CAST(n_err * {th} * 10000 // trail AS BIGINT) AS spike_bp "
        f"FROM w WHERE hrs = {th} AND trail > 0 "
        f"ORDER BY spike_bp DESC, hour LIMIT {k}")


def _funnel_latency_sql() -> str:
    """x189 oracle — latency summary over the shared stage chain."""
    last = len(FUNNEL_STEPS) - 1
    pcts = ", ".join(
        f"ROUND(quantile_cont(lat_us, {q}), 4) AS p{int(q * 100)}_us"
        for q in SESSION_PCT_QS)
    return (
        "WITH " + ", ".join(_funnel_stage_ctes()) + ", "
        f"lat AS (SELECT s{last}.t0 - s0.t0 AS lat_us "
        f"FROM s0 JOIN s{last} USING (k)) "
        "SELECT COUNT(*) AS n_converted, "
        "CAST(CASE WHEN COUNT(*) > 0 THEN SUM(lat_us) // COUNT(*) "
        "ELSE 0 END AS BIGINT) AS mean_us, "
        f"{pcts}, MAX(lat_us) AS max_us FROM lat")


_DAILY_CTE = ("d AS (SELECT epoch_us(ts) // 86400000000 AS day, "
              "COUNT(*) AS c FROM events GROUP BY 1)")


def _acf_sql() -> str:
    """x190 oracle — identical integer moments per lag; the only
    doubles are the final sqrt/divide (correctly-rounded IEEE — the
    same value both engines), FLOOR toward −inf (negative-safe)."""
    return (
        f"WITH {_DAILY_CTE}, "
        f"lg AS (SELECT CAST(i AS INT) AS lag "
        f"FROM generate_series(1, {ACF_MAX_LAG}) g(i)), "
        "p AS (SELECT lg.lag, a.c AS x, b.c AS y "
        "FROM d a JOIN lg ON TRUE "
        "JOIN d b ON b.day = a.day + lg.lag), "
        "m AS (SELECT lag, COUNT(*) AS n, "
        "CAST(SUM(x) AS BIGINT) AS s1, CAST(SUM(y) AS BIGINT) AS s2, "
        "CAST(SUM(x * x) AS BIGINT) AS s11, "
        "CAST(SUM(y * y) AS BIGINT) AS s22, "
        "CAST(SUM(x * y) AS BIGINT) AS s12 FROM p GROUP BY lag) "
        "SELECT lag, n AS n_pairs, "
        "CAST(CASE WHEN (n * s11 - s1 * s1) > 0 "
        "AND (n * s22 - s2 * s2) > 0 THEN "
        "FLOOR(10000.0 * CAST(n * s12 - s1 * s2 AS DOUBLE) / "
        "sqrt(CAST(n * s11 - s1 * s1 AS DOUBLE) * "
        "CAST(n * s22 - s2 * s2 AS DOUBLE))) "
        "ELSE 0 END AS BIGINT) AS r_bp "
        "FROM m WHERE n >= 2 ORDER BY lag")


def _dow_profile_sql() -> str:
    """x191 oracle — integer cross-multiplied seasonal index."""
    return (
        f"WITH {_DAILY_CTE}, "
        "g AS (SELECT COUNT(*) AS nd, CAST(SUM(c) AS BIGINT) AS tc "
        "FROM d) "
        "SELECT day % 7 AS dow, COUNT(*) AS n_days, "
        "CAST(SUM(c) AS BIGINT) AS total, "
        "CAST(SUM(c) * nd * 10000 // (COUNT(*) * tc) AS BIGINT) "
        "AS idx_bp "
        "FROM d CROSS JOIN g GROUP BY day % 7, nd, tc ORDER BY dow")


def _forecast_backtest_sql() -> str:
    """x192 oracle — the two lag joins scored by integer WAPE."""
    def one(name: str, lag: int) -> str:
        return (
            f"SELECT '{name}' AS model, "
            f"CAST({lag} AS INT) AS horizon_days, "
            "COUNT(*) AS n_days, "
            "CAST(SUM(ABS(a.c - b.c)) AS BIGINT) AS sum_abs_err, "
            "CAST(CASE WHEN SUM(a.c) > 0 THEN "
            "SUM(ABS(a.c - b.c)) * 10000 // SUM(a.c) ELSE 0 END "
            "AS BIGINT) AS wape_bp "
            f"FROM d a JOIN d b ON a.day = b.day + {lag}")

    return (f"WITH {_DAILY_CTE} "
            + one("naive1", 1) + " UNION ALL "
            + one(f"seasonal{FORECAST_SEASON}", FORECAST_SEASON)
            + " ORDER BY horizon_days")


def _bot_flags_sql() -> str:
    """x197 oracle — the identical lag/moment chain; disp kept as one
    integer expression on both sides."""
    disp = ("CASE WHEN sg > 0 THEN 10000 * (n_gaps * sg2 - sg * sg) "
            "// (sg * sg) ELSE 0 END")
    return (
        "WITH ev AS (SELECT user_id AS k, epoch_us(ts) AS us, "
        "event_id AS eid FROM events), "
        "gp AS (SELECT k, (us - LAG(us) OVER (PARTITION BY k "
        "ORDER BY us, eid)) // 1000000 AS g FROM ev), "
        "s AS (SELECT k, COUNT(*) AS n_gaps, "
        "CAST(SUM(g) AS BIGINT) AS sg, "
        "CAST(SUM(g * g) AS BIGINT) AS sg2, "
        "ROUND(quantile_cont(g, 0.5), 4) AS median_gap_s "
        "FROM gp WHERE g IS NOT NULL GROUP BY k), "
        f"d AS (SELECT k, n_gaps, median_gap_s, "
        f"CAST({disp} AS BIGINT) AS disp_bp FROM s) "
        "SELECT k, n_gaps, median_gap_s, disp_bp, "
        f"(median_gap_s < {BOT_MEDIAN_S} OR (n_gaps >= {BOT_MIN_GAPS} "
        f"AND disp_bp < {BOT_MAX_DISP_BP})) AS is_bot "
        "FROM d ORDER BY k")


def _mixture_waterfill_sql() -> str:
    """x198 oracle — the identical unrolled allocation walk, CTE per
    round, generated from the same constants."""
    b = f"tot * {MIX_BUDGET_NUM} // {MIX_BUDGET_DEN}"
    ctes = [
        "tc AS (SELECT source, CAST(SUM(len(string_split(text, ' '))) "
        "AS BIGINT) AS t FROM documents GROUP BY source)",
        "g0 AS (SELECT CAST(SUM(t) AS BIGINT) AS tot, COUNT(*) AS ns "
        "FROM tc)",
        f"a0 AS (SELECT source, t, t * {MIX_CAP_BP} // 10000 AS cap, "
        f"{b} AS b, LEAST(({b}) // ns, t * {MIX_CAP_BP} // 10000) "
        "AS alloc FROM tc CROSS JOIN g0)",
    ]
    for r in range(1, MIX_ROUNDS):
        ctes.append(
            f"g{r} AS (SELECT MIN(b) AS b0, "
            "CAST(SUM(alloc) AS BIGINT) AS spent, "
            "CAST(SUM(CASE WHEN alloc < cap THEN 1 ELSE 0 END) "
            f"AS BIGINT) AS nu FROM a{r - 1})")
        ctes.append(
            f"a{r} AS (SELECT source, t, cap, b, "
            "CASE WHEN alloc < cap AND nu > 0 THEN "
            "LEAST(alloc + (b0 - spent) // nu, cap) ELSE alloc END "
            f"AS alloc FROM a{r - 1} CROSS JOIN g{r})")
    last = f"a{MIX_ROUNDS - 1}"
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT source, t AS tokens, cap AS cap_tokens, "
        "CAST(alloc AS BIGINT) AS alloc_tokens, "
        "CAST(alloc * 10000 // t AS BIGINT) AS epochs_bp "
        f"FROM {last} ORDER BY source")


def _funnel_trend_sql() -> str:
    """x199 oracle — entry-week cohorts over the shared stage chain."""
    last = len(FUNNEL_STEPS) - 1
    wk = RETENTION_WEEK_DAYS * 86_400_000_000
    return (
        "WITH " + ", ".join(_funnel_stage_ctes()) + " "
        f"SELECT s0.t0 // {wk} AS week, COUNT(*) AS n_entered, "
        f"CAST(SUM(CASE WHEN s{last}.k IS NULL THEN 0 ELSE 1 END) "
        "AS BIGINT) AS n_converted, "
        f"CAST(SUM(CASE WHEN s{last}.k IS NULL THEN 0 ELSE 1 END) "
        "* 10000 // COUNT(*) AS BIGINT) AS conv_bp "
        f"FROM s0 LEFT JOIN s{last} ON s{last}.k = s0.k "
        "GROUP BY 1 ORDER BY week")


def _source_divergence_sql() -> str:
    """x200 oracle — identical grid: top-K vocab (count desc, token
    asc), add-one µunit probabilities, µunit-rounded ln, exact
    integer per-cell products."""
    k = DIVERGENCE_VOCAB_K
    return (
        "WITH tk AS (SELECT d.source AS src, t[i] AS token "
        f"FROM (SELECT source, {_TOKS} AS t FROM documents) d, "
        f"generate_series(1, {ORACLE_MAX_TOKENS}) g(i) "
        "WHERE i <= len(t)), "
        "vocab AS (SELECT token FROM (SELECT token, COUNT(*) AS c "
        "FROM tk GROUP BY token ORDER BY c DESC, token "
        f"LIMIT {k})), "
        "cnt AS (SELECT src, token, COUNT(*) AS c FROM tk "
        "JOIN vocab USING (token) GROUP BY 1, 2), "
        "srcs AS (SELECT DISTINCT source AS src FROM documents), "
        "grid AS (SELECT srcs.src, vocab.token, "
        "COALESCE(cnt.c, 0) AS c FROM srcs CROSS JOIN vocab "
        "LEFT JOIN cnt ON cnt.src = srcs.src "
        "AND cnt.token = vocab.token), "
        "tot AS (SELECT src, CAST(SUM(c) AS BIGINT) AS tot FROM grid "
        "GROUP BY src), "
        "cell AS (SELECT grid.src, grid.token, "
        f"CAST((c + 1) * 1000000 // (tot + {k}) AS BIGINT) AS p_u, "
        "CAST(ROUND(1000000.0 * ln((c + 1) * 1.0 / "
        f"(tot + {k}))) AS BIGINT) AS lp_u "
        "FROM grid JOIN tot USING (src)) "
        "SELECT a.src AS src_a, b.src AS src_b, "
        "CAST(SUM((a.p_u - b.p_u) * (a.lp_u - b.lp_u)) AS BIGINT) "
        "AS skl_e12 "
        "FROM cell a JOIN cell b ON a.token = b.token "
        "AND a.src < b.src GROUP BY 1, 2 ORDER BY src_a, src_b")


def _session_paths_sql() -> str:
    """x201 oracle — the x15 islands + LEAD path render."""
    k, plen = PATHS_TOP_K, PATHS_LEN
    leads = " || '>' || ".join(
        "t" if i == 0 else
        f"LEAD(t, {i}) OVER (PARTITION BY k, sid ORDER BY us, eid)"
        for i in range(plen))
    return (
        "WITH ev AS (SELECT user_id AS k, epoch_us(ts) AS us, "
        "event_id AS eid, event_type AS t FROM events), "
        "d AS (SELECT k, us, eid, t, CASE WHEN us - LAG(us) OVER "
        f"(PARTITION BY k ORDER BY us, eid) > {SESSION_GAP_US} "
        "THEN 1 ELSE 0 END AS brk FROM ev), "
        "se AS (SELECT k, us, eid, t, SUM(brk) OVER (PARTITION BY k "
        "ORDER BY us, eid ROWS BETWEEN UNBOUNDED PRECEDING AND "
        "CURRENT ROW) AS sid FROM d), "
        f"pa AS (SELECT {leads} AS path, "
        f"LEAD(t, {plen - 1}) OVER (PARTITION BY k, sid "
        "ORDER BY us, eid) AS lastt FROM se), "
        "pc AS (SELECT path FROM pa WHERE lastt IS NOT NULL), "
        "tot AS (SELECT COUNT(*) AS n_paths FROM pc) "
        "SELECT path, COUNT(*) AS n, "
        "CAST(COUNT(*) * 10000 // MIN(n_paths) AS BIGINT) AS share_bp "
        "FROM pc CROSS JOIN tot GROUP BY path "
        f"ORDER BY n DESC, path LIMIT {k}")


def _pii_scan_sql() -> str:
    """x202 oracle — RE2 counts of the same lookaround-free
    patterns via regexp_extract_all lengths."""
    from kafana_spark.operators.text import PII_PATTERNS

    cols = ", ".join(
        "CAST(len(regexp_extract_all(text, '"
        + p.replace("'", "''") + f"')) AS BIGINT) AS n_{name}"
        for name, p in PII_PATTERNS)
    anyc = " OR ".join(
        "len(regexp_extract_all(text, '" + p.replace("'", "''")
        + "')) > 0" for _, p in PII_PATTERNS)
    return (f"SELECT doc_id, {cols}, ({anyc}) AS has_pii "
            "FROM documents ORDER BY doc_id")


def _revenue_cohorts_sql() -> str:
    """x203 oracle — x182's grid over integer-cent value."""
    wd = RETENTION_WEEK_DAYS
    return (
        "WITH e AS (SELECT user_id AS k, "
        f"epoch_us(ts) // {_US_DAY} AS day, "
        "CAST(FLOOR(COALESCE(value, 0) * 100 + 0.5) AS BIGINT) "
        "AS cents FROM events), "
        "f AS (SELECT k, MIN(day) AS d0 FROM e GROUP BY k), "
        f"cell AS (SELECT f.d0 // {wd} AS cohort_week, "
        f"(e.day - f.d0) // {wd} AS week_offset, e.cents "
        "FROM e JOIN f ON f.k = e.k), "
        "rev AS (SELECT cohort_week, week_offset, "
        "CAST(SUM(cents) AS BIGINT) AS revenue_cents FROM cell "
        "GROUP BY 1, 2), "
        "b AS (SELECT cohort_week, revenue_cents AS base_cents "
        "FROM rev WHERE week_offset = 0) "
        "SELECT rev.cohort_week, week_offset, revenue_cents, "
        "CAST(CASE WHEN base_cents > 0 THEN "
        "revenue_cents * 10000 // base_cents ELSE 0 END AS BIGINT) "
        "AS rev_bp FROM rev JOIN b USING (cohort_week) "
        "ORDER BY cohort_week, week_offset")


def _session_cooccurrence_sql() -> str:
    """x204 oracle — the x15 islands, per-session type sets, pair
    join, integer lift."""
    return (
        "WITH ev AS (SELECT user_id AS k, epoch_us(ts) AS us, "
        "event_id AS eid, event_type AS t FROM events), "
        "d AS (SELECT k, us, eid, t, CASE WHEN us - LAG(us) OVER "
        f"(PARTITION BY k ORDER BY us, eid) > {SESSION_GAP_US} "
        "THEN 1 ELSE 0 END AS brk FROM ev), "
        "se AS (SELECT k, t, SUM(brk) OVER (PARTITION BY k "
        "ORDER BY us, eid ROWS BETWEEN UNBOUNDED PRECEDING AND "
        "CURRENT ROW) AS sid FROM d), "
        "st AS (SELECT DISTINCT k, sid, t FROM se), "
        "tot AS (SELECT COUNT(*) AS n_sessions FROM "
        "(SELECT DISTINCT k, sid FROM st)), "
        "per AS (SELECT t, COUNT(*) AS nt FROM st GROUP BY t), "
        "boths AS (SELECT a.t AS type_a, b.t AS type_b, "
        "COUNT(*) AS n_both FROM st a JOIN st b "
        "ON a.k = b.k AND a.sid = b.sid AND a.t < b.t GROUP BY 1, 2) "
        "SELECT type_a, type_b, n_both, "
        "CAST(n_both * n_sessions * 10000 // (na.nt * nb.nt) "
        "AS BIGINT) AS lift_bp "
        "FROM boths JOIN per na ON na.t = type_a "
        "JOIN per nb ON nb.t = type_b CROSS JOIN tot "
        "ORDER BY type_a, type_b")


def _metric_alerts_sql() -> str:
    """x205 oracle — identical cross-multiplied integer threshold
    over the hourly grid, rule table inlined from ALERT_RULES."""
    rules = " UNION ALL ".join(
        f"SELECT '{r}' AS rule_id, '{t}' AS t, {m} AS mult_bp"
        for r, t, m in ALERT_RULES)
    return (
        "WITH ht AS (SELECT "
        f"epoch_us(ts) // {_US_HOUR} AS hour, event_type AS t, "
        "COUNT(*) AS observed FROM events GROUP BY 1, 2), "
        "nh AS (SELECT COUNT(DISTINCT hour) AS n_hours FROM ht), "
        "tot AS (SELECT t, CAST(SUM(observed) AS BIGINT) AS tot_t "
        "FROM ht GROUP BY t), "
        f"rf AS ({rules}) "
        "SELECT rf.rule_id, ht.hour, ht.t AS event_type, "
        "ht.observed, "
        "CAST(tot.tot_t * 100 // nh.n_hours AS BIGINT) AS mean_x100, "
        "CAST(rf.mult_bp AS BIGINT) AS mult_bp "
        "FROM ht JOIN rf ON rf.t = ht.t JOIN tot ON tot.t = ht.t "
        "CROSS JOIN nh "
        "WHERE ht.observed * nh.n_hours * 10000 >= "
        "tot.tot_t * rf.mult_bp "
        "ORDER BY rule_id, hour")


def _growth_accounting_sql() -> str:
    """x206 oracle — identical per-user lag classification over the
    DISTINCT (user, week) frame + week-1 self-join for churn."""
    wd_us = RETENTION_WEEK_DAYS * _US_DAY
    return (
        "WITH uw AS (SELECT DISTINCT user_id AS k, "
        f"epoch_us(ts) // {wd_us} AS week FROM events), "
        "cl AS (SELECT week, "
        "CASE WHEN prev IS NULL THEN 1 ELSE 0 END AS is_new, "
        "CASE WHEN prev = week - 1 THEN 1 ELSE 0 END AS is_ret, "
        "CASE WHEN prev < week - 1 THEN 1 ELSE 0 END AS is_res "
        "FROM (SELECT week, LAG(week) OVER (PARTITION BY k "
        "ORDER BY week) AS prev FROM uw) q), "
        "g AS (SELECT week, COUNT(*) AS n_active, "
        "CAST(SUM(is_new) AS BIGINT) AS n_new, "
        "CAST(SUM(is_ret) AS BIGINT) AS n_retained, "
        "CAST(SUM(is_res) AS BIGINT) AS n_resurrected FROM cl "
        "GROUP BY week), "
        "p AS (SELECT week + 1 AS week, n_active AS prev_active "
        "FROM g) "
        "SELECT g.week, n_active, n_new, n_retained, n_resurrected, "
        "CAST(COALESCE(prev_active, 0) - n_retained AS BIGINT) "
        "AS n_churned, "
        "CAST(CASE WHEN COALESCE(prev_active, 0) - n_retained > 0 "
        "THEN (n_new + n_resurrected) * 10000 "
        "// (COALESCE(prev_active, 0) - n_retained) ELSE 0 END "
        "AS BIGINT) AS quick_bp "
        "FROM g LEFT JOIN p ON p.week = g.week ORDER BY g.week")


def _power_user_curve_sql() -> str:
    """x207 oracle — the same histogram + top-down cumulative."""
    return (
        "WITH ud AS (SELECT DISTINCT user_id AS k, "
        f"epoch_us(ts) // {_US_DAY} AS day FROM events), "
        "per AS (SELECT k, COUNT(*) AS active_days FROM ud "
        "GROUP BY k), "
        "h AS (SELECT active_days, COUNT(*) AS n_users FROM per "
        "GROUP BY active_days) "
        "SELECT active_days, n_users, "
        "CAST(n_users * 10000 // SUM(n_users) OVER () AS BIGINT) "
        "AS share_bp, "
        "CAST(SUM(n_users) OVER (ORDER BY active_days DESC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 10000 "
        "// SUM(n_users) OVER () AS BIGINT) AS cum_share_bp "
        "FROM h ORDER BY active_days DESC")


def _last_touch_sql() -> str:
    """x208 oracle — LAST_VALUE IGNORE NULLS over the strictly-
    preceding frame in the identical (ts, event_id) total order."""
    touches = ", ".join(f"'{t}'" for t in ATTR_TOUCH_TYPES)
    lb_us = ATTR_LOOKBACK_DAYS * _US_DAY
    return (
        "WITH ev AS (SELECT user_id AS k, epoch_us(ts) AS us, "
        "event_id AS eid, event_type AS t, "
        "CAST(FLOOR(COALESCE(value, 0) * 100 + 0.5) AS BIGINT) "
        "AS cents FROM events), "
        "t2 AS (SELECT us, t, cents, "
        f"LAST_VALUE(CASE WHEN t IN ({touches}) THEN t END "
        "IGNORE NULLS) OVER win AS touch_t, "
        f"LAST_VALUE(CASE WHEN t IN ({touches}) THEN us END "
        "IGNORE NULLS) OVER win AS touch_us "
        "FROM ev WINDOW win AS (PARTITION BY k ORDER BY us, eid "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), "
        "conv AS (SELECT CASE WHEN touch_us IS NOT NULL "
        f"AND us - touch_us <= {lb_us} THEN touch_t "
        "ELSE 'direct' END AS channel, cents FROM t2 "
        f"WHERE t = '{ATTR_CONV_TYPE}'), "
        "g AS (SELECT channel, COUNT(*) AS n_conv, "
        "CAST(SUM(cents) AS BIGINT) AS revenue_cents FROM conv "
        "GROUP BY channel) "
        "SELECT channel, n_conv, revenue_cents, "
        "CAST(CASE WHEN SUM(revenue_cents) OVER () > 0 THEN "
        "revenue_cents * 10000 // SUM(revenue_cents) OVER () "
        "ELSE 0 END AS BIGINT) AS revenue_share_bp "
        "FROM g ORDER BY channel")


def _daily_sql() -> str:
    """The shared (day, c) daily-count collapse (x209/x210)."""
    return ("d AS (SELECT "
            f"epoch_us(ts) // {_US_DAY} AS day, COUNT(*) AS c "
            "FROM events GROUP BY 1)")


def _mad_anomalies_sql() -> str:
    """x209 oracle — doubled medians via quantile_cont (exactly
    integral doubles, so the BIGINT cast is exact in both engines)."""
    return (
        f"WITH {_daily_sql()}, "
        "m AS (SELECT CAST(quantile_cont(c, 0.5) * 2 AS BIGINT) "
        "AS med2 FROM d), "
        "dev AS (SELECT day, c, CAST(ABS(c * 2 - med2) AS BIGINT) "
        "AS dev2 FROM d, m), "
        "m2 AS (SELECT CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT) "
        "AS mad2 FROM dev) "
        "SELECT day, c, dev2, "
        "CAST(CASE WHEN mad2 > 0 THEN dev2 * 10000 // mad2 "
        "ELSE 0 END AS BIGINT) AS z_bp, "
        "(CASE WHEN mad2 > 0 THEN dev2 * 10000 // mad2 ELSE 0 END) "
        f"> {MAD_Z_BP} AS is_anomaly "
        "FROM dev, m2 ORDER BY day")


def _cusum_sql() -> str:
    """x210 oracle — cross-multiplied integer CUSUM, peak ties to
    the earliest day."""
    return (
        f"WITH {_daily_sql()}, "
        "s AS (SELECT day, c, "
        "SUM(c) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING "
        "AND CURRENT ROW) AS prefix, "
        "ROW_NUMBER() OVER (ORDER BY day) AS idx, "
        "SUM(c) OVER () AS tot, COUNT(*) OVER () AS nd FROM d), "
        "cs AS (SELECT day, c, "
        "CAST(nd * prefix - idx * tot AS BIGINT) AS cusum FROM s) "
        "SELECT day, c, cusum, "
        "ROW_NUMBER() OVER (ORDER BY ABS(cusum) DESC, day) = 1 "
        "AS is_peak FROM cs ORDER BY day")


def _purchase_intervals_sql() -> str:
    """x211 oracle — same lag gaps + doubled-median; the mean is
    guarded so an empty gap frame yields 0, not a div-by-zero."""
    return (
        "WITH p AS (SELECT user_id AS k, epoch_us(ts) AS us, "
        "event_id AS eid FROM events "
        f"WHERE event_type = '{ATTR_CONV_TYPE}'), "
        "gp AS (SELECT us - LAG(us) OVER (PARTITION BY k "
        "ORDER BY us, eid) AS g FROM p), "
        "gaps AS (SELECT g FROM gp WHERE g IS NOT NULL), "
        "b AS (SELECT COUNT(*) AS n_buyers, "
        "CAST(SUM(CASE WHEN n_p >= 2 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_repeat FROM (SELECT k, COUNT(*) AS n_p FROM p "
        "GROUP BY k) q), "
        "gs AS (SELECT COUNT(*) AS n_gaps, "
        "COALESCE(CAST(quantile_cont(g, 0.5) * 2 AS BIGINT), 0) "
        "AS med2_gap_us, "
        "CASE WHEN COUNT(*) > 0 THEN "
        "CAST(SUM(g) // COUNT(*) AS BIGINT) ELSE 0 END "
        "AS mean_gap_us FROM gaps) "
        "SELECT n_buyers, n_repeat, "
        "CAST(CASE WHEN n_buyers > 0 THEN n_repeat * 10000 "
        "// n_buyers ELSE 0 END AS BIGINT) AS repeat_bp, "
        "n_gaps, med2_gap_us, mean_gap_us FROM b, gs")


def _landing_bounce_sql() -> str:
    """x219 oracle — the x15 islands with the event type carried,
    landing = ROW_NUMBER 1 in the (ts, event_id) total order."""
    return (
        "WITH e AS (SELECT user_id AS k, epoch_us(ts) AS us, "
        "event_id AS eid, event_type AS t FROM events), "
        "d AS (SELECT k, us, eid, t, CASE WHEN us - LAG(us) OVER "
        "(PARTITION BY k ORDER BY us, eid) > "
        f"{SESSION_GAP_US} THEN 1 ELSE 0 END AS brk FROM e), "
        "s AS (SELECT k, us, eid, t, SUM(brk) OVER (PARTITION BY k "
        "ORDER BY us, eid ROWS BETWEEN UNBOUNDED PRECEDING AND "
        "CURRENT ROW) AS sid FROM d), "
        "fl AS (SELECT t AS landing, n_ev FROM (SELECT t, "
        "ROW_NUMBER() OVER (PARTITION BY k, sid ORDER BY us, eid) "
        "AS rn, COUNT(*) OVER (PARTITION BY k, sid) AS n_ev FROM s) "
        "q WHERE rn = 1), "
        "g AS (SELECT landing, COUNT(*) AS n_sessions, "
        "CAST(SUM(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_bounces FROM fl GROUP BY landing) "
        "SELECT landing, n_sessions, n_bounces, "
        "CAST(n_bounces * 10000 // n_sessions AS BIGINT) "
        "AS bounce_bp, "
        "CAST(n_sessions * 10000 // SUM(n_sessions) OVER () "
        "AS BIGINT) AS share_bp FROM g ORDER BY landing")


def _conversion_latency_sql() -> str:
    """x220 oracle — strictly-after first-to-first latency with the
    x211 guard discipline."""
    return (
        "WITH f AS (SELECT user_id AS k, MIN(epoch_us(ts)) AS t0 "
        f"FROM events WHERE event_type = '{CONV_FROM_TYPE}' "
        "GROUP BY 1), "
        "c AS (SELECT e.user_id AS k, MIN(epoch_us(e.ts)) AS t1, "
        "ANY_VALUE(f.t0) AS t0 FROM events e JOIN f "
        "ON f.k = e.user_id "
        f"WHERE e.event_type = '{CONV_TO_TYPE}' "
        "AND epoch_us(e.ts) > f.t0 GROUP BY 1), "
        "l AS (SELECT t1 - t0 AS lat FROM c), "
        "nf AS (SELECT COUNT(*) AS n_from FROM f), "
        "cs AS (SELECT COUNT(*) AS n_converted, "
        "COALESCE(CAST(quantile_cont(lat, 0.5) * 2 AS BIGINT), 0) "
        "AS med2_lat_us, "
        "CASE WHEN COUNT(*) > 0 THEN "
        "CAST(SUM(lat) // COUNT(*) AS BIGINT) ELSE 0 END "
        "AS mean_lat_us FROM l) "
        "SELECT n_from, n_converted, "
        "CAST(CASE WHEN n_from > 0 THEN n_converted * 10000 "
        "// n_from ELSE 0 END AS BIGINT) AS conv_bp, "
        "med2_lat_us, mean_lat_us FROM nf, cs")


def _char_entropy_sql() -> str:
    """x221 oracle — identical µunit-rounded surprise over the
    (source, char) counts; both engines round the same IEEE ln."""
    return (
        "WITH ch AS (SELECT src, unnest(string_split(text, '')) "
        "AS ch FROM (SELECT source AS src, text FROM documents) q), "
        "cc AS (SELECT src, ch, COUNT(*) AS c FROM ch GROUP BY 1, 2), "
        "tot AS (SELECT src, CAST(SUM(c) AS BIGINT) AS tot FROM cc "
        "GROUP BY src), "
        "per AS (SELECT cc.src, c, tot, "
        "CAST(ROUND(-1000000.0 * LN(CAST(c AS DOUBLE) / tot)) "
        "AS BIGINT) AS s_u FROM cc JOIN tot ON tot.src = cc.src) "
        "SELECT src AS source, ANY_VALUE(tot) AS n_chars, "
        "COUNT(*) AS n_distinct, "
        "CAST(SUM(c * s_u) // ANY_VALUE(tot) AS BIGINT) AS h_nat_u "
        "FROM per GROUP BY src ORDER BY source")


def _mutual_deg_ctes() -> str:
    """Shared x212/x213/x214 oracle tail over the x149 chain: mutual
    a<b edges, both-direction edges, per-vertex degree."""
    return (
        f"g AS (SELECT qid, vec_id FROM ranked WHERE rank <= {KNN_K}), "
        "mu AS (SELECT ab.qid AS a, ab.vec_id AS b FROM g ab "
        "JOIN g ba ON ba.qid = ab.vec_id AND ba.vec_id = ab.qid "
        "WHERE ab.qid < ab.vec_id), "
        "ed AS (SELECT a, b FROM mu "
        "UNION ALL SELECT b AS a, a AS b FROM mu), "
        "deg AS (SELECT a, COUNT(*) AS deg FROM ed GROUP BY a)")


def _pagerank_sql() -> str:
    """x212 oracle — the identical unrolled integer µunit walk
    (truncating // on nonnegative operands matches Spark's div)."""
    tele = (10000 - PR_DAMP_BP) * 1_000_000 // 10000
    ctes = ["p0 AS (SELECT a AS vec_id, deg, "
            "CAST(1000000 AS BIGINT) AS pr FROM deg)"]
    for t in range(1, PR_ITERS + 1):
        ctes.append(
            f"s{t} AS (SELECT e.b AS vec_id, SUM(p.pr // p.deg) AS s "
            f"FROM ed e JOIN p{t - 1} p ON p.vec_id = e.a "
            "GROUP BY e.b)")
        ctes.append(
            f"p{t} AS (SELECT d.a AS vec_id, d.deg, "
            f"CAST({tele} + {PR_DAMP_BP} * COALESCE(s.s, 0) // 10000 "
            f"AS BIGINT) AS pr FROM deg d LEFT JOIN s{t} s "
            "ON s.vec_id = d.a)")
    return (
        f"WITH {_knn_chain_ctes()}, {_mutual_deg_ctes()}, "
        + ", ".join(ctes)
        + " SELECT vec_id, deg, pr, rank FROM "
        "(SELECT vec_id, CAST(deg AS BIGINT) AS deg, pr, "
        "CAST(ROW_NUMBER() OVER (ORDER BY pr DESC, vec_id) "
        f"AS INTEGER) AS rank FROM p{PR_ITERS}) q "
        f"WHERE rank <= {PR_TOP_K} ORDER BY rank")


def _graph_triangles_sql() -> str:
    """x213 oracle — canonical-edge wedge join + closing-edge check
    (a<b<c once each)."""
    return (
        f"WITH {_knn_chain_ctes()}, {_mutual_deg_ctes()}, "
        "nb AS (SELECT COUNT(*) AS n_edges FROM mu), "
        "nv AS (SELECT COUNT(*) AS n_vertices, "
        "CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges "
        "FROM deg), "
        "tr AS (SELECT COUNT(*) AS n_triangles FROM mu e1 "
        "JOIN mu e2 ON e2.a = e1.b "
        "JOIN mu e3 ON e3.a = e1.a AND e3.b = e2.b) "
        "SELECT n_vertices, n_edges, n_wedges, n_triangles, "
        "CAST(CASE WHEN n_wedges > 0 THEN "
        "3 * n_triangles * 10000 // n_wedges ELSE 0 END AS BIGINT) "
        "AS global_cc_bp FROM nv, nb, tr")


def _degree_histogram_sql() -> str:
    """x214 oracle — degree histogram with vertex shares."""
    return (
        f"WITH {_knn_chain_ctes()}, {_mutual_deg_ctes()}, "
        "h AS (SELECT deg, COUNT(*) AS n_vertices FROM deg "
        "GROUP BY deg) "
        "SELECT CAST(deg AS BIGINT) AS deg, n_vertices, "
        "CAST(n_vertices * 10000 // SUM(n_vertices) OVER () "
        "AS BIGINT) AS share_bp FROM h ORDER BY deg")


def _lexical_diversity_sql() -> str:
    """x216 oracle — identical (source, token) collapse + rollup."""
    return (
        "WITH tk AS (SELECT src, unnest(t) AS token FROM "
        f"(SELECT source AS src, {_TOKS} AS t FROM documents) q), "
        "d AS (SELECT source AS src, COUNT(*) AS n_docs "
        "FROM documents GROUP BY 1), "
        "tc AS (SELECT src, token, COUNT(*) AS c FROM tk "
        "GROUP BY 1, 2), "
        "per AS (SELECT src, CAST(SUM(c) AS BIGINT) AS n_tokens, "
        "COUNT(*) AS n_distinct, "
        "CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_hapax FROM tc GROUP BY src) "
        "SELECT d.src AS source, d.n_docs, per.n_tokens, "
        "per.n_distinct, "
        "CAST(n_distinct * 10000 // n_tokens AS BIGINT) AS ttr_bp, "
        "CAST(n_hapax * 10000 // n_distinct AS BIGINT) AS hapax_bp "
        "FROM d JOIN per ON per.src = d.src ORDER BY source")


def _cell_modularity_sql() -> str:
    """x217 oracle — same edge labeling over the chain's primary
    assignment; the final Q is floor-on-the-identical-double."""
    return (
        f"WITH {_knn_chain_ctes()}, {_mutual_deg_ctes()}, "
        "lab AS (SELECT la.cid AS ca, lb.cid AS cb FROM mu "
        "JOIN asg la ON la.vec_id = mu.a "
        "JOIN asg lb ON lb.vec_id = mu.b), "
        "ec AS (SELECT ca AS cid, COUNT(*) AS e_c FROM lab "
        "WHERE ca = cb GROUP BY ca), "
        "dc AS (SELECT a2.cid, COUNT(*) AS d_c FROM ed "
        "JOIN asg a2 ON a2.vec_id = ed.a GROUP BY a2.cid), "
        "st AS (SELECT dc.cid, COALESCE(ec.e_c, 0) AS e_c, dc.d_c "
        "FROM dc LEFT JOIN ec ON ec.cid = dc.cid), "
        "ag AS (SELECT COUNT(*) AS n_cells, "
        "CAST(SUM(e_c) AS BIGINT) AS sum_ec, "
        "CAST(SUM(d_c * d_c) AS BIGINT) AS sum_dc2 FROM st), "
        "mm AS (SELECT COUNT(*) AS m_edges FROM mu) "
        "SELECT n_cells, m_edges, "
        "CAST(sum_ec * 10000 // m_edges AS BIGINT) AS intra_bp, "
        "CAST(FLOOR(10000.0 * (4 * m_edges * sum_ec - sum_dc2) "
        "/ (4.0 * m_edges * m_edges)) AS BIGINT) AS q_bp "
        "FROM ag, mm")


def _ppr_sql() -> str:
    """x218 oracle — the x212 walk with seed-only teleport/init."""
    tele = (10000 - PR_DAMP_BP) * 1_000_000 // 10000
    ctes = [
        "p0 AS (SELECT a AS vec_id, deg, "
        f"a % {PPR_SEED_MOD} = 0 AS is_seed, "
        f"CAST(CASE WHEN a % {PPR_SEED_MOD} = 0 THEN 1000000 "
        "ELSE 0 END AS BIGINT) AS pr FROM deg)"]
    for t in range(1, PR_ITERS + 1):
        ctes.append(
            f"s{t} AS (SELECT e.b AS vec_id, SUM(p.pr // p.deg) AS s "
            f"FROM ed e JOIN p{t - 1} p ON p.vec_id = e.a "
            "GROUP BY e.b)")
        ctes.append(
            f"p{t} AS (SELECT d.a AS vec_id, d.deg, "
            f"d.a % {PPR_SEED_MOD} = 0 AS is_seed, "
            f"CAST(CASE WHEN d.a % {PPR_SEED_MOD} = 0 THEN {tele} "
            f"ELSE 0 END + {PR_DAMP_BP} * COALESCE(s.s, 0) // 10000 "
            f"AS BIGINT) AS pr FROM deg d LEFT JOIN s{t} s "
            "ON s.vec_id = d.a)")
    return (
        f"WITH {_knn_chain_ctes()}, {_mutual_deg_ctes()}, "
        + ", ".join(ctes)
        + " SELECT vec_id, deg, is_seed, pr, rank FROM "
        "(SELECT vec_id, CAST(deg AS BIGINT) AS deg, is_seed, pr, "
        "CAST(ROW_NUMBER() OVER (ORDER BY pr DESC, vec_id) "
        f"AS INTEGER) AS rank FROM p{PR_ITERS}) q "
        f"WHERE rank <= {PR_TOP_K} ORDER BY rank")


def _rocchio_sql() -> str:
    """x188 oracle — µunit centroids via sign-safe truncating
    division (DuckDB // truncates toward zero; the Spark side mirrors
    with sign·(abs div n)), bigint dot scores, argmax with (score
    DESC, label ASC) ties."""
    return (
        "WITH xu AS (SELECT vec_id, label, "
        "list_transform(CAST(embedding AS DOUBLE[]), "
        "x -> CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS u "
        "FROM embeddings), "
        f"tr AS (SELECT * FROM xu WHERE vec_id % {ROCCHIO_TRAIN_MOD} "
        "!= 0), "
        f"te AS (SELECT * FROM xu WHERE vec_id % {ROCCHIO_TRAIN_MOD} "
        "= 0), "
        "ex AS (SELECT label, i AS pos, u[i] AS v FROM tr, "
        f"generate_series(1, {EMB_DIM}) gs(i)), "
        "ct AS (SELECT label AS cand, pos, "
        "CASE WHEN SUM(v) >= 0 THEN CAST(SUM(v) // COUNT(*) AS BIGINT) "
        "ELSE CAST(-((-SUM(v)) // COUNT(*)) AS BIGINT) END AS c "
        "FROM ex GROUP BY 1, 2), "
        "sc AS (SELECT t.vec_id, t.label AS true_label, ct.cand, "
        "SUM(t.u[ct.pos] * ct.c) AS score FROM te t JOIN ct ON TRUE "
        "GROUP BY 1, 2, 3), "
        "p AS (SELECT vec_id, true_label, cand, ROW_NUMBER() OVER "
        "(PARTITION BY vec_id ORDER BY score DESC, cand ASC) AS rn "
        "FROM sc) "
        "SELECT true_label, cand AS pred_label, COUNT(*) AS n FROM p "
        "WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2")



def _ab_test_sql() -> str:
    """x225 oracle — identical per-user collapse + single-row
    conditional aggregate; z is floor-on-double over exact integers
    with the identical expression shape (the x190 discipline)."""
    z = ("FLOOR(10000.0 * CAST(conv_b * n_a - conv_a * n_b AS DOUBLE) "
         "/ CAST(n_a * n_b AS DOUBLE) / sqrt("
         "CAST((conv_a + conv_b) * "
         "((n_a + n_b) - (conv_a + conv_b)) AS DOUBLE) "
         "/ CAST((n_a + n_b) * n_a * n_b AS DOUBLE)))")
    guard = ("n_a > 0 AND n_b > 0 AND (conv_a + conv_b) > 0 "
             "AND (conv_a + conv_b) < (n_a + n_b)")
    return (
        "WITH u AS (SELECT user_id % 2 AS v, "
        f"MAX(CASE WHEN event_type = '{ABT_CONV_TYPE}' THEN 1 "
        "ELSE 0 END) AS conv, "
        f"CAST(SUM(CASE WHEN event_type = '{ABT_CONV_TYPE}' THEN "
        "CAST(FLOOR(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) "
        "AS rev FROM events GROUP BY user_id), "
        "s AS (SELECT "
        "CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a, "
        "CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b, "
        "CAST(SUM(CASE WHEN v = 0 THEN conv ELSE 0 END) AS BIGINT) "
        "AS conv_a, "
        "CAST(SUM(CASE WHEN v = 1 THEN conv ELSE 0 END) AS BIGINT) "
        "AS conv_b, "
        "CAST(SUM(CASE WHEN v = 0 THEN rev ELSE 0 END) AS BIGINT) "
        "AS rev_a_cents, "
        "CAST(SUM(CASE WHEN v = 1 THEN rev ELSE 0 END) AS BIGINT) "
        "AS rev_b_cents FROM u) "
        "SELECT n_a, n_b, conv_a, conv_b, "
        "CAST(CASE WHEN n_a > 0 THEN conv_a * 10000 // n_a ELSE 0 END "
        "AS BIGINT) AS conv_a_bp, "
        "CAST(CASE WHEN n_b > 0 THEN conv_b * 10000 // n_b ELSE 0 END "
        "AS BIGINT) AS conv_b_bp, "
        "CAST((CASE WHEN n_b > 0 THEN conv_b * 10000 // n_b ELSE 0 END) "
        "- (CASE WHEN n_a > 0 THEN conv_a * 10000 // n_a ELSE 0 END) "
        "AS BIGINT) AS lift_bp, "
        "rev_a_cents, rev_b_cents, "
        f"CAST(CASE WHEN {guard} THEN {z} ELSE 0 END AS BIGINT) AS z_bp "
        "FROM s")


def _pmi_collocations_sql() -> str:
    """x226 oracle — identical count chain; every ln() input is an
    integer count so the doubles agree; one µnat round."""
    pmi = ("CAST(ROUND((ln(c.n_ab) + 2.0 * ln(t1) - ln(t2) "
           "- ln(a.n) - ln(b.n)) * 1000000.0) AS BIGINT)")
    return (
        f"WITH dt AS (SELECT {_TOKS} AS t FROM documents), "
        "u1 AS (SELECT w, COUNT(*) AS n FROM "
        "(SELECT unnest(t) AS w FROM dt) q GROUP BY w), "
        "tt1 AS (SELECT CAST(SUM(n) AS BIGINT) AS t1 FROM u1), "
        "b2 AS (SELECT w1, w2, COUNT(*) AS n_ab FROM "
        "(SELECT t[i] AS w1, t[i + 1] AS w2 FROM dt, "
        f"generate_series(1, {ORACLE_MAX_TOKENS}) g(i) "
        "WHERE i + 1 <= len(t)) q GROUP BY 1, 2), "
        "tt2 AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS t2 FROM b2), "
        "sc AS (SELECT c.w1, c.w2, CAST(c.n_ab AS BIGINT) AS n_ab, "
        f"{pmi} AS pmi_u FROM b2 c "
        "JOIN u1 a ON a.w = c.w1 JOIN u1 b ON b.w = c.w2, tt1, tt2 "
        f"WHERE c.n_ab >= {PMI_MIN_COUNT}) "
        "SELECT w1, w2, n_ab, pmi_u, rank FROM "
        "(SELECT w1, w2, n_ab, pmi_u, CAST(ROW_NUMBER() OVER "
        "(ORDER BY pmi_u DESC, w1, w2) AS INTEGER) AS rank FROM sc) q "
        f"WHERE rank <= {PMI_TOP_K} ORDER BY rank")


def _ewma_sql() -> str:
    """x227/x231 oracle — identical integer weight table (decay 3/4
    scaled by 4^(W-1)) joined on the day index, full-window gated."""
    weights = ev_ops.ewma_weights(EWMA_WINDOW)
    den = sum(weights)
    vals = ", ".join(f"({k + 1}, {w})" for k, w in enumerate(weights))
    dev = (f"CAST(CASE WHEN num > 0 THEN c * {den} * 10000 // num "
           "ELSE 0 END AS BIGINT)")
    return (
        f"WITH {_DAILY_CTE}, "
        f"wt(lk, w) AS (VALUES {vals}), "
        "j AS (SELECT a.day AS day, a.c AS c, COUNT(*) AS n, "
        "CAST(SUM(wt.w * b.c) AS BIGINT) AS num "
        "FROM d a JOIN wt ON TRUE "
        "JOIN d b ON b.day = a.day - wt.lk GROUP BY 1, 2), "
        "f AS (SELECT day, c, "
        f"CAST(num // {den} AS BIGINT) AS ewma_c, {dev} AS dev_bp "
        f"FROM j WHERE n = {EWMA_WINDOW}) "
        "SELECT day, c, ewma_c, dev_bp, "
        f"(dev_bp >= {EWMA_HI_BP} OR dev_bp <= {EWMA_LO_BP}) AS flag "
        "FROM f ORDER BY day")


def _link_prediction_sql() -> str:
    """x228 oracle — common-neighbour enumeration over the directed
    edge frame, existing edges anti-joined out, integer RA µunits."""
    return (
        f"WITH {_knn_chain_ctes()}, {_mutual_deg_ctes()}, "
        "cn AS (SELECT e1.b AS pa, e2.b AS pb, e1.a AS m FROM ed e1 "
        "JOIN ed e2 ON e2.a = e1.a AND e1.b < e2.b), "
        "op AS (SELECT pa, pb, m FROM cn WHERE NOT EXISTS "
        "(SELECT 1 FROM mu WHERE mu.a = cn.pa AND mu.b = cn.pb)), "
        "sc AS (SELECT pa, pb, COUNT(*) AS n_common, "
        "CAST(SUM(1000000 // dg.deg) AS BIGINT) AS ra_u "
        "FROM op JOIN deg dg ON dg.a = op.m GROUP BY 1, 2) "
        "SELECT pa AS a, pb AS b, n_common, ra_u, rank FROM "
        "(SELECT pa, pb, n_common, ra_u, CAST(ROW_NUMBER() OVER "
        "(ORDER BY ra_u DESC, n_common DESC, pa, pb) AS INTEGER) "
        "AS rank FROM sc) q "
        f"WHERE rank <= {LP_TOP_K} ORDER BY rank")


def _markov_backtest_sql() -> str:
    """x229 oracle — the x184 LEAD chain split train/test; argmax
    prediction by (n DESC, dst) rank over the |types|^2 table."""
    m, t = MKV_TEST_MOD, MKV_TEST_MOD - 1
    return (
        "WITH ev AS (SELECT user_id AS k, epoch_us(ts) AS us, "
        "event_id AS eid, event_type AS src FROM events), "
        "p AS (SELECT k, src, LEAD(src) OVER (PARTITION BY k "
        "ORDER BY us, eid) AS dst FROM ev), "
        "pp AS (SELECT k, src, dst FROM p WHERE dst IS NOT NULL), "
        f"tr AS (SELECT src, dst, COUNT(*) AS n FROM pp "
        f"WHERE k % {m} != {t} GROUP BY 1, 2), "
        "pr AS (SELECT src, dst AS predicted FROM "
        "(SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src "
        "ORDER BY n DESC, dst) AS rn FROM tr) q WHERE rn = 1) "
        "SELECT t.src AS src, pr.predicted, COUNT(*) AS n_test, "
        "CAST(SUM(CASE WHEN t.dst = pr.predicted THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_correct, "
        "CAST(SUM(CASE WHEN t.dst = pr.predicted THEN 1 ELSE 0 END) "
        "* 10000 // COUNT(*) AS BIGINT) AS acc_bp "
        f"FROM pp t JOIN pr ON pr.src = t.src WHERE t.k % {m} = {t} "
        "GROUP BY 1, 2 ORDER BY t.src")


def _layout_advisor_sql() -> str:
    """x230 oracle — identical block/value distinct counts and ideal
    ceil-division block spans."""
    B = LAYOUT_BLOCK
    return (
        f"WITH b AS (SELECT event_id // {B} AS blk, "
        "epoch_us(ts) // 86400000000 AS day, user_id, event_type "
        "FROM events), "
        "nv AS (SELECT blk, 'day' AS cname, CAST(day AS VARCHAR) "
        "AS val FROM b UNION ALL "
        "SELECT blk, 'user_id', CAST(user_id AS VARCHAR) FROM b "
        "UNION ALL SELECT blk, 'event_type', event_type FROM b), "
        "pv AS (SELECT cname, val, COUNT(*) AS n_rows, "
        "COUNT(DISTINCT blk) AS vblk FROM nv GROUP BY 1, 2), "
        "nb AS (SELECT COUNT(DISTINCT blk) AS n_blocks FROM b), "
        "per AS (SELECT cname, COUNT(*) AS n_vals, "
        "CAST(SUM(vblk) AS BIGINT) AS val_blocks, "
        f"CAST(SUM((n_rows + {B - 1}) // {B}) AS BIGINT) "
        "AS ideal_blocks FROM pv GROUP BY 1) "
        "SELECT cname AS col_name, n_vals, n_blocks, val_blocks, "
        "ideal_blocks, "
        "CAST(val_blocks * 10000 // ideal_blocks AS BIGINT) "
        "AS cluster_bp, "
        "CAST(val_blocks * 10000 // (n_vals * n_blocks) AS BIGINT) "
        "AS scan_share_bp "
        "FROM per, nb ORDER BY col_name")



def _column_stats_sql() -> str:
    """x232 oracle — identical (field, value) explode, distinct-value
    cumulative quantile rule (ceil via (q*nn+99)//100)."""
    pcols = ", ".join(
        f"MIN(CASE WHEN cum >= ({q} * nn + 99) // 100 THEN val END) "
        f"AS p{q}" for q in (25, 50, 75))
    return (
        "WITH eb AS (SELECT event_id, user_id, "
        "CAST(FLOOR(value * 100) AS BIGINT) AS vc, "
        "epoch_us(ts) // 86400000000 AS day FROM events), "
        "nv AS (SELECT 'event_id' AS fname, event_id AS val FROM eb "
        "UNION ALL SELECT 'user_id', user_id FROM eb "
        "UNION ALL SELECT 'value_cents', vc FROM eb "
        "UNION ALL SELECT 'day', day FROM eb), "
        "base AS (SELECT fname, COUNT(*) AS n, "
        "CAST(SUM(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_null FROM nv GROUP BY 1), "
        "pv AS (SELECT fname, val, COUNT(*) AS cnt FROM nv "
        "WHERE val IS NOT NULL GROUP BY 1, 2), "
        "a1 AS (SELECT fname, COUNT(*) AS ndv, MIN(val) AS min_v, "
        "MAX(val) AS max_v FROM pv GROUP BY 1), "
        "cm AS (SELECT fname, val, CAST(SUM(cnt) OVER "
        "(PARTITION BY fname ORDER BY val) AS BIGINT) AS cum FROM pv "
        "WHERE fname IN ('user_id', 'value_cents', 'day')), "
        "nn AS (SELECT fname, n - n_null AS nn FROM base), "
        f"pc AS (SELECT cm.fname, {pcols} FROM cm "
        "JOIN nn ON nn.fname = cm.fname GROUP BY cm.fname) "
        "SELECT base.fname AS field, base.n, base.n_null, a1.ndv, "
        "a1.min_v, a1.max_v, pc.p25, pc.p50, pc.p75 "
        "FROM base JOIN a1 ON a1.fname = base.fname "
        "LEFT JOIN pc ON pc.fname = base.fname ORDER BY field")


def _variant_funnel_sql() -> str:
    """x233 oracle — the shared stage chain counted per user_id % 2
    arm, conversions windowed within the arm."""
    ctes = _funnel_stage_ctes()
    union = " UNION ALL ".join(
        f"SELECT k % 2 AS variant, {i} AS step_idx, '{s}' AS step, "
        f"COUNT(*) AS n_users FROM s{i} GROUP BY k % 2"
        for i, s in enumerate(FUNNEL_STEPS))
    return (
        "WITH " + ", ".join(ctes) + ", "
        f"f AS ({union}), "
        "w AS (SELECT variant, step_idx, step, n_users, "
        "LAG(n_users) OVER (PARTITION BY variant ORDER BY step_idx) "
        "AS prev_n, "
        "FIRST_VALUE(n_users) OVER (PARTITION BY variant "
        "ORDER BY step_idx) AS first_n FROM f) "
        "SELECT variant, step_idx, step, n_users, "
        "CAST(CASE WHEN prev_n IS NULL THEN 10000 WHEN prev_n > 0 "
        "THEN n_users * 10000 // prev_n ELSE 0 END AS BIGINT) "
        "AS conv_prev_bp, "
        "CAST(CASE WHEN step_idx = 0 THEN 10000 WHEN first_n > 0 "
        "THEN n_users * 10000 // first_n ELSE 0 END AS BIGINT) "
        "AS conv_first_bp FROM w ORDER BY variant, step_idx")


def _latency_cdf_sql() -> str:
    """x234 oracle — identical strictly-after latency chain and CASE
    bucket grid."""
    edges = ev_ops.LATENCY_EDGES_S
    labels = ev_ops.LATENCY_LABELS
    bucket = "CASE " + " ".join(
        f"WHEN lat < {e * 1_000_000} THEN {i}"
        for i, e in enumerate(edges)) + f" ELSE {len(edges)} END"
    lab = "CASE bucket_idx " + " ".join(
        f"WHEN {i} THEN '{s}'" for i, s in enumerate(labels)) + " END"
    return (
        "WITH ff AS (SELECT user_id AS k, MIN(epoch_us(ts)) AS t0 "
        f"FROM events WHERE event_type = '{CONV_FROM_TYPE}' "
        "GROUP BY user_id), "
        "cv AS (SELECT e.user_id AS k, MIN(epoch_us(e.ts)) AS t1, "
        "MIN(ff.t0) AS t0 FROM events e "
        f"JOIN ff ON ff.k = e.user_id AND e.event_type = "
        f"'{CONV_TO_TYPE}' AND epoch_us(e.ts) > ff.t0 "
        "GROUP BY e.user_id), "
        "lt AS (SELECT t1 - t0 AS lat FROM cv), "
        f"g AS (SELECT CAST({bucket} AS INT) AS bucket_idx, "
        "COUNT(*) AS n FROM lt GROUP BY 1), "
        "t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM g), "
        "c AS (SELECT bucket_idx, n, CAST(SUM(n) OVER "
        "(ORDER BY bucket_idx) AS BIGINT) AS cum_n FROM g) "
        f"SELECT bucket_idx, {lab} AS bucket, n, cum_n, "
        "CAST(n * 10000 // tot AS BIGINT) AS share_bp, "
        "CAST(cum_n * 10000 // tot AS BIGINT) AS cum_bp "
        "FROM c, t ORDER BY bucket_idx")



def _stl_ctes(p: str) -> str:
    """STL-lite CTE chain (prefix ``p``) over the daily frame ``d``,
    ending in ``{p}f(day, c, t7, s7, e7, z_bp)`` — shared by the x235
    oracle and the x236 ensemble."""
    return (
        f"{p}o AS (SELECT CAST(i AS BIGINT) AS off "
        "FROM generate_series(-3, 3) g(i)), "
        f"{p}t AS (SELECT a.day AS day, a.c AS c, COUNT(*) AS n, "
        f"CAST(SUM(b.c) AS BIGINT) AS t7 FROM d a JOIN {p}o ON TRUE "
        f"JOIN d b ON b.day = a.day + {p}o.off GROUP BY 1, 2), "
        f"{p}r AS (SELECT day, c, t7, 7 * c - t7 AS r7 FROM {p}t "
        "WHERE n = 7), "
        f"{p}s AS (SELECT day % 7 AS dow, "
        f"CAST(SUM(r7) // COUNT(*) AS BIGINT) AS s7 FROM {p}r "
        "GROUP BY 1), "
        f"{p}e AS (SELECT r.day, r.c, r.t7, s.s7, "
        f"CAST(r.r7 - s.s7 AS BIGINT) AS e7 FROM {p}r r "
        f"JOIN {p}s s ON s.dow = r.day % 7), "
        f"{p}m AS (SELECT CAST(quantile_cont(e7, 0.5) * 2 AS BIGINT) "
        f"AS med2 FROM {p}e), "
        f"{p}d AS (SELECT day, c, t7, s7, e7, "
        f"CAST(ABS(e7 * 2 - med2) AS BIGINT) AS dev2 FROM {p}e, {p}m), "
        f"{p}m2 AS (SELECT CAST(quantile_cont(dev2, 0.5) * 2 "
        f"AS BIGINT) AS mad2 FROM {p}d), "
        f"{p}f AS (SELECT day, c, t7, s7, e7, "
        "CAST(CASE WHEN mad2 > 0 THEN dev2 * 10000 // mad2 ELSE 0 END "
        f"AS BIGINT) AS z_bp FROM {p}d, {p}m2)")


def _stl_anomalies_sql() -> str:
    """x235 oracle — identical 7x-unit decomposition + doubled-median
    MAD on the residual (truncating // negative-parity with div)."""
    return (
        f"WITH {_daily_sql()}, {_stl_ctes('st')} "
        "SELECT day, c, t7, s7, e7, z_bp, "
        f"z_bp > {STL_Z_BP} AS is_anomaly FROM stf ORDER BY day")


def _anomaly_ensemble_sql() -> str:
    """x236 oracle — the x209/x227/x235 chains composed (suffixed
    CTEs), unscored days coalesced to not-flagged."""
    weights = ev_ops.ewma_weights(EWMA_WINDOW)
    den = sum(weights)
    vals = ", ".join(f"({k + 1}, {w})" for k, w in enumerate(weights))
    return (
        f"WITH {_daily_sql()}, "
        "am AS (SELECT CAST(quantile_cont(c, 0.5) * 2 AS BIGINT) "
        "AS med2 FROM d), "
        "ad AS (SELECT day, CAST(ABS(c * 2 - med2) AS BIGINT) "
        "AS dev2 FROM d, am), "
        "am2 AS (SELECT CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT) "
        "AS mad2 FROM ad), "
        "af AS (SELECT day, (CASE WHEN mad2 > 0 THEN "
        f"dev2 * 10000 // mad2 ELSE 0 END) > {ENS_MAD_Z_BP} AS mad_flag "
        "FROM ad, am2), "
        f"wt(lk, w) AS (VALUES {vals}), "
        "ej AS (SELECT a.day AS day, a.c AS c, COUNT(*) AS n, "
        "CAST(SUM(wt.w * b.c) AS BIGINT) AS num FROM d a "
        "JOIN wt ON TRUE JOIN d b ON b.day = a.day - wt.lk "
        "GROUP BY 1, 2), "
        "ef AS (SELECT day, (CAST(CASE WHEN num > 0 THEN "
        f"c * {den} * 10000 // num ELSE 0 END AS BIGINT) "
        f">= {ENS_EWMA_HI_BP} OR CAST(CASE WHEN num > 0 THEN "
        f"c * {den} * 10000 // num ELSE 0 END AS BIGINT) "
        f"<= {ENS_EWMA_LO_BP}) AS ewma_flag FROM ej "
        f"WHERE n = {EWMA_WINDOW}), "
        f"{_stl_ctes('st')}, "
        f"sg AS (SELECT day, z_bp > {ENS_STL_Z_BP} AS stl_flag FROM stf) "
        "SELECT day, c, mad_flag, ewma_flag, stl_flag, n_methods "
        "FROM (SELECT d.day, d.c, "
        "COALESCE(af.mad_flag, FALSE) AS mad_flag, "
        "COALESCE(ef.ewma_flag, FALSE) AS ewma_flag, "
        "COALESCE(sg.stl_flag, FALSE) AS stl_flag, "
        "CAST(COALESCE(af.mad_flag, FALSE) AS INT) "
        "+ CAST(COALESCE(ef.ewma_flag, FALSE) AS INT) "
        "+ CAST(COALESCE(sg.stl_flag, FALSE) AS INT) AS n_methods "
        "FROM d LEFT JOIN af ON af.day = d.day "
        "LEFT JOIN ef ON ef.day = d.day "
        "LEFT JOIN sg ON sg.day = d.day) q "
        "WHERE n_methods >= 1 ORDER BY day")


def _langid_confusion_sql() -> str:
    """x237 oracle — the shared x10 prediction core joined to labels,
    row-normalized per actual language."""
    return (
        f"WITH {_lang_id_core_sql()}, "
        "cf AS (SELECT dd.lang, p.pred_lang, COUNT(*) AS n "
        "FROM documents dd JOIN lpred p ON p.doc_id = dd.doc_id "
        "GROUP BY 1, 2) "
        "SELECT lang, pred_lang, n, "
        "CAST(n * 10000 // SUM(n) OVER (PARTITION BY lang) AS BIGINT) "
        "AS share_bp FROM cf ORDER BY lang, pred_lang")



def _doc_metric_corr_sql() -> str:
    """x238 oracle — identical integer moments; floor-on-double only
    at the final sqrt/divide (the x190 discipline)."""
    def one(x: str, y: str, n1: str, n2: str) -> str:
        num = f"(n * s_{x}{y} - s_{x} * s_{y})"
        d1 = f"(n * s_{x}{x} - s_{x} * s_{x})"
        d2 = f"(n * s_{y}{y} - s_{y} * s_{y})"
        return (
            f"SELECT '{n1}' AS m1, '{n2}' AS m2, n, "
            f"CAST(CASE WHEN {d1} > 0 AND {d2} > 0 THEN "
            f"FLOOR(10000.0 * CAST({num} AS DOUBLE) / "
            f"sqrt(CAST({d1} AS DOUBLE) * CAST({d2} AS DOUBLE))) "
            "ELSE 0 END AS BIGINT) AS r_bp FROM s")

    sums = ", ".join(
        [f"CAST(SUM({x}) AS BIGINT) AS s_{x}" for x in "abc"]
        + [f"CAST(SUM({x} * {y}) AS BIGINT) AS s_{x}{y}"
           for x, y in ("aa", "bb", "cc", "ab", "ac", "bc")])
    return (
        "WITH mm AS (SELECT n_chars AS a, "
        f"len({_TOKS}) AS b, len(list_distinct({_TOKS})) AS c "
        "FROM documents), "
        f"s AS (SELECT COUNT(*) AS n, {sums} FROM mm) "
        + one("a", "b", "n_chars", "n_tokens") + " UNION ALL "
        + one("a", "c", "n_chars", "n_distinct") + " UNION ALL "
        + one("b", "c", "n_tokens", "n_distinct")
        + " ORDER BY m1, m2")


def _dow_hour_heatmap_sql() -> str:
    """x239 oracle — identical integer bucketing and shares."""
    return (
        "WITH cell AS (SELECT epoch_us(ts) // 86400000000 % 7 AS dow, "
        "epoch_us(ts) // 3600000000 % 24 AS hour FROM events), "
        "g AS (SELECT dow, hour, COUNT(*) AS n FROM cell "
        "GROUP BY 1, 2), "
        "t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM g) "
        "SELECT dow, hour, n, "
        "CAST(n * 10000 // tot AS BIGINT) AS share_bp "
        "FROM g, t ORDER BY dow, hour")


# ------------------------------------------- relational OLAP oracles
#: The identical double expressions as the Spark plans — left-to-right
#: IEEE products, floored once to integer cents, summed as integers
#: (every DuckDB SUM re-cast from HUGEINT to BIGINT).
_O_REV = ("CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) "
          "AS BIGINT)")
_O_CHARGE = ("CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * "
             "(1.0 + l_tax) * 100 + 0.5) AS BIGINT)")


def _pricing_summary_sql() -> str:
    return (
        "WITH r AS (SELECT l_returnflag, l_linestatus, "
        "CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) AS qc, "
        "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS bc, "
        f"{_O_REV} AS dc, {_O_CHARGE} AS cc, "
        "CAST(FLOOR(l_discount * 10000 + 0.5) AS BIGINT) AS db "
        f"FROM lineitem WHERE l_shipdate <= TIMESTAMP '{TPCH_Q1_CUTOFF}'), "
        "a AS (SELECT l_returnflag, l_linestatus, "
        "CAST(SUM(qc) AS BIGINT) AS sum_qty_c, "
        "CAST(SUM(bc) AS BIGINT) AS sum_base_cents, "
        "CAST(SUM(dc) AS BIGINT) AS sum_disc_cents, "
        "CAST(SUM(cc) AS BIGINT) AS sum_charge_cents, "
        "CAST(SUM(db) AS BIGINT) AS sdb, "
        "CAST(COUNT(*) AS BIGINT) AS count_order FROM r GROUP BY 1, 2) "
        "SELECT l_returnflag, l_linestatus, sum_qty_c, sum_base_cents, "
        "sum_disc_cents, sum_charge_cents, "
        "sum_qty_c // count_order AS avg_qty_c, "
        "sum_base_cents // count_order AS avg_price_c, "
        "sdb // count_order AS avg_disc_bp, count_order "
        "FROM a ORDER BY 1, 2")


def _top_revenue_orders_sql() -> str:
    return (
        "WITH o AS (SELECT o_orderkey, o_orderdate FROM orders "
        "JOIN customer ON o_custkey = c_custkey "
        f"WHERE c_mktsegment = '{TPCH_Q3_SEGMENT}' "
        f"AND o_orderdate < TIMESTAMP '{TPCH_Q3_CUT}') "
        "SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, "
        f"CAST(SUM({_O_REV}) AS BIGINT) AS revenue_cents, "
        "CAST(COUNT(*) AS BIGINT) AS n_lines "
        "FROM lineitem JOIN o ON l_orderkey = o_orderkey "
        f"WHERE l_shipdate > TIMESTAMP '{TPCH_Q3_CUT}' "
        "GROUP BY o_orderkey, o_orderdate "
        "ORDER BY revenue_cents DESC, o_orderkey LIMIT 10")


def _regional_volume_sql() -> str:
    return (
        "WITH o AS (SELECT o_orderkey, c_nationkey FROM orders "
        "JOIN customer ON o_custkey = c_custkey "
        f"WHERE o_orderdate >= TIMESTAMP '{TPCH_Y0}' "
        f"AND o_orderdate < TIMESTAMP '{TPCH_Y1}') "
        "SELECT r_name, n_name, "
        f"CAST(SUM({_O_REV}) AS BIGINT) AS revenue_cents, "
        "CAST(COUNT(*) AS BIGINT) AS n_lines "
        "FROM lineitem l JOIN o ON l.l_orderkey = o.o_orderkey "
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
        "AND o.c_nationkey = s.s_nationkey "
        "JOIN nation n ON o.c_nationkey = n.n_nationkey "
        "JOIN region rg ON n.n_regionkey = rg.r_regionkey "
        "GROUP BY r_name, n_name ORDER BY r_name, n_name")


def _returned_customers_sql() -> str:
    return (
        "WITH o AS (SELECT o_orderkey, o_custkey FROM orders "
        f"WHERE o_orderdate >= TIMESTAMP '{TPCH_Q10_D0}' "
        f"AND o_orderdate < TIMESTAMP '{TPCH_Q10_D1}'), "
        "rv AS (SELECT o_custkey, "
        f"CAST(SUM({_O_REV}) AS BIGINT) AS revenue_cents, "
        "CAST(COUNT(*) AS BIGINT) AS n_lines "
        "FROM lineitem JOIN o ON l_orderkey = o_orderkey "
        "WHERE l_returnflag = 'R' GROUP BY o_custkey) "
        "SELECT c_custkey, c_name, n_name, "
        "CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS acctbal_cents, "
        "revenue_cents, n_lines "
        "FROM rv JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        f"ORDER BY revenue_cents DESC, c_custkey LIMIT {TPCH_TOP_K}")


def _brand_share_sql() -> str:
    return (
        "WITH a AS (SELECT p_brand, "
        f"CAST(SUM({_O_REV}) AS BIGINT) AS revenue_cents, "
        "CAST(COUNT(*) AS BIGINT) AS n_lines "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        f"WHERE l_shipdate >= TIMESTAMP '{TPCH_BRAND_Y0}' "
        f"AND l_shipdate < TIMESTAMP '{TPCH_BRAND_Y1}' GROUP BY p_brand), "
        "t AS (SELECT CAST(SUM(revenue_cents) AS BIGINT) AS tot FROM a) "
        "SELECT p_brand, revenue_cents, n_lines, "
        "(revenue_cents * 10000) // tot AS share_bp "
        "FROM a, t ORDER BY revenue_cents DESC, p_brand")


def _big_orders_sql() -> str:
    return (
        "WITH big AS (SELECT l_orderkey, "
        "CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) "
        "AS BIGINT) AS total_qty_c, "
        "CAST(COUNT(*) AS BIGINT) AS n_lines FROM lineitem "
        "GROUP BY l_orderkey "
        "HAVING CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) "
        f"AS BIGINT) > {TPCH_BIG_QTY_C}) "
        "SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, "
        "c_custkey, c_name, total_qty_c, n_lines "
        "FROM big JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        f"ORDER BY total_qty_c DESC, o_orderkey LIMIT {TPCH_TOP_K}")


def _supplier_hhi_sql() -> str:
    return (
        "WITH bs AS (SELECT p_brand, l_suppkey, "
        f"CAST(SUM({_O_REV}) AS BIGINT) AS rev "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "GROUP BY 1, 2), "
        "br AS (SELECT p_brand, CAST(SUM(rev) AS BIGINT) AS "
        "revenue_cents, CAST(COUNT(*) AS BIGINT) AS n_suppliers "
        "FROM bs GROUP BY 1), "
        "sh AS (SELECT bs.p_brand, br.revenue_cents, br.n_suppliers, "
        "(bs.rev * 10000) // br.revenue_cents AS share_bp "
        "FROM bs JOIN br USING (p_brand)) "
        "SELECT p_brand, n_suppliers, revenue_cents, "
        "CAST(SUM(share_bp * share_bp) AS BIGINT) AS hhi "
        "FROM sh GROUP BY 1, 2, 3 ORDER BY p_brand")


def _priority_sla_sql() -> str:
    return (
        "WITH f AS (SELECT l_orderkey, MIN(l_shipdate) AS first_ship "
        "FROM lineitem GROUP BY 1), "
        "lg AS (SELECT o_orderpriority, "
        "CAST(date_diff('day', o_orderdate, first_ship) AS BIGINT) "
        "AS lag FROM orders JOIN f ON o_orderkey = l_orderkey) "
        "SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders, "
        "CAST(MIN(lag) AS BIGINT) AS min_lag_days, "
        "CAST(SUM(lag) AS BIGINT) // CAST(COUNT(*) AS BIGINT) "
        "AS avg_lag_days, "
        "CAST(MAX(lag) AS BIGINT) AS max_lag_days "
        "FROM lg GROUP BY 1 ORDER BY 1")


def _revenue_bands_sql() -> str:
    return (
        "WITH pc AS (SELECT o_custkey, "
        "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) "
        "AS BIGINT) AS rev FROM orders GROUP BY o_custkey), "
        "b AS (SELECT CAST(length(bin(rev)) - 1 AS INT) AS band, rev "
        "FROM pc), "
        "a AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS n_customers, "
        "CAST(SUM(rev) AS BIGINT) AS band_cents FROM b GROUP BY band), "
        "w AS (SELECT band, n_customers, band_cents, "
        "CAST(SUM(band_cents) OVER () AS BIGINT) AS tot, "
        "CAST(SUM(band_cents) OVER (ORDER BY band DESC "
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM a) "
        "SELECT band, n_customers, band_cents, "
        "(band_cents * 10000) // tot AS share_bp, "
        "(cum * 10000) // tot AS cum_share_bp "
        "FROM w ORDER BY band DESC")


def _overlap_near_dup_sql() -> str:
    return (
        f"WITH {_SHINGLES}, "
        "sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id), "
        "inter AS (SELECT x.doc_id AS da, y.doc_id AS db, "
        "CAST(COUNT(*) AS BIGINT) AS i FROM sh x "
        "JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2) "
        "SELECT da, db, "
        "(i * 10000) // LEAST(sa.n, sb.n) AS overlap_bp "
        "FROM inter JOIN sizes sa ON sa.doc_id = da "
        "JOIN sizes sb ON sb.doc_id = db "
        f"WHERE (i * 10000) // LEAST(sa.n, sb.n) >= {OVERLAP_MIN_BP} "
        "ORDER BY da, db")


def _late_order_priorities_sql() -> str:
    return (
        "SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS "
        "n_late_orders FROM orders o WHERE EXISTS (SELECT 1 FROM "
        "lineitem l WHERE l.l_orderkey = o.o_orderkey "
        "AND l.l_shipdate > o.o_orderdate) "
        "GROUP BY 1 ORDER BY 1")


def _idle_rich_customers_sql() -> str:
    return (
        "WITH bal AS (SELECT c_custkey, c_nationkey, "
        "CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c "
        "FROM customer), "
        "p AS (SELECT CAST(SUM(bal_c) AS BIGINT) AS sum_pos, "
        "CAST(COUNT(*) AS BIGINT) AS n_pos FROM bal WHERE bal_c > 0) "
        "SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_customers, "
        "CAST(SUM(bal_c) AS BIGINT) AS acctbal_cents "
        "FROM bal CROSS JOIN p JOIN nation ON c_nationkey = n_nationkey "
        "WHERE bal_c * n_pos > sum_pos "
        "AND NOT EXISTS (SELECT 1 FROM orders o "
        "WHERE o.o_custkey = bal.c_custkey "
        f"AND o.o_orderdate >= TIMESTAMP '{TPCH_DORMANT_SINCE}') "
        "GROUP BY n_name ORDER BY n_name")


def _small_qty_revenue_sql() -> str:
    return (
        "WITH pp AS (SELECT l_partkey AS pk, "
        "CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) "
        "AS BIGINT) AS sum_qc, CAST(COUNT(*) AS BIGINT) AS n "
        "FROM lineitem GROUP BY 1) "
        "SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_small_lines, "
        f"CAST(SUM({_O_REV}) AS BIGINT) AS revenue_cents "
        "FROM lineitem JOIN pp ON l_partkey = pk "
        "JOIN part ON l_partkey = p_partkey "
        "WHERE CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) * 2 * n "
        "< sum_qc GROUP BY p_brand ORDER BY p_brand")


def _market_share_sql() -> str:
    return (
        "WITH o AS (SELECT o_orderkey, c_nationkey, "
        "CAST(year(o_orderdate) AS INT) AS o_year FROM orders "
        "JOIN customer ON o_custkey = c_custkey), "
        "a AS (SELECT r_name, o_year, "
        f"CAST(SUM({_O_REV}) AS BIGINT) AS revenue_cents, "
        "CAST(SUM(CASE WHEN o.c_nationkey = s.s_nationkey THEN "
        f"{_O_REV} ELSE CAST(0 AS BIGINT) END) AS BIGINT) "
        "AS local_cents "
        "FROM lineitem l JOIN o ON l.l_orderkey = o.o_orderkey "
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
        "JOIN nation n ON o.c_nationkey = n.n_nationkey "
        "JOIN region rg ON n.n_regionkey = rg.r_regionkey "
        "GROUP BY r_name, o_year) "
        "SELECT r_name, o_year, revenue_cents, local_cents, "
        "(local_cents * 10000) // revenue_cents AS local_share_bp "
        "FROM a ORDER BY r_name, o_year")


def _order_cadence_sql() -> str:
    return (
        "WITH g0 AS (SELECT o_custkey, o_orderdate, "
        "lag(o_orderdate) OVER (PARTITION BY o_custkey "
        "ORDER BY o_orderdate, o_orderkey) AS prev FROM orders), "
        "g AS (SELECT o_custkey, "
        "CAST(date_diff('day', prev, o_orderdate) AS BIGINT) AS gap "
        "FROM g0 WHERE prev IS NOT NULL) "
        "SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_gaps, "
        "CAST(MIN(gap) AS BIGINT) AS min_gap_days, "
        "CAST(SUM(gap) AS BIGINT) // CAST(COUNT(*) AS BIGINT) "
        "AS avg_gap_days, "
        "CAST(MAX(gap) AS BIGINT) AS max_gap_days "
        "FROM g JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "GROUP BY n_name ORDER BY n_name")


def _daily_revenue_running_sql() -> str:
    return (
        "WITH d AS (SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) "
        "AS ds, date_diff('day', DATE '1970-01-01', "
        "CAST(o_orderdate AS DATE)) AS day, "
        "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) "
        "AS BIGINT) AS day_cents FROM orders GROUP BY 1, 2) "
        "SELECT ds, day_cents, "
        "CAST(SUM(day_cents) OVER (ORDER BY day "
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents, "
        "CAST(SUM(day_cents) OVER (ORDER BY day "
        "RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) "
        "AS trailing_7d_cents "
        "FROM d ORDER BY ds")


def _join_estimate_calibration_sql() -> str:
    def one(name, lt, lc, rt, rc):
        return (
            f"SELECT '{name}' AS join_name, ls.n AS n_left, "
            "rs.n AS n_right, ls.ndv AS ndv_left, rs.ndv AS ndv_right, "
            "(ls.n * rs.n) // GREATEST(ls.ndv, rs.ndv) AS est_rows, "
            "a.actual_rows, "
            "(abs((ls.n * rs.n) // GREATEST(ls.ndv, rs.ndv) "
            "- a.actual_rows) * 10000) // "
            "GREATEST(a.actual_rows, CAST(1 AS BIGINT)) AS err_bp "
            "FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
            f"CAST(COUNT(DISTINCT {lc}) AS BIGINT) AS ndv FROM {lt}) ls, "
            "(SELECT CAST(COUNT(*) AS BIGINT) AS n, "
            f"CAST(COUNT(DISTINCT {rc}) AS BIGINT) AS ndv FROM {rt}) rs, "
            "(SELECT CAST(COUNT(*) AS BIGINT) AS actual_rows "
            f"FROM {lt} JOIN {rt} ON {lc} = {rc}) a")
    return (" UNION ALL ".join([
        one("orders_customer", "orders", "o_custkey",
            "customer", "c_custkey"),
        one("lineitem_orders", "lineitem", "l_orderkey",
            "orders", "o_orderkey"),
        one("lineitem_part", "lineitem", "l_partkey",
            "part", "p_partkey"),
    ]) + " ORDER BY join_name")


def _priority_order_profile_sql() -> str:
    def gq(val, suffix, cols):
        return (
            f"pv{suffix} AS (SELECT g, {val} AS val, "
            "CAST(COUNT(*) AS BIGINT) AS cnt "
            f"FROM po GROUP BY 1, 2), "
            f"nn{suffix} AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS n "
            f"FROM pv{suffix} GROUP BY 1), "
            f"cm{suffix} AS (SELECT g, val, "
            "CAST(SUM(cnt) OVER (PARTITION BY g ORDER BY val "
            "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum "
            f"FROM pv{suffix}), "
            f"q{suffix} AS (SELECT cm{suffix}.g, MAX(n) AS n, "
            + ", ".join(
                f"MIN(CASE WHEN cum >= ({q} * n + 99) // 100 "
                f"THEN val END) AS {c}" for q, c in cols) +
            f" FROM cm{suffix} JOIN nn{suffix} "
            f"ON cm{suffix}.g = nn{suffix}.g GROUP BY 1)")
    return (
        "WITH lo AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) "
        "AS n_lines FROM lineitem GROUP BY 1), "
        "po AS (SELECT o_orderpriority AS g, n_lines, "
        "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) // 10000 "
        "AS price_h FROM orders JOIN lo ON o_orderkey = l_orderkey), "
        + gq("n_lines", "l",
             [(25, "p25_lines"), (50, "p50_lines"), (75, "p75_lines")])
        + ", "
        + gq("price_h", "p",
             [(25, "p25_price_h"), (50, "p50_price_h"),
              (75, "p75_price_h")])
        + " SELECT ql.g AS o_orderpriority, ql.n AS n_orders, "
        "p25_lines, p50_lines, p75_lines, "
        "p25_price_h, p50_price_h, p75_price_h "
        "FROM ql JOIN qp ON ql.g = qp.g ORDER BY 1")


def _revenue_rollup_sql() -> str:
    return (
        "WITH base AS (SELECT r_name, n_name, "
        "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey) "
        "SELECT COALESCE(r_name, 'ALL') AS r_name, "
        "COALESCE(n_name, 'ALL') AS n_name, "
        "CAST(SUM(cents) AS BIGINT) AS revenue_cents, "
        "CAST(COUNT(*) AS BIGINT) AS n_orders "
        "FROM base GROUP BY ROLLUP(r_name, n_name) "
        "ORDER BY 1, 2")


def _top_customers_per_nation_sql() -> str:
    return (
        "WITH pc AS (SELECT o_custkey, "
        "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) "
        "AS BIGINT) AS revenue_cents, "
        "CAST(COUNT(*) AS BIGINT) AS n_orders FROM orders GROUP BY 1), "
        "r AS (SELECT n_name, c_custkey, c_name, revenue_cents, "
        "n_orders, CAST(row_number() OVER (PARTITION BY n_name "
        "ORDER BY revenue_cents DESC, o_custkey ASC) AS INT) AS rnk "
        "FROM pc JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey) "
        "SELECT n_name, c_custkey, c_name, revenue_cents, n_orders, "
        f"rnk FROM r WHERE rnk <= {TOP_PER_NATION_K} "
        "ORDER BY n_name, rnk")


def _brand_affinity_sql() -> str:
    return (
        "WITH ob AS (SELECT DISTINCT l_orderkey, p_brand "
        "FROM lineitem JOIN part ON l_partkey = p_partkey), "
        "t AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) "
        "AS n_tot FROM ob), "
        "pb AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_b "
        "FROM ob GROUP BY 1), "
        "pr AS (SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, "
        "CAST(COUNT(*) AS BIGINT) AS n_ab FROM ob a JOIN ob b "
        "ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand "
        f"GROUP BY 1, 2 HAVING COUNT(*) >= {AFFINITY_MIN_PAIRS}) "
        "SELECT brand_a, brand_b, n_ab, "
        "(n_ab * n_tot * 1000000) // (na.n_b * nb.n_b) AS lift_u "
        "FROM pr JOIN pb na ON na.p_brand = brand_a "
        "JOIN pb nb ON nb.p_brand = brand_b CROSS JOIN t "
        f"ORDER BY lift_u DESC, brand_a, brand_b LIMIT {AFFINITY_TOP_K}")


def _order_of_record_sql() -> str:
    return (
        "WITH rws AS (SELECT p_brand, "
        f"{_O_REV} AS rev, l_orderkey "
        "FROM lineitem JOIN part ON l_partkey = p_partkey), "
        "mx AS (SELECT p_brand, CAST(MAX(rev) AS BIGINT) AS "
        "top_revenue_cents, CAST(COUNT(*) AS BIGINT) AS n_lines "
        "FROM rws GROUP BY 1) "
        "SELECT mx.p_brand, top_revenue_cents, "
        "CAST(MIN(l_orderkey) AS BIGINT) AS top_orderkey, n_lines "
        "FROM mx JOIN rws ON rws.p_brand = mx.p_brand "
        "AND rws.rev = mx.top_revenue_cents "
        "GROUP BY 1, 2, 4 ORDER BY 1")


def _brand_return_z_sql() -> str:
    z = ("floor(10000.0 * CAST(r * (nt - n) - (rt - r) * n AS DOUBLE) "
         "/ CAST(n AS DOUBLE) / CAST(nt - n AS DOUBLE) / sqrt("
         "CAST(rt AS DOUBLE) * CAST(nt - rt AS DOUBLE) "
         "/ CAST(nt AS DOUBLE) / CAST(nt AS DOUBLE) "
         "* (1.0 / CAST(n AS DOUBLE) + 1.0 / CAST(nt - n AS DOUBLE))))")
    guard = "n > 0 AND nt > n AND rt > 0 AND rt < nt"
    return (
        "WITH per AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) "
        "AS BIGINT) AS r "
        "FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1), "
        "t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt, "
        "CAST(SUM(r) AS BIGINT) AS rt FROM per) "
        "SELECT p_brand, n, r, (r * 10000) // n AS rate_bp, "
        f"CAST(CASE WHEN {guard} THEN {z} ELSE 0 END AS BIGINT) "
        "AS z_bp FROM per CROSS JOIN t ORDER BY p_brand")


def _yoy_growth_sql() -> str:
    return (
        "WITH base AS (SELECT n_name, "
        "CAST(year(o_orderdate) AS INT) AS yr, "
        "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        f"WHERE year(o_orderdate) IN ({YOY_Y0}, {YOY_Y1})), "
        "a AS (SELECT n_name, "
        f"CAST(SUM(CASE WHEN yr = {YOY_Y0} THEN cents ELSE 0 END) "
        "AS BIGINT) AS rev_y0_cents, "
        f"CAST(SUM(CASE WHEN yr = {YOY_Y1} THEN cents ELSE 0 END) "
        "AS BIGINT) AS rev_y1_cents FROM base GROUP BY 1) "
        "SELECT n_name, rev_y0_cents, rev_y1_cents, "
        "CASE WHEN rev_y0_cents > 0 THEN "
        "((rev_y1_cents - rev_y0_cents) * 10000) // rev_y0_cents "
        "ELSE 0 END AS growth_bp FROM a ORDER BY n_name")


def _priority_status_chi2_sql() -> str:
    return (
        "WITH c AS (SELECT o_orderpriority, o_orderstatus, "
        "CAST(COUNT(*) AS BIGINT) AS o FROM orders GROUP BY 1, 2), "
        "w AS (SELECT o_orderpriority, o_orderstatus, o, "
        "CAST(SUM(o) OVER () AS BIGINT) AS nt, "
        "CAST(SUM(o) OVER (PARTITION BY o_orderpriority) AS BIGINT) "
        "AS rt, "
        "CAST(SUM(o) OVER (PARTITION BY o_orderstatus) AS BIGINT) "
        "AS ct FROM c) "
        "SELECT o_orderpriority, o_orderstatus, o AS observed, "
        "CAST(FLOOR(1000000.0 * CAST(o * nt - rt * ct AS DOUBLE) "
        "* CAST(o * nt - rt * ct AS DOUBLE) "
        "/ (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) "
        "* CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE))) AS BIGINT) "
        "AS contrib_u FROM w ORDER BY 1, 2")


def _discount_curve_sql() -> str:
    return (
        "WITH r AS (SELECT "
        "CAST(FLOOR(l_discount * 10000 + 0.5) AS BIGINT) AS disc_bp, "
        "CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) AS qc, "
        f"{_O_REV} AS rev FROM lineitem), "
        "a AS (SELECT disc_bp, CAST(COUNT(*) AS BIGINT) AS n_lines, "
        "CAST(SUM(qc) AS BIGINT) AS sum_qty_c, "
        "CAST(SUM(rev) AS BIGINT) AS revenue_cents FROM r GROUP BY 1), "
        "t AS (SELECT CAST(SUM(revenue_cents) AS BIGINT) AS tot FROM a) "
        "SELECT disc_bp, n_lines, sum_qty_c, "
        "sum_qty_c // n_lines AS avg_qty_c, revenue_cents, "
        "(revenue_cents * 10000) // tot AS rev_share_bp "
        "FROM a CROSS JOIN t ORDER BY disc_bp")


def _blocking_suppliers_sql() -> str:
    return (
        "WITH pairs AS (SELECT l_orderkey, l_suppkey, "
        "MAX(l_shipdate) AS supp_last FROM lineitem GROUP BY 1, 2), "
        "st AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS "
        "n_supps, MAX(supp_last) AS order_last FROM pairs GROUP BY 1), "
        "hit AS (SELECT p.l_orderkey, p.l_suppkey FROM pairs p "
        "JOIN st ON p.l_orderkey = st.l_orderkey "
        "WHERE p.supp_last = st.order_last AND st.n_supps >= 2), "
        "u AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS "
        "n_hitters FROM hit GROUP BY 1), "
        "b AS (SELECT hit.l_suppkey FROM hit JOIN u "
        "ON hit.l_orderkey = u.l_orderkey WHERE u.n_hitters = 1) "
        "SELECT s_suppkey, s_name, "
        "CAST(COUNT(*) AS BIGINT) AS n_blocked_orders "
        "FROM b JOIN supplier ON l_suppkey = s_suppkey "
        "GROUP BY 1, 2 "
        f"ORDER BY n_blocked_orders DESC, s_suppkey LIMIT {TPCH_TOP_K}")


def _forecast_revenue_change_sql() -> str:
    return (
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_lines, "
        "CAST(SUM(CAST(FLOOR(l_extendedprice * l_discount * 100 "
        "+ 0.5) AS BIGINT)) AS BIGINT) AS forgone_cents "
        "FROM lineitem "
        f"WHERE l_shipdate >= TIMESTAMP '{Q6_Y0}' "
        f"AND l_shipdate < TIMESTAMP '{Q6_Y1}' "
        f"AND l_discount >= {Q6_D_LO} AND l_discount <= {Q6_D_HI} "
        "AND CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) "
        f"< {Q6_QTY_MAX_C}")


def _margin_proxy_sql() -> str:
    return (
        "WITH rws AS (SELECT n_name, "
        "CAST(year(l_shipdate) AS INT) AS yr, "
        f"{_O_REV} AS rev, "
        "(CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) * "
        "CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) // 100 "
        "AS cost "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey) "
        "SELECT n_name, yr, CAST(SUM(rev) AS BIGINT) AS revenue_cents, "
        "CAST(SUM(cost) AS BIGINT) AS cost_cents, "
        "CAST(SUM(rev - cost) AS BIGINT) AS margin_cents "
        "FROM rws GROUP BY 1, 2 ORDER BY 1, 2")


def _top_supplier_quarter_sql() -> str:
    return (
        "WITH per AS (SELECT l_suppkey, "
        f"CAST(SUM({_O_REV}) AS BIGINT) AS total_revenue_cents "
        "FROM lineitem "
        f"WHERE l_shipdate >= TIMESTAMP '{Q15_D0}' "
        f"AND l_shipdate < TIMESTAMP '{Q15_D1}' GROUP BY 1), "
        "m AS (SELECT MAX(total_revenue_cents) AS mx FROM per) "
        "SELECT s_suppkey, s_name, total_revenue_cents "
        "FROM per CROSS JOIN m "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "WHERE total_revenue_cents = mx ORDER BY s_suppkey")


def _order_count_distribution_sql() -> str:
    return (
        "WITH oc AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n "
        "FROM orders GROUP BY 1), "
        "per AS (SELECT c_custkey, COALESCE(n, CAST(0 AS BIGINT)) AS "
        "n_orders FROM customer LEFT JOIN oc ON c_custkey = o_custkey) "
        "SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers "
        "FROM per GROUP BY 1 ORDER BY n_orders DESC")


def _trade_matrix_sql() -> str:
    return (
        "WITH o AS (SELECT o_orderkey, c_nationkey FROM orders "
        "JOIN customer ON o_custkey = c_custkey "
        f"WHERE o_orderdate >= TIMESTAMP '{TPCH_Y0}' "
        f"AND o_orderdate < TIMESTAMP '{TPCH_Y1}') "
        "SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation, "
        f"CAST(SUM({_O_REV}) AS BIGINT) AS revenue_cents, "
        "CAST(COUNT(*) AS BIGINT) AS n_lines "
        "FROM lineitem l JOIN o ON l.l_orderkey = o.o_orderkey "
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
        "JOIN nation ns ON s.s_nationkey = ns.n_nationkey "
        "JOIN nation nc ON o.c_nationkey = nc.n_nationkey "
        "WHERE o.c_nationkey <> s.s_nationkey "
        "GROUP BY 1, 2 "
        "ORDER BY revenue_cents DESC, supp_nation, cust_nation "
        f"LIMIT {TRADE_TOP_K}")


def _tukey_outlier_orders_sql() -> str:
    return (
        "WITH po AS (SELECT o_orderpriority AS g, "
        "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) // 10000 "
        "AS val FROM orders), "
        "pv AS (SELECT g, val, CAST(COUNT(*) AS BIGINT) AS cnt "
        "FROM po GROUP BY 1, 2), "
        "nn AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS n "
        "FROM pv GROUP BY 1), "
        "cm AS (SELECT g, val, CAST(SUM(cnt) OVER (PARTITION BY g "
        "ORDER BY val ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum "
        "FROM pv), "
        "q AS (SELECT cm.g, "
        "MIN(CASE WHEN cum >= (25 * n + 99) // 100 THEN val END) AS p25, "
        "MIN(CASE WHEN cum >= (75 * n + 99) // 100 THEN val END) AS p75 "
        "FROM cm JOIN nn ON cm.g = nn.g GROUP BY 1), "
        "f AS (SELECT g, p75 + 3 * (p75 - p25) AS fence FROM q) "
        "SELECT po.g AS o_orderpriority, "
        "CAST(COUNT(*) AS BIGINT) AS n_orders, "
        "CAST(SUM(CASE WHEN val > fence THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_outliers, "
        "(CAST(SUM(CASE WHEN val > fence THEN 1 ELSE 0 END) AS BIGINT) "
        "* 10000) // CAST(COUNT(*) AS BIGINT) AS outlier_rate_bp "
        "FROM po JOIN f ON po.g = f.g GROUP BY 1 ORDER BY 1")


def _revenue_forecast_backtest_sql() -> str:
    return (
        "WITH d AS (SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) "
        "AS ds, date_diff('day', DATE '1970-01-01', "
        "CAST(o_orderdate AS DATE)) AS day, "
        "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) "
        "AS BIGINT) AS day_cents FROM orders GROUP BY 1, 2), "
        "s AS (SELECT ds, day_cents, "
        "CAST(SUM(day_cents) OVER (ORDER BY day RANGE BETWEEN 7 "
        "PRECEDING AND 1 PRECEDING) AS BIGINT) AS sum7, "
        "CAST(COUNT(day_cents) OVER (ORDER BY day RANGE BETWEEN 7 "
        "PRECEDING AND 1 PRECEDING) AS BIGINT) AS n7 FROM d), "
        "e AS (SELECT ds, day_cents, sum7 // 7 AS pred_cents, "
        "abs(day_cents - sum7 // 7) AS abs_err_cents "
        "FROM s WHERE n7 = 7), "
        "t AS (SELECT CAST(SUM(abs_err_cents) AS BIGINT) AS sum_err, "
        "CAST(SUM(day_cents) AS BIGINT) AS sum_act FROM e) "
        "SELECT ds, day_cents, pred_cents, "
        "CAST(abs_err_cents AS BIGINT) AS abs_err_cents, "
        "(sum_err * 10000) // sum_act AS wape_bp "
        "FROM e CROSS JOIN t ORDER BY ds")


def _referential_integrity_sql() -> str:
    def one(name, ct, ck, pt, pk):
        return (
            f"SELECT '{name}' AS fk_edge, "
            f"(SELECT CAST(COUNT(*) AS BIGINT) FROM {ct}) AS n_rows, "
            "(SELECT CAST(COUNT(*) AS BIGINT) FROM "
            f"{ct} WHERE NOT EXISTS (SELECT 1 FROM {pt} "
            f"WHERE {pt}.{pk} = {ct}.{ck})) AS n_orphans")
    return (" UNION ALL ".join([
        one("lineitem_orders", "lineitem", "l_orderkey",
            "orders", "o_orderkey"),
        one("lineitem_part", "lineitem", "l_partkey",
            "part", "p_partkey"),
        one("lineitem_supplier", "lineitem", "l_suppkey",
            "supplier", "s_suppkey"),
        one("orders_customer", "orders", "o_custkey",
            "customer", "c_custkey"),
    ]) + " ORDER BY fk_edge")


def _bucketed_join_revenue_sql() -> str:
    return (
        "SELECT o_orderstatus, "
        f"CAST(SUM({_O_REV}) AS BIGINT) AS revenue_cents, "
        "CAST(COUNT(*) AS BIGINT) AS n_lines "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "GROUP BY 1 ORDER BY 1")


def _disjunctive_revenue_sql() -> str:
    qty = "CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)"
    b1 = f"(p_type = 'PROMO' AND {qty} <= 2000)"
    b2 = f"(p_size >= 40 AND {qty} >= 4000)"
    b3 = f"(p_brand = 'Brand#11' AND {qty} BETWEEN 1000 AND 3000)"
    return (
        "WITH j AS (SELECT CASE "
        f"WHEN {b1} THEN 'promo_small' "
        f"WHEN {b2} THEN 'large_bulk' "
        "ELSE 'brand11_mid' END AS branch, "
        f"{_O_REV} AS rev "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        f"WHERE {b1} OR {b2} OR {b3}) "
        "SELECT branch, CAST(COUNT(*) AS BIGINT) AS n_lines, "
        "CAST(SUM(rev) AS BIGINT) AS revenue_cents "
        "FROM j GROUP BY 1 ORDER BY 1")


def _status_pivot_sql() -> str:
    return (
        "SELECT o_orderpriority, "
        "CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_f, "
        "CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_o, "
        "CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_p "
        "FROM orders GROUP BY 1 ORDER BY 1")


def _lang_token_quartiles_sql() -> str:
    return (
        "WITH po AS (SELECT lang AS g, "
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS val "
        "FROM documents), "
        "pv AS (SELECT g, val, CAST(COUNT(*) AS BIGINT) AS cnt "
        "FROM po GROUP BY 1, 2), "
        "nn AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS n "
        "FROM pv GROUP BY 1), "
        "cm AS (SELECT g, val, CAST(SUM(cnt) OVER (PARTITION BY g "
        "ORDER BY val ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum "
        "FROM pv) "
        "SELECT cm.g AS lang, MAX(n) AS n_docs, "
        "MIN(CASE WHEN cum >= (25 * n + 99) // 100 THEN val END) AS p25, "
        "MIN(CASE WHEN cum >= (50 * n + 99) // 100 THEN val END) AS p50, "
        "MIN(CASE WHEN cum >= (75 * n + 99) // 100 THEN val END) AS p75 "
        "FROM cm JOIN nn ON cm.g = nn.g GROUP BY 1 ORDER BY 1")


def _abc_sql() -> str:
    return (
        f"WITH pp AS (SELECT l_partkey, CAST(SUM({_O_REV}) AS BIGINT) "
        "AS rev FROM lineitem GROUP BY 1), "
        "t AS (SELECT CAST(SUM(rev) AS BIGINT) AS tot FROM pp), "
        "c AS (SELECT rev, CAST(SUM(rev) OVER (ORDER BY rev DESC, "
        "l_partkey ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum "
        "FROM pp), "
        f"k AS (SELECT CASE WHEN 100 * cum <= {ABC_A_PCT} * tot "
        f"THEN 'A' WHEN 100 * cum <= {ABC_B_PCT} * tot THEN 'B' "
        "ELSE 'C' END AS cls, rev, tot FROM c CROSS JOIN t) "
        "SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_parts, "
        "CAST(SUM(rev) AS BIGINT) AS revenue_cents, "
        "CAST(CASE WHEN MAX(tot) > 0 "
        "THEN 10000 * SUM(rev) // MAX(tot) ELSE 0 END AS BIGINT) "
        "AS share_bp "
        "FROM k GROUP BY cls ORDER BY cls"
    )


def _msearch_sql() -> str:
    from kafana_spark.operators.relevance import (
        BM25_B, BM25_FP, BM25_K1)

    union_terms = sorted({t for ts in MSEARCH_QUERIES.values()
                          for t in ts})
    terms = ", ".join(f"'{t}'" for t in union_terms)
    vals = ", ".join(f"('{sid}', '{t}')"
                     for sid, ts in sorted(MSEARCH_QUERIES.items())
                     for t in ts)
    return (
        f"WITH {_TK_CTE}, "
        "st AS (SELECT COUNT(*) AS n_docs, "
        f"AVG(len({_TOKS})) AS avgdl FROM documents), "
        f"q AS (SELECT * FROM (VALUES {vals}) AS q(sid, term)), "
        f"tf AS (SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl "
        f"FROM tk WHERE term IN ({terms}) GROUP BY 1, 2), "
        "dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1), "
        "c AS (SELECT doc_id, term, "
        f"{_bm25_contrib(float(BM25_FP), BM25_K1, BM25_B)} "
        "FROM tf JOIN dfq USING (term) CROSS JOIN st), "
        "sc AS (SELECT q.sid, c.doc_id, CAST(COUNT(*) AS INT) "
        "AS n_matched, CAST(SUM(c_u) AS BIGINT) AS score_u "
        "FROM c JOIN q USING (term) GROUP BY 1, 2), "
        "r AS (SELECT sid, doc_id, n_matched, score_u, "
        "ROW_NUMBER() OVER (PARTITION BY sid "
        "ORDER BY score_u DESC, doc_id) AS rnk FROM sc) "
        "SELECT sid, CAST(rnk AS INT) AS rank, doc_id, n_matched, "
        f"score_u FROM r WHERE rnk <= {MSEARCH_K} ORDER BY sid, rnk"
    )


def _rake_sql() -> str:
    return (
        "WITH tk2 AS (SELECT doc_id, i AS p, t[i] AS w "
        f"FROM (SELECT doc_id, {_TOKS} AS t FROM documents), "
        f"generate_series(1, {ORACLE_MAX_TOKENS}) gs(i) "
        "WHERE i <= len(t)), "
        "fa AS (SELECT w, COUNT(*) AS cnt FROM tk2 GROUP BY w), "
        f"st AS (SELECT w FROM fa ORDER BY cnt DESC, w "
        f"LIMIT {RAKE_STOP_K}), "
        "ns AS (SELECT doc_id, p, w FROM tk2 "
        "WHERE w NOT IN (SELECT w FROM st)), "
        "m AS (SELECT doc_id, p, w, p - ROW_NUMBER() OVER "
        "(PARTITION BY doc_id ORDER BY p) AS grp FROM ns), "
        "m2 AS (SELECT *, COUNT(*) OVER (PARTITION BY doc_id, grp) "
        "AS plen FROM m), "
        "ws AS (SELECT w, CAST(1000000 * SUM(plen) // COUNT(*) "
        "AS BIGINT) AS ws_u FROM m2 GROUP BY w), "
        "ph AS (SELECT doc_id, grp, "
        "string_agg(w, ' ' ORDER BY p) AS phrase, "
        "CAST(MAX(plen) AS BIGINT) AS plen, "
        "CAST(SUM(ws_u) AS BIGINT) AS score_u "
        "FROM m2 JOIN ws USING (w) GROUP BY doc_id, grp) "
        "SELECT phrase, MAX(plen) AS plen, "
        "CAST(COUNT(*) AS BIGINT) AS n_occur, "
        "MAX(score_u) AS score_u FROM ph GROUP BY phrase "
        f"ORDER BY score_u DESC, phrase LIMIT {RAKE_TOP_K}"
    )


def _benford_sql() -> str:
    from kafana_spark.operators.stats import BENFORD_BP

    vals = ", ".join(f"({d}, {bp})"
                     for d, bp in zip(range(1, 10), BENFORD_BP))
    return (
        "WITH v AS (SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) "
        "AS BIGINT) AS c FROM orders "
        "WHERE FLOOR(o_totalprice * 100 + 0.5) > 0), "
        "g AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) "
        "AS digit, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1), "
        "t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM g), "
        f"d AS (SELECT * FROM (VALUES {vals}) AS d(digit, exp_bp)) "
        "SELECT d.digit, COALESCE(g.n, 0) AS n_obs, "
        "CAST(COALESCE(g.n, 0) * 10000 // tot AS BIGINT) AS obs_bp, "
        "CAST(exp_bp AS BIGINT) AS exp_bp, "
        "CAST(COALESCE(g.n, 0) * 10000 // tot - exp_bp AS BIGINT) "
        "AS dev_bp "
        "FROM d LEFT JOIN g ON d.digit = g.digit CROSS JOIN t "
        "ORDER BY d.digit"
    )


def _quality_stump_sql() -> str:
    return (
        f"WITH {_quality_core()}, "
        f"b AS (SELECT n_chars AS f, CASE WHEN quality_bp >= "
        f"{STUMP_CUT} THEN 1 ELSE 0 END AS y FROM q), "
        "g AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(y) AS BIGINT) AS p FROM b GROUP BY f), "
        "t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, "
        "CAST(SUM(p) AS BIGINT) AS pp FROM g), "
        "c AS (SELECT f, CAST(SUM(n) OVER (ORDER BY f "
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS nl, "
        "CAST(SUM(p) OVER (ORDER BY f ROWS UNBOUNDED PRECEDING) "
        "AS BIGINT) AS pl FROM g) "
        "SELECT f AS threshold, nl AS n_left, pl AS pos_left, "
        "nn - nl AS n_right, pp - pl AS pos_right, "
        "CAST((1000000 * (pl*pl + (nl-pl)*(nl-pl))) // nl + "
        "(1000000 * ((pp-pl)*(pp-pl) + "
        "((nn-pp)-(nl-pl))*((nn-pp)-(nl-pl)))) // (nn-nl) AS BIGINT) "
        "AS score_u, "
        "CAST(10000 * (GREATEST(pl, nl-pl) + "
        "GREATEST(pp-pl, (nn-pp)-(nl-pl))) // nn AS BIGINT) AS acc_bp "
        "FROM c CROSS JOIN t WHERE nl < nn "
        f"ORDER BY score_u DESC, threshold LIMIT {STUMP_TOP_K}"
    )


def _scd2_change_ctes() -> str:
    """CTE chain ending in ``v(user_id, state, valid_from, valid_to,
    version)`` — the collapsed SCD2 version frame shared by the x287
    dimension and the x288 PIT lookup oracles."""
    return (
        "so AS (SELECT user_id, event_type, ts, event_id, "
        "LAG(event_type) OVER (PARTITION BY user_id "
        "ORDER BY ts, event_id) AS prev FROM events), "
        "sc AS (SELECT user_id, event_type, ts, event_id FROM so "
        "WHERE prev IS NULL OR prev <> event_type), "
        "v AS (SELECT user_id, event_type AS state, ts AS valid_from, "
        "LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
        "AS valid_to, "
        "CAST(ROW_NUMBER() OVER (PARTITION BY user_id "
        "ORDER BY ts, event_id) AS INT) AS version FROM sc)"
    )


def _scd2_dim_sql() -> str:
    return (
        f"WITH {_scd2_change_ctes()} "
        "SELECT user_id, state, valid_from, valid_to, version, "
        "CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS INT) "
        "AS is_current FROM v ORDER BY user_id, version"
    )


def _scd2_state_at_sql() -> str:
    return (
        f"WITH {_scd2_change_ctes()}, "
        "p AS (SELECT event_id, user_id, ts FROM events "
        f"WHERE event_type = '{SCD2_PROBE_TYPE}') "
        "SELECT p.event_id, p.user_id, p.ts, v.state AS state_at, "
        "v.version AS state_version "
        "FROM p JOIN v ON p.user_id = v.user_id "
        "AND v.valid_from <= p.ts "
        "AND (v.valid_to IS NULL OR p.ts < v.valid_to) "
        "ORDER BY p.event_id"
    )


def _trend_fit_sql() -> str:
    return (
        "WITH dd AS (SELECT event_type AS t, "
        "epoch_us(ts) // 86400000000 AS day, "
        "CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1, 2), "
        "r AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM dd), "
        # constant-bound series + loud cap (DuckDB generate_series
        # takes no lateral column params) — the x130 pattern
        "sp AS (SELECT ty.t, gs.i AS x, r.d0 "
        "FROM (SELECT DISTINCT t FROM dd) ty CROSS JOIN r "
        "CROSS JOIN generate_series(0, 3999) gs(i) "
        "WHERE i <= CASE WHEN r.d1 - r.d0 > 3999 THEN "
        "error('oracle day-spine cap 4000 exceeded') "
        "ELSE r.d1 - r.d0 END), "
        "yy AS (SELECT sp.t, sp.x, COALESCE(dd.c, 0) AS y "
        "FROM sp LEFT JOIN dd ON dd.t = sp.t "
        "AND dd.day = sp.d0 + sp.x), "
        "m AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy, "
        "CAST(SUM(x*x) AS BIGINT) AS sxx, "
        "CAST(SUM(x*y) AS BIGINT) AS sxy, "
        "CAST(SUM(y*y) AS BIGINT) AS syy FROM yy GROUP BY t), "
        "k AS (SELECT t, n, sy, n*sxy - sx*sy AS num, "
        "n*sxx - sx*sx AS den, sy*sxx - sx*sxy AS icn, "
        "n*syy - sy*sy AS deny FROM m) "
        "SELECT t, n AS n_days, sy AS sum_y, "
        "CAST(CASE WHEN den > 0 THEN (1000000*num) // den "
        "ELSE 0 END AS BIGINT) AS slope_u, "
        "CAST(CASE WHEN den > 0 THEN (1000000*icn) // den "
        "ELSE 0 END AS BIGINT) AS intercept_u, "
        "CAST(CASE WHEN den > 0 AND deny > 0 THEN "
        "FLOOR(10000.0 * (CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) "
        "* (CAST(num AS DOUBLE) / CAST(deny AS DOUBLE))) "
        "ELSE 0 END AS BIGINT) AS r2_bp "
        "FROM k ORDER BY t"
    )


EXTENSION_ORACLE: dict[str, str] = {
    "x294_abc_classification": _abc_sql(),
    "x295_msearch": _msearch_sql(),
    # the stored twins share the inline oracles — a hash match proves
    # the SCD2 store roundtrip + cross-batch merge law are lossless
    "x296_stored_scd2": _scd2_dim_sql(),
    "x297_stored_pit": _scd2_state_at_sql(),
    "x298_binary_ann": _binary_ann_sql(),
    "x299_binary_recall": _binary_recall_sql(),
    "x300_stored_binary_ann": _binary_ann_sql(),
    "x293_rake_keywords": _rake_sql(),
    "x291_benford_digits": _benford_sql(),
    "x292_quality_stump": _quality_stump_sql(),
    "x287_scd2_dim": _scd2_dim_sql(),
    "x288_scd2_state_at": _scd2_state_at_sql(),
    "x289_trend_fit": _trend_fit_sql(),
    # x290 serves x289 from the persisted rollup grid - same
    # oracle (lossless roundtrip), stored-twin discipline.
    "x290_stored_trend": _trend_fit_sql(),
    "x01_dedup_keep_first": (
        "SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text "
        "ORDER BY doc_id"
    ),
    "x02_minhash_near_dup": _minhash_sql(),
    "x57_stored_near_dup": _minhash_sql(),
    "x03_ngram_jaccard_dup": _ngram_jaccard_sql(),
    "x04_simhash_fingerprints": _simhash_sql(),
    "x05_simhash_near_dup": _simhash_near_dup_sql(),
    "x06_embedding_near_dup": _embedding_near_dup_sql(),
    "x07_ann_brute_force": _ann_brute_force_sql(),
    # x08: approximate vs BRUTE FORCE, but the modulo-quantizer pipeline
    # itself is deterministic — the oracle replays the whole IVF path.
    # (pytest still asserts recall@10 >= 0.8 vs brute force.)
    "x08_ann_ivf": _ann_ivf_sql(),
    "x58_stored_ann": _ann_ivf_sql(),
    "x09_token_count": (
        "SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens, "
        "CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_uniq, "
        "CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_subwords, "
        f"CAST(len(regexp_extract_all(text, '{text.BPE_PATTERN}')) AS BIGINT) "
        "AS n_bpe FROM documents ORDER BY doc_id"
    ),
    "x10_lang_id": _lang_id_sql(),
    "x11_quality_score": _quality_sql(),
    "x12_fingerprint": (
        "SELECT doc_id, md5(text) AS fp_full, "
        "md5(array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ')) "
        "AS fp_head FROM documents ORDER BY doc_id"
    ),
    "x13_rolling_chunks": _cdc_sql(),
    "x15_sessionize": (
        "WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events), "
        "d AS (SELECT user_id, us, CASE WHEN us - LAG(us) OVER "
        "(PARTITION BY user_id ORDER BY us) > "
        f"{SESSION_GAP_US} THEN 1 ELSE 0 END AS brk FROM e), "
        "s AS (SELECT user_id, us, SUM(brk) OVER (PARTITION BY user_id "
        "ORDER BY us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        "AS sid FROM d) "
        "SELECT user_id, MIN(us) AS start_us, MAX(us) - MIN(us) AS dur_us, "
        "COUNT(*) AS events FROM s GROUP BY user_id, sid "
        "ORDER BY user_id, start_us"
    ),
    "x16_asof_join": (
        "SELECT p.event_id, MAX(epoch_us(e.ts)) AS asof_us FROM events p "
        "LEFT JOIN events e ON e.user_id = p.user_id AND "
        "e.event_type = 'error' AND e.ts <= p.ts "
        "WHERE p.event_type = 'purchase' GROUP BY p.event_id "
        "ORDER BY p.event_id"
    ),
    "x17_percentiles": (
        "SELECT event_type, "
        + ", ".join(
            f"ROUND(quantile_cont(value, {q}), 4) AS p{int(q * 100)}"
            for q in PCT_QS) +
        " FROM events WHERE value IS NOT NULL GROUP BY event_type "
        "ORDER BY event_type"
    ),
    "x19_enrich_discover": (
        "SELECT 'events+0+' || CAST(event_id AS VARCHAR) AS _id, "
        "CAST(user_id AS VARCHAR) AS key, 'events' AS topic, "
        "event_id AS \"offset\", event_type FROM events "
        "WHERE event_type = 'purchase' ORDER BY \"offset\""
    ),
    "x20_latest_state_store": (
        "SELECT CAST(user_id AS VARCHAR) AS key, MAX(event_id) AS offset "
        "FROM events GROUP BY user_id ORDER BY key"
    ),
    "x21_sliding_histogram": (
        "WITH e AS (SELECT epoch_us(ts) AS us FROM events), "
        "w AS (SELECT ((us // {S}) - k) * {S} AS ws_us FROM e "
        "CROSS JOIN (VALUES (0), (1)) t(k)) "
        "SELECT ws_us, COUNT(*) AS cnt FROM w GROUP BY ws_us "
        "ORDER BY ws_us".format(S=SLIDE_US)
    ),
    "x22_suppliers_by_region": (
        "SELECT r.r_name, COUNT(*) AS supps FROM supplier s "
        "JOIN nation n ON s.s_nationkey = n.n_nationkey "
        "JOIN region r ON n.n_regionkey = r.r_regionkey "
        "GROUP BY r.r_name ORDER BY r.r_name"
    ),
    "x23_cube": (
        "SELECT COALESCE(event_type, 'ALL') AS et, "
        "COALESCE(CAST(user_id % 10 AS VARCHAR), 'ALL') AS ud, "
        "COUNT(*) AS cnt FROM events "
        "GROUP BY CUBE(event_type, CAST(user_id % 10 AS VARCHAR)) "
        "ORDER BY et, ud"
    ),
    "x18_tfidf": (
        "WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS "
        "token FROM documents), "
        "tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks "
        "GROUP BY doc_id, token), "
        "dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks "
        "GROUP BY token), "
        "nd AS (SELECT COUNT(*) AS n FROM documents), "
        "scored AS (SELECT doc_id, tf.token, "
        "ROUND(tf * ln(CAST(n AS DOUBLE) / df), 4) AS tfidf "
        "FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN nd), "
        "ranked AS (SELECT doc_id, token, tfidf, CAST(ROW_NUMBER() OVER "
        "(PARTITION BY doc_id ORDER BY tfidf DESC, token) AS INTEGER) AS rk "
        "FROM scored) "
        "SELECT doc_id, token, tfidf, rk FROM ranked WHERE rk <= 3 "
        "ORDER BY doc_id, rk"
    ),
    "x14_multimodal_meta": (
        "SELECT doc_id AS media_id, CAST(octet_length(CAST(text AS BLOB)) "
        "AS BIGINT) AS byte_len, md5(text) AS payload_md5, "
        "'application/octet-stream' AS mime FROM documents ORDER BY media_id"
    ),
    "x24_dup_clusters": _dup_clusters_sql(),
    "x27_curation": (
        f"WITH q AS ({{quality}}), "
        "k AS (SELECT d.doc_id, d.lang, d.text, q.quality_bp "
        "FROM documents d JOIN q USING (doc_id) "
        f"WHERE q.quality_bp >= {CURATE_MIN_QUALITY} AND d.lang IN "
        + "(" + ", ".join(f"'{x}'" for x in CURATE_LANGS) + ")), "
        "dd AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY text "
        "ORDER BY doc_id) AS rn FROM k) "
        "SELECT doc_id, lang, quality_bp FROM dd WHERE rn = 1 AND "
        "CAST(concat('0x', substr(md5(concat_ws('#', "
        "CAST(doc_id AS VARCHAR), '0')), 1, 15)) AS BIGINT) % 1000000 < "
        "CASE "
        + " ".join(f"WHEN lang = '{v}' THEN {int(f * 1_000_000)}"
                   for v, f in sorted(CURATE_FRACTIONS.items()))
        + " ELSE 1000000 END ORDER BY doc_id"
    ).format(quality=_quality_sql().replace(" ORDER BY doc_id", "")),
    "x28_redact": (
        "SELECT doc_id, "
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        "text, "
        f"'{text.REDACTION_PATTERNS[0][1]}', '<url>', 'g'), "
        f"'{text.REDACTION_PATTERNS[1][1]}', '<email>', 'g'), "
        f"'{text.REDACTION_PATTERNS[2][1]}', '<phone>', 'g'), "
        f"'{text.REDACTION_PATTERNS[3][1]}', '<ipv4>', 'g') AS redacted, "
        "redacted <> text AS was_redacted "
        "FROM documents ORDER BY doc_id"
    ),
    # x29_pack_sequences: sequential greedy bin assignment (no SQL
    # equivalent) → rows-only driver check; invariants pinned by pytest.
    "x30_avro_roundtrip": (
        "SELECT 'events+0+' || CAST(event_id AS VARCHAR) AS _id, "
        "CAST(user_id AS VARCHAR) AS key, event_id AS off, event_type, "
        "ROUND(value, 2) AS val FROM events "
        "WHERE event_type = 'error' ORDER BY off"
    ),
    "x25_stratified_sample": (
        "SELECT doc_id, lang FROM documents WHERE "
        "CAST(concat('0x', substr(md5(concat_ws('#', "
        "CAST(doc_id AS VARCHAR), '0')), 1, 15)) AS BIGINT) % 1000000 < "
        "CASE "
        + " ".join(
            f"WHEN lang = '{v}' THEN {int(f * 1_000_000)}"
            for v, f in sorted(STRATA_FRACTIONS.items()))
        + f" ELSE {int(STRATA_DEFAULT * 1_000_000)} END "
        "ORDER BY doc_id"
    ),
    "x26_vocab_topk": (
        "WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS token "
        "FROM documents), "
        "c AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY token "
        f"ORDER BY cnt DESC, token LIMIT {VOCAB_K}) "
        "SELECT token, cnt, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, "
        "token) AS INTEGER) AS rk FROM c ORDER BY rk"
    ),
    "x31_decontaminate": (
        f"WITH {_SHINGLES}, "
        f"b AS (SELECT DISTINCT s FROM sh WHERE doc_id % {DECON_BENCH_MOD} = 0), "
        "hits AS (SELECT doc_id, COUNT(*) AS n_hits FROM sh JOIN b USING (s) "
        f"WHERE doc_id % {DECON_BENCH_MOD} <> 0 GROUP BY doc_id) "
        "SELECT d.doc_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits, "
        "COALESCE(h.n_hits, 0) > 0 AS contaminated "
        "FROM documents d LEFT JOIN hits h USING (doc_id) "
        f"WHERE d.doc_id % {DECON_BENCH_MOD} <> 0 ORDER BY doc_id"
    ),
    "x32_repetition": (
        # non-distinct bigrams; SUM -> HUGEINT is fine inside the double
        # division but never emitted raw
        f"WITH t AS (SELECT doc_id, {_TOKS} AS t FROM documents), "
        "g AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS s FROM t, "
        f"generate_series(1, {ORACLE_MAX_TOKENS}) g(i) WHERE i + 1 <= len(t)), "
        "c AS (SELECT doc_id, s, COUNT(*) AS cnt FROM g GROUP BY doc_id, s), "
        "a AS (SELECT doc_id, MAX(cnt) AS top, SUM(cnt) AS total, "
        "COALESCE(SUM(cnt) FILTER (WHERE cnt > 1), 0) AS dup "
        "FROM c GROUP BY doc_id) "
        "SELECT d.doc_id, "
        "CAST(COALESCE(FLOOR(10000 * top / total), 0) AS BIGINT) AS top_bp, "
        "CAST(COALESCE(FLOOR(10000 * dup / total), 0) AS BIGINT) AS dup_bp "
        "FROM documents d LEFT JOIN a USING (doc_id) ORDER BY doc_id"
    ),
    "x33_pair_counts": (
        f"WITH t AS (SELECT doc_id, {_TOKS_LOWER} AS t "
        "FROM documents), "
        "g AS (SELECT t[i] || ' ' || t[i+1] AS pair FROM t, "
        f"generate_series(1, {ORACLE_MAX_TOKENS}) g(i) WHERE i + 1 <= len(t)), "
        "c AS (SELECT pair, COUNT(*) AS cnt FROM g GROUP BY pair "
        f"ORDER BY cnt DESC, pair LIMIT {PAIR_K}) "
        "SELECT pair, cnt, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, "
        "pair) AS INTEGER) AS rk FROM c ORDER BY rk"
    ),
    "x34_mixture_rebalance": (
        "WITH tot AS (SELECT lang, COUNT(*) AS tot FROM documents "
        "GROUP BY lang), "
        "mn AS (SELECT MIN(tot) AS mn FROM tot), "
        "r AS (SELECT lang, (1000000 * mn) // tot AS rate FROM tot, mn) "
        "SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang) "
        "WHERE CAST(concat('0x', substr(md5(concat_ws('#', "
        "CAST(doc_id AS VARCHAR), '0')), 1, 15)) AS BIGINT) % 1000000 "
        "< rate ORDER BY doc_id"
    ),
    # cross-side filter over the shared minhash CTE chain: the oracle
    # generates ALL candidate pairs then keeps opposite-parity ones —
    # the Spark side never materializes within-side pairs at all.
    "x35_incremental_near_dup": (
        f"WITH {_minhash_ctes()} {_JACCARD_SELECT} "
        "AND (c.da % 2) <> (c.db % 2) ORDER BY 1, 2"
    ),
    "x36_query_string_search": (
        "SELECT doc_id, lang, source FROM documents "
        "WHERE lang LIKE 'e_' OR source LIKE 'src1%' "
        "OR regexp_matches(lang, 'z.+') OR levenshtein(lang, 'fra') <= 2 "
        "ORDER BY doc_id"
    ),
    "x37_rollup_metrics": (
        "SELECT event_type, COUNT(*) AS cnt, "
        "ROUND(SUM(value), 2) AS sum_val, "
        "ROUND(MIN(value), 4) AS min_val, "
        "ROUND(MAX(value), 4) AS max_val "
        "FROM events WHERE CAST(ts AS DATE) BETWEEN '2024-01-05' "
        "AND '2024-01-20' GROUP BY event_type ORDER BY event_type"
    ),
    "x38_indexed_token_search": (
        "SELECT doc_id, lang FROM documents WHERE "
        f"list_contains(string_split(lower(text), ' '), '{INDEX_TERM}') "
        "ORDER BY doc_id"
    ),
    "x39_significant_terms": (
        "WITH tk AS (SELECT DISTINCT doc_id, lang = 'en' AS fg, "
        "unnest(string_split(lower(text), ' ')) AS token FROM documents), "
        "st AS (SELECT token, COUNT(*) AS bg_cnt, "
        "CAST(COALESCE(SUM(CASE WHEN fg THEN 1 END), 0) AS BIGINT) "
        "AS fg_cnt FROM tk GROUP BY token), "
        "tot AS (SELECT COUNT(*) AS n, CAST(COALESCE(SUM(CASE WHEN "
        "lang = 'en' THEN 1 END), 0) AS BIGINT) AS nf FROM documents) "
        "SELECT token, fg_cnt, bg_cnt, "
        "CAST(FLOOR(10000.0 * fg_cnt * n / (nf * bg_cnt)) AS BIGINT) "
        "AS score_bp FROM st, tot "
        f"WHERE fg_cnt >= {SIGTERMS_MIN_FG} "
        f"ORDER BY score_bp DESC, token LIMIT {SIGTERMS_K}"
    ),
    "x40_pipeline_aggs": (
        "WITH b AS (SELECT date_trunc('day', ts) AS bucket, "
        "COUNT(*) AS cnt, SUM(value) AS sum_v FROM events GROUP BY 1) "
        "SELECT CAST(bucket AS DATE) AS ds, cnt, "
        "ROUND(sum_v, 2) AS sum_val, "
        "cnt - LAG(cnt) OVER (ORDER BY bucket) AS deriv_cnt, "
        "CAST(SUM(cnt) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cnt, "
        f"ROUND(AVG(sum_v) OVER (ORDER BY bucket ROWS BETWEEN "
        f"{PIPE_MA_BUCKETS - 1} PRECEDING AND CURRENT ROW), 4) AS ma_sum "
        "FROM b ORDER BY ds"
    ),
    "x41_composite_agg": (
        "SELECT lang, source, COUNT(*) AS cnt FROM documents "
        f"WHERE (lang > '{COMPOSITE_AFTER[0]}') OR "
        f"(lang = '{COMPOSITE_AFTER[0]}' AND source > '{COMPOSITE_AFTER[1]}') "
        f"GROUP BY lang, source ORDER BY lang, source LIMIT {COMPOSITE_SIZE}"
    ),
    "x42_range_agg": (
        "SELECT CASE "
        f"WHEN value < {RANGE_BOUNDS[0]:g} THEN '*-{RANGE_BOUNDS[0]:g}' "
        f"WHEN value < {RANGE_BOUNDS[1]:g} THEN "
        f"'{RANGE_BOUNDS[0]:g}-{RANGE_BOUNDS[1]:g}' "
        f"WHEN value < {RANGE_BOUNDS[2]:g} THEN "
        f"'{RANGE_BOUNDS[1]:g}-{RANGE_BOUNDS[2]:g}' "
        f"ELSE '{RANGE_BOUNDS[2]:g}-*' END AS bucket, "
        "COUNT(*) AS cnt, ROUND(SUM(value), 2) AS sum_v FROM events "
        "WHERE value IS NOT NULL GROUP BY 1 ORDER BY bucket"
    ),
    "x43_filters_agg": (
        "SELECT COUNT(*) FILTER (WHERE event_type = 'click') AS clicks, "
        "COUNT(*) FILTER (WHERE value > 400) AS big_value, "
        "COUNT(*) FILTER (WHERE event_type = 'view' AND value < 100) "
        "AS view_small FROM events"
    ),
    "x44_rare_terms": _rare_terms_sql(),
    "x45_chunk_dedup": _chunk_dedup_sql(),
    "x46_canonical_docs": _canonical_sql(),
    "x47_shard_assign": _shard_sql(),
    "x48_label_centroids": (
        "WITH ec AS (SELECT label, "
        f"{_capped('embedding', ORACLE_MAX_DIM, 'dim')} AS embedding "
        "FROM embeddings), "
        "e AS (SELECT label, i - 1 AS pos, embedding[i] AS v "
        f"FROM ec, generate_series(1, {ORACLE_MAX_DIM}) g(i) "
        "WHERE i <= len(embedding)) "
        "SELECT label, pos, ROUND(AVG(v), 4) AS c FROM e "
        "GROUP BY label, pos ORDER BY label, pos"
    ),
    "x49_adjacency_matrix": (
        "WITH m AS (SELECT "
        "COUNT(*) FILTER (WHERE event_type = 'click') AS c_click, "
        "COUNT(*) FILTER (WHERE value > 300) AS c_big, "
        "COUNT(*) FILTER (WHERE user_id % 2 = 0) AS c_even, "
        "COUNT(*) FILTER (WHERE event_type = 'click' AND value > 300) "
        "AS c_click_big, "
        "COUNT(*) FILTER (WHERE event_type = 'click' AND user_id % 2 = 0) "
        "AS c_click_even, "
        "COUNT(*) FILTER (WHERE value > 300 AND user_id % 2 = 0) "
        "AS c_big_even FROM events) "
        "SELECT bucket, cnt FROM ("
        "SELECT 'click' AS bucket, c_click AS cnt FROM m "
        "UNION ALL SELECT 'click&big', c_click_big FROM m "
        "UNION ALL SELECT 'click&even_user', c_click_even FROM m "
        "UNION ALL SELECT 'big', c_big FROM m "
        "UNION ALL SELECT 'big&even_user', c_big_even FROM m "
        "UNION ALL SELECT 'even_user', c_even FROM m) "
        "WHERE cnt > 0 ORDER BY bucket"
    ),
    "x50_int8_quantize": (
        "WITH m AS (SELECT vec_id, "
        f"{_capped('embedding', ORACLE_MAX_DIM, 'dim')} AS embedding, "
        "list_max(list_transform(embedding, "
        "x -> abs(CAST(x AS DOUBLE)))) AS maxabs FROM embeddings), "
        "e AS (SELECT vec_id, i - 1 AS pos, "
        "CAST(embedding[i] AS DOUBLE) AS x, maxabs FROM m, "
        f"generate_series(1, {ORACLE_MAX_DIM}) g(i) WHERE i <= len(embedding)) "
        "SELECT vec_id, pos, CASE WHEN maxabs = 0 THEN 0 ELSE "
        "CAST(FLOOR(x * 127.0 / maxabs) AS INTEGER) END AS q "
        "FROM e ORDER BY vec_id, pos"
    ),
    "x51_gapfill_histogram": (
        "WITH b AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) "
        "AS bucket, COUNT(*) AS cnt FROM events "
        f"WHERE user_id = {GAPFILL_USER} GROUP BY 1), "
        "sp AS (SELECT unnest(generate_series("
        "(SELECT MIN(bucket) FROM b), (SELECT MAX(bucket) FROM b), "
        "INTERVAL 1 DAY)) AS bucket) "
        "SELECT CAST(sp.bucket AS DATE) AS ds, COALESCE(b.cnt, 0) AS cnt "
        "FROM sp LEFT JOIN b ON sp.bucket = b.bucket ORDER BY ds"
    ),
    "x52_percentile_ranks": (
        "SELECT ROUND(100.0 * COUNT(*) FILTER (WHERE value <= 50) / COUNT(va"
        "lue), 4) AS rank_50_0, ROUND(100.0 * COUNT(*) FILTER (WHERE "
        "value <= 250) / COUNT(value), 4) AS rank_250_0, ROUND(100.0 "
        "* COUNT(*) FILTER (WHERE value <= 400) / COUNT(value), 4) AS"
        " rank_400_0 "
        "FROM events"
    ),
    "x53_weighted_avg": (
        "SELECT l_returnflag, "
        "ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 4) "
        "AS w_avg FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"
    ),
    "x54_extended_stats": (
        "SELECT l_returnflag, COUNT(l_extendedprice) AS cnt, "
        "ROUND(MIN(l_extendedprice), 2) AS min_v, "
        "ROUND(MAX(l_extendedprice), 2) AS max_v, "
        "ROUND(AVG(l_extendedprice), 4) AS avg_v, "
        "ROUND(SUM(l_extendedprice), 2) AS sum_v, "
        "ROUND(var_pop(l_extendedprice), 1) AS var_v, "
        "ROUND(stddev_pop(l_extendedprice), 4) AS std_v "
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"
    ),
    "x55_oov_rate": (
        "WITH t AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) "
        "AS token FROM documents), "
        "v AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY token "
        "ORDER BY cnt DESC, token LIMIT 25), "
        "d AS (SELECT doc_id, COUNT(*) AS n_tokens, "
        "COUNT(*) FILTER (WHERE token NOT IN (SELECT token FROM v)) "
        "AS n_oov FROM t GROUP BY doc_id) "
        "SELECT doc_id, n_tokens, n_oov, "
        "(10000 * n_oov) // n_tokens AS oov_bp FROM d ORDER BY doc_id"
    ),
    "x56_curation_v2": (
        "WITH RECURSIVE {}, {}, " + _OOV_CTES + ", "
        "m AS (SELECT cl.doc_id, cl.cluster_id, q.quality_bp "
        "FROM cl JOIN q USING (doc_id)), "
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id "
        "ORDER BY quality_bp DESC, doc_id) AS rn FROM m) "
        "SELECT d.doc_id, d.lang, r.quality_bp, oo.oov_bp "
        "FROM documents d JOIN r ON r.doc_id = d.doc_id AND r.rn = 1 "
        "JOIN oo ON oo.doc_id = d.doc_id "
        "WHERE r.quality_bp >= {} AND oo.oov_bp <= {} "
        "ORDER BY d.doc_id"
    ).format(_dup_clusters_ctes(), _quality_core(),
             CURATE_MIN_QUALITY, CURATE2_MAX_OOV),
    "x59_pq_ann": _pq_sql(),
    "x63_stored_pq": _pq_sql(),
    "x60_global_agg": (
        f"SELECT COUNT(*) FILTER (WHERE event_type = "
        f"'{GLOBAL_FILTER_TYPE}') AS cnt, "
        f"ROUND(SUM(value) FILTER (WHERE event_type = "
        f"'{GLOBAL_FILTER_TYPE}'), 2) AS sum_v, "
        f"ROUND(AVG(value) FILTER (WHERE event_type = "
        f"'{GLOBAL_FILTER_TYPE}'), 4) AS avg_v, "
        "COUNT(*) AS global_cnt, "
        "ROUND(SUM(value), 2) AS global_sum_v, "
        "ROUND(AVG(value), 4) AS global_avg_v FROM events"
    ),
    "x61_missing_agg": (
        "WITH s AS (SELECT event_type, CASE WHEN "
        f"CAST(json_extract_string(props, '$.k') AS INT) % {MISSING_MOD} "
        "!= 0 THEN CAST(json_extract_string(props, '$.k') AS INT) END "
        "AS k_sparse FROM events) "
        "SELECT event_type, "
        "COUNT(*) FILTER (WHERE k_sparse IS NULL) AS missing_cnt, "
        "COUNT(k_sparse) AS present_cnt FROM s "
        "GROUP BY event_type ORDER BY event_type"
    ),
    "x62_sampler_agg": (
        "WITH top AS (SELECT event_type, value FROM events "
        f"ORDER BY value DESC, event_id LIMIT {SAMPLER_SHARD_SIZE}) "
        "SELECT event_type, COUNT(*) AS cnt, "
        "ROUND(AVG(value), 4) AS avg_score FROM top "
        "GROUP BY event_type ORDER BY event_type"
    ),
    "x64_chunk_windows": (
        f"WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents), "
        "c AS (SELECT doc_id, i AS chunk_id, "
        f"toks[(i*{CHUNK_STRIDE}+1):(i*{CHUNK_STRIDE}+{CHUNK_WINDOW})] "
        "AS w FROM t, "
        f"generate_series(0, {ORACLE_MAX_TOKENS // CHUNK_STRIDE}) g(i) "
        f"WHERE i*{CHUNK_STRIDE} < len(toks)) "
        "SELECT doc_id, chunk_id, array_to_string(w, ' ') AS chunk_text, "
        "CAST(len(w) AS INTEGER) AS chunk_tokens FROM c "
        "ORDER BY doc_id, chunk_id"
    ),
    # byte-slicing in VARCHAR domain is only exact while the text is
    # pure ASCII; a fixture change that introduces multi-byte chars
    # must fail LOUDLY, not hash-mismatch confusingly
    "x66_pack_sharded": _pack_sharded_sql(),
    "x67_stored_clusters": _dup_clusters_sql(),
    "x68_embedding_near_dup_bucketed": _embedding_near_dup_bucketed_sql(),
    "x69_exact_substr": _exact_substr_sql(),
    "x70_resize_images": _resize_images_sql(),
    "x71_unigram_logprob": _unigram_logprob_sql(),
    "x72_cms_counts": _cms_counts_sql(),
    "x73_semantic_dedup": _semantic_dedup_sql(),
    "x74_stored_semantic_pairs": _embedding_near_dup_bucketed_sql(),
    "x75_exact_substr_strip": _exact_substr_strip_sql(),
    "x76_stored_substr_spans": _exact_substr_sql(),
    "x77_benchmark_spans": _benchmark_spans_sql(),
    "x79_snm_near_dup": _snm_near_dup_sql(),
    "x80_weighted_sample": _weighted_sample_sql(),
    "x81_ann_lsh": _ann_lsh_sql(),
    "x82_hard_negatives": _hard_negatives_sql(),
    # x83 serves x81 from the stored index — same oracle proves the
    # roundtrip is lossless (the x58/x63/x74 stance)
    "x83_stored_lsh": _ann_lsh_sql(),
    "x84_ann_lsh_multiprobe": _ann_lsh_multiprobe_sql(),
    "x87_diversified_sampler": (
        "WITH capped AS (SELECT event_id, event_type, value FROM ("
        "SELECT event_id, event_type, value, ROW_NUMBER() OVER "
        "(PARTITION BY user_id ORDER BY value DESC, event_id) AS r "
        f"FROM events) s WHERE r <= {DIV_SAMPLER_MAX_PER_USER}), "
        "top AS (SELECT event_type, value FROM ("
        "SELECT event_type, value, ROW_NUMBER() OVER (ORDER BY value "
        "DESC, event_id) AS r FROM capped) s "
        f"WHERE r <= {DIV_SAMPLER_SHARD}) "
        "SELECT event_type, COUNT(*) AS cnt, "
        "ROUND(AVG(value), 4) AS avg_score "
        "FROM top GROUP BY event_type ORDER BY event_type"
    ),
    "x86_matrix_stats": " UNION ALL ".join(
        "SELECT '{a}' AS fa, '{b}' AS fb, COUNT(*) AS cnt, "
        "ROUND(AVG({a}), 4) AS mean_a, ROUND(AVG({b}), 4) AS mean_b, "
        "ROUND(STDDEV_SAMP({a}), 4) AS std_a, "
        "ROUND(STDDEV_SAMP({b}), 4) AS std_b, "
        "ROUND(CORR({a}, {b}), 6) AS corr FROM lineitem".format(a=a, b=b)
        for i, a in enumerate(MATRIX_FIELDS)
        for b in MATRIX_FIELDS[i + 1:]) + " ORDER BY fa, fb",
    "x85_bucket_pipeline": (
        "WITH b AS (SELECT date_trunc('day', ts) AS bucket, "
        "COUNT(*) AS cnt, SUM(value) AS sum_v FROM events GROUP BY 1), "
        "w AS (SELECT bucket, cnt, sum_v, "
        f"sum_v - LAG(sum_v, {SDIFF_LAG}) OVER (ORDER BY bucket) "
        "AS serial_diff, sum_v / cnt AS per_doc FROM b) "
        "SELECT CAST(bucket AS DATE) AS ds, cnt, "
        "ROUND(sum_v, 2) AS sum_val, "
        "ROUND(serial_diff, 2) AS serial_diff, "
        "ROUND(per_doc, 4) AS per_doc "
        f"FROM w WHERE cnt >= {BUCKET_MIN_CNT} "
        f"ORDER BY cnt DESC, bucket LIMIT {BUCKET_TOP}"
    ),
    "x78_curation_v3": (
        "WITH RECURSIVE {}, {}, " + _OOV_CTES + ", {} , "
        "m AS (SELECT cl.doc_id, cl.cluster_id, q.quality_bp "
        "FROM cl JOIN q USING (doc_id)), "
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id "
        "ORDER BY quality_bp DESC, doc_id) AS rn FROM m) "
        "SELECT d.doc_id, d.lang, r.quality_bp, oo.oov_bp, lm.avg_u "
        "FROM documents d JOIN r ON r.doc_id = d.doc_id AND r.rn = 1 "
        "JOIN oo ON oo.doc_id = d.doc_id "
        "JOIN lm ON lm.doc_id = d.doc_id "
        "WHERE r.quality_bp >= {} AND oo.oov_bp <= {} "
        "AND lm.avg_u <= {} "
        "ORDER BY d.doc_id"
    ).format(_dup_clusters_ctes(), _quality_core(), _unigram_ctes(),
             CURATE_MIN_QUALITY, CURATE2_MAX_OOV, CURATE3_MAX_AVG_U),
    "x65_frame_sample": (
        "WITH d0 AS (SELECT doc_id, CASE WHEN "
        "octet_length(encode(text)) <> length(text) THEN "
        "error('oracle frame-sample requires ascii text') ELSE text END "
        "AS text FROM documents), "
        "f AS (SELECT doc_id AS media_id, i AS frame_idx, "
        f"substr(text, i*{FRAME_BYTES}+1, {FRAME_BYTES}) AS frame "
        f"FROM d0, generate_series(0, {FRAME_MAX - 1}) g(i) "
        f"WHERE i < LEAST({FRAME_MAX}, "
        f"GREATEST(1, length(text) // {FRAME_BYTES}))) "
        "SELECT media_id, frame_idx, CAST(length(frame) AS BIGINT) "
        "AS frame_len, md5(frame) AS frame_md5 FROM f "
        "ORDER BY media_id, frame_idx"
    ),
    "x88_bm25_topk": _bm25_sql(),
    "x89_more_like_this": _mlt_sql(),
    "x90_highlight": _highlight_sql(),
    "x91_percolate": _percolate_sql(),
    "x92_term_suggest": _suggest_sql(),
    "x93_auto_date_histogram": _auto_hist_sql(),
    "x94_dsir_weights": _dsir_sql(),
    "x95_token_budget": _token_budget_sql(),
    "x96_bigram_logprob": _bigram_sql(),
    "x97_mmr_rerank": _mmr_sql(),
    "x98_function_score": _function_score_sql(),
    "x99_collapse": _collapse_sql(),
    "x100_string_stats": _string_stats_sql(),
    "x101_boxplot": _boxplot_sql(),
    "x102_t_test": _t_test_sql(),
    "x103_rate": _rate_sql(),
    "x104_top_metrics": (
        "SELECT event_type, ts, value, user_id FROM ("
        "SELECT event_type, ts, value, user_id, ROW_NUMBER() OVER "
        "(PARTITION BY event_type ORDER BY ts DESC, event_id) AS rn "
        "FROM events) s WHERE rn = 1 ORDER BY event_type"
    ),
    "x105_multi_terms": (
        "SELECT lang, source, COUNT(*) AS cnt, "
        "CAST(SUM(n_chars) AS BIGINT) AS sum_v FROM documents "
        "GROUP BY lang, source "
        f"ORDER BY cnt DESC, lang, source LIMIT {MT_SIZE}"
    ),
    "x106_frequent_item_sets": (
        "WITH items AS (SELECT DISTINCT user_id, event_type "
        "FROM events), "
        "p AS (SELECT a.event_type AS ia, b.event_type AS ib "
        "FROM items a JOIN items b USING (user_id) "
        "WHERE a.event_type < b.event_type) "
        "SELECT ia, ib, COUNT(*) AS support FROM p GROUP BY ia, ib "
        f"HAVING COUNT(*) >= {FIS_MIN_SUPPORT} "
        f"ORDER BY support DESC, ia, ib LIMIT {FIS_SIZE}"
    ),
    "x107_categorize_text": (
        "SELECT array_to_string(list_slice(string_split(text, ' '), "
        f"1, {CAT_PREFIX}), ' ') AS category, COUNT(*) AS cnt, "
        "MIN(doc_id) AS example_id FROM documents "
        f"WHERE length(string_split(text, ' ')) >= {CAT_PREFIX} "
        "GROUP BY category "
        f"ORDER BY cnt DESC, category LIMIT {CAT_SIZE}"
    ),
    "x108_change_point": _change_point_sql(),
    "x109_random_sampler": (
        f"WITH s AS (SELECT event_type, value FROM events WHERE "
        f"{_bucket_sql('event_id')} < {RSAMPLER_PPM}) "
        "SELECT event_type, COUNT(*) AS cnt, "
        f"CAST(COUNT(*) * 1000000 // {RSAMPLER_PPM} AS BIGINT) "
        "AS est_total, ROUND(AVG(value), 4) AS avg_v "
        "FROM s GROUP BY event_type ORDER BY event_type"
    ),
    "x110_ppl_gate": _ppl_gate_sql(),
    "x111_has_child": (
        "WITH m AS (SELECT l_orderkey AS o_orderkey, COUNT(*) AS "
        f"n_matched FROM lineitem WHERE l_quantity >= {HC_MIN_QTY} "
        f"GROUP BY 1 HAVING COUNT(*) >= {HC_MIN_CHILDREN}) "
        "SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice, "
        "m.n_matched FROM orders o JOIN m USING (o_orderkey) "
        "ORDER BY o_orderkey"
    ),
    "x112_has_parent": (
        "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem "
        "WHERE l_orderkey IN (SELECT o_orderkey FROM orders "
        f"WHERE o_orderpriority = '{HP_PRIORITY}') "
        "ORDER BY l_orderkey, l_linenumber"
    ),
    "x113_novelty": _novelty_sql(),
    "x114_rank_eval": _rank_eval_sql(),
    "x115_zipf_fit": _zipf_fit_sql(),
    "x116_moving_percentile": (
        "WITH b0 AS (SELECT date_trunc('day', ts) AS bucket, "
        "ROUND(SUM(value), 4) AS sum_v FROM events GROUP BY 1), "
        "b AS (SELECT bucket, CAST(ROUND(sum_v * 1e6) AS BIGINT) "
        "AS v_u FROM b0) "
        "SELECT CAST(bucket AS DATE) AS ds, v_u, "
        f"quantile_cont(v_u, {MOVP_Q!r}) OVER (ORDER BY bucket "
        f"ROWS BETWEEN {MOVP_WINDOW - 1} PRECEDING AND CURRENT ROW) "
        "AS p_u FROM b ORDER BY ds"
    ),
    "x117_pinned_query": _pinned_query_sql(),
    "x118_match_phrase": (
        "WITH g AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS gm "
        f"FROM (SELECT doc_id, {_TOKS} AS t FROM documents), "
        f"generate_series(1, {ORACLE_MAX_TOKENS}) gs(i) "
        "WHERE i + 1 <= len(t)) "
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences "
        f"FROM g WHERE gm = '{' '.join(PHRASE)}' "
        "GROUP BY doc_id ORDER BY doc_id"
    ),
    "x119_span_near": (
        "WITH p AS (SELECT doc_id, i - 1 AS p, t[i] AS w "
        f"FROM (SELECT doc_id, {_TOKS} AS t FROM documents), "
        f"generate_series(1, {ORACLE_MAX_TOKENS}) gs(i) "
        f"WHERE i <= len(t) AND t[i] IN "
        f"('{SPAN_TERMS[0]}', '{SPAN_TERMS[1]}')), "
        f"a AS (SELECT doc_id, p AS pa FROM p "
        f"WHERE w = '{SPAN_TERMS[0]}'), "
        f"b AS (SELECT doc_id, p AS pb FROM p "
        f"WHERE w = '{SPAN_TERMS[1]}'), "
        "pr AS (SELECT a.doc_id FROM a JOIN b USING (doc_id) "
        f"WHERE pb > pa AND pb - pa <= {SPAN_SLOP + 1}) "
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs "
        "FROM pr GROUP BY doc_id ORDER BY doc_id"
    ),
    "x121_terms_set": (
        f"WITH {_TK_CTE} "
        "SELECT doc_id, CAST(COUNT(DISTINCT term) AS INT) AS n_matched "
        f"FROM tk WHERE term IN ({_TERMS_SET_IN}) "
        f"GROUP BY doc_id HAVING COUNT(DISTINCT term) >= {TERMS_SET_MIN} "
        "ORDER BY doc_id"
    ),
    "x122_dis_max": _dis_max_sql(),
    "x123_boosting": _boosting_sql(),
    "x127_explain_score": _explain_score_sql(),
    "x129_phrase_suggest": _phrase_suggest_sql(),
    # x133 serves x91 from the stored query table — same oracle proves
    # the roundtrip (the x57/x63/x74/x76/x83 stance)
    "x133_stored_percolate": _percolate_sql(),
    # interpolated from the SAME constants the Spark side uses
    # (GRAPH_SEED/GRAPH_MIN_FG/GRAPH_K) so changing them cannot
    # silently desynchronize the twin
    "x134_graph_explore": (
        "WITH d0 AS (SELECT doc_id, string_split(text, ' ') AS t "
        "FROM documents), "
        "tot AS (SELECT COUNT(*) AS n_docs, "
        f"CAST(SUM(CASE WHEN list_contains(t, '{GRAPH_SEED}') THEN 1 "
        "ELSE 0 END) AS BIGINT) AS n_seed FROM d0), "
        "fg AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS fg FROM "
        "(SELECT unnest(list_distinct(t)) AS term FROM d0 "
        f"WHERE list_contains(t, '{GRAPH_SEED}')) s "
        f"WHERE term <> '{GRAPH_SEED}' GROUP BY term "
        f"HAVING COUNT(*) >= {GRAPH_MIN_FG}), "
        "bg AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS bg FROM "
        "(SELECT doc_id, unnest(list_distinct(t)) AS term FROM d0) s "
        "WHERE term IN (SELECT term FROM fg) GROUP BY term) "
        f"SELECT '{GRAPH_SEED}' AS seed, fg.term, fg.fg, bg.bg, "
        "CAST(FLOOR(10000.0 * fg.fg * tot.n_docs / "
        "(CAST(tot.n_seed AS DOUBLE) * bg.bg)) AS BIGINT) AS lift_bp "
        "FROM fg JOIN bg USING (term) CROSS JOIN tot "
        f"ORDER BY lift_bp DESC, term LIMIT {GRAPH_K}"),
    "x136_bpe_merge_train": _bpe_merge_sql(),
    "x137_graph_explore_hops": _graph_hops_sql(),
    "x138_bpe_encode": _bpe_encode_sql(),
    "x139_hybrid_rrf": _hybrid_rrf_sql(),
    "x140_semantic_decon": _semantic_decon_sql(),
    "x141_nb_quality": _nb_quality_sql(),
    "x142_nb_eval": _nb_eval_sql(),
    # x143 serves x138 from the stored merge table — same oracle proves
    # the roundtrip (the x57/x133 stance)
    "x143_stored_bpe_encode": _bpe_encode_sql(),
    "x144_hybrid_rrf_lsh": _hybrid_rrf_lsh_sql(),
    "x145_kmeans_refine": _kmeans_refine_sql(),
    "x146_nb_roc": _nb_roc_sql(),
    "x147_ann_ivf_lloyd": _ann_ivf_lloyd_sql(),
    # x148 serves x147 from the stored index — same oracle proves the
    # roundtrip (the x57/x133 stance)
    "x148_stored_lloyd": _ann_ivf_lloyd_sql(),
    "x149_knn_graph": _knn_graph_sql(),
    "x150_mutual_knn": _mutual_knn_sql(),
    "x151_knn_clusters": _knn_clusters_sql(),
    "x152_cluster_sample": _cluster_sample_sql(),
    "x153_cluster_terms": _cluster_terms_sql(),
    "x154_bpe_fertility": _bpe_fertility_sql(),
    "x155_length_histogram": _length_histogram_sql(),
    "x156_lloyd_update": _lloyd_update_sql(),
    "x157_source_dup_matrix": _source_dup_matrix_sql(),
    "x158_lang_fair_gate": _lang_fair_gate_sql(),
    "x159_lang_card": _lang_card_sql(),
    "x161_curation_v4": _curation_v4_sql(),
    "x162_gopher_rules": _gopher_rules_sql(),
    "x163_knn_label_prop": _knn_label_prop_sql(),
    "x164_nb_calibration": _nb_calibration_sql(),
    "x165_gate_kappa": _gate_kappa_sql(),
    "x166_emb_outliers": _emb_outliers_sql(),
    "x167_pca_power": _pca_power_sql(),
    "x168_curation_v5": _curation_v5_sql(),
    "x169_rejection_report": _rejection_report_sql(),
    "x170_source_gate_matrix": _source_gate_matrix_sql(),
    "x171_dup_quality": _dup_quality_sql(),
    # x172 serves the x169 report from the persisted gate index — the
    # oracle is the same full-recompute SQL (store roundtrip must be
    # lossless), the established stored-twin discipline (x57/x58).
    "x172_stored_gates": _rejection_report_sql(),
    "x173_pca_convergence": _pca_convergence_sql(),
    "x174_corpus_map": _corpus_map_sql(),
    # x175 serves x149's graph from the persisted IVF index — same
    # oracle (lossless roundtrip), the stored-twin discipline.
    "x175_stored_knn_graph": _knn_graph_sql(),
    "x176_curation_impact": _curation_impact_sql(),
    # x177 serves x151's clusters from the stored graph — same oracle.
    "x177_stored_knn_clusters": _knn_clusters_sql(),
    # x178 serves x152's quota sample from the stored graph — same oracle.
    "x178_stored_cluster_sample": _cluster_sample_sql(),
    "x179_nb_reliability": _nb_reliability_sql(),
    "x180_label_confusion": _label_confusion_sql(),
    "x181_funnel": _funnel_sql(),
    "x182_retention": _retention_sql(),
    "x183_session_stats": _session_stats_sql(),
    "x184_event_transitions": _event_transitions_sql(),
    "x185_rolling_active": _rolling_active_sql(),
    "x186_rfm_segments": _rfm_sql(),
    "x187_error_spike": _error_spike_sql(),
    "x188_rocchio_confusion": _rocchio_sql(),
    "x189_funnel_latency": _funnel_latency_sql(),
    "x190_acf": _acf_sql(),
    "x191_dow_profile": _dow_profile_sql(),
    "x192_forecast_backtest": _forecast_backtest_sql(),
    # x193-x196 serve x185/x190/x187/x192 from the persisted rollup
    # index — same oracles (lossless roundtrip), the stored-twin
    # discipline.
    "x193_stored_rolling_active": _rolling_active_sql(),
    "x194_stored_acf": _acf_sql(),
    "x195_stored_error_spike": _error_spike_sql(),
    "x196_stored_forecast": _forecast_backtest_sql(),
    "x197_bot_flags": _bot_flags_sql(),
    "x198_mixture_waterfill": _mixture_waterfill_sql(),
    "x199_funnel_trend": _funnel_trend_sql(),
    "x200_source_divergence": _source_divergence_sql(),
    "x201_session_paths": _session_paths_sql(),
    "x202_pii_scan": _pii_scan_sql(),
    "x203_revenue_cohorts": _revenue_cohorts_sql(),
    "x204_session_cooccurrence": _session_cooccurrence_sql(),
    "x205_metric_alerts": _metric_alerts_sql(),
    "x206_growth_accounting": _growth_accounting_sql(),
    "x207_power_user_curve": _power_user_curve_sql(),
    "x208_last_touch_attribution": _last_touch_sql(),
    "x209_mad_anomalies": _mad_anomalies_sql(),
    "x210_cusum_changepoint": _cusum_sql(),
    "x211_purchase_intervals": _purchase_intervals_sql(),
    "x212_pagerank": _pagerank_sql(),
    "x213_graph_triangles": _graph_triangles_sql(),
    "x214_degree_histogram": _degree_histogram_sql(),
    # x215 serves x205's alerts from the persisted event-rollup
    # index — same oracle (lossless roundtrip), the stored-twin
    # discipline.
    "x215_stored_metric_alerts": _metric_alerts_sql(),
    "x216_lexical_diversity": _lexical_diversity_sql(),
    "x217_cell_modularity": _cell_modularity_sql(),
    "x218_personalized_pagerank": _ppr_sql(),
    "x219_landing_bounce": _landing_bounce_sql(),
    "x220_conversion_latency": _conversion_latency_sql(),
    "x221_char_entropy": _char_entropy_sql(),
    # x222-x224 serve x212/x209/x210 from persisted indexes — same
    # oracles (lossless roundtrip), the stored-twin discipline.
    "x222_stored_pagerank": _pagerank_sql(),
    "x223_stored_mad_anomalies": _mad_anomalies_sql(),
    "x224_stored_cusum": _cusum_sql(),
    "x225_ab_test": _ab_test_sql(),
    "x226_pmi_collocations": _pmi_collocations_sql(),
    "x227_ewma_anomalies": _ewma_sql(),
    "x228_link_prediction": _link_prediction_sql(),
    "x229_markov_backtest": _markov_backtest_sql(),
    "x230_layout_advisor": _layout_advisor_sql(),
    # x231 serves x227 from the persisted event-rollup index — same
    # oracle (lossless roundtrip), the stored-twin discipline.
    "x231_stored_ewma": _ewma_sql(),
    "x232_column_stats": _column_stats_sql(),
    "x233_variant_funnel": _variant_funnel_sql(),
    "x234_latency_cdf": _latency_cdf_sql(),
    "x235_stl_anomalies": _stl_anomalies_sql(),
    "x236_anomaly_ensemble": _anomaly_ensemble_sql(),
    "x237_langid_confusion": _langid_confusion_sql(),
    "x238_doc_metric_corr": _doc_metric_corr_sql(),
    "x239_dow_hour_heatmap": _dow_hour_heatmap_sql(),
    "x240_pricing_summary": _pricing_summary_sql(),
    "x241_top_revenue_orders": _top_revenue_orders_sql(),
    "x242_regional_volume": _regional_volume_sql(),
    "x243_returned_customers": _returned_customers_sql(),
    "x244_brand_share": _brand_share_sql(),
    "x245_big_orders": _big_orders_sql(),
    "x246_supplier_hhi": _supplier_hhi_sql(),
    "x247_priority_sla": _priority_sla_sql(),
    "x248_revenue_bands": _revenue_bands_sql(),
    "x249_overlap_near_dup": _overlap_near_dup_sql(),
    "x250_late_order_priorities": _late_order_priorities_sql(),
    "x251_idle_rich_customers": _idle_rich_customers_sql(),
    "x252_small_qty_revenue": _small_qty_revenue_sql(),
    "x253_market_share": _market_share_sql(),
    "x254_order_cadence": _order_cadence_sql(),
    "x255_daily_revenue_running": _daily_revenue_running_sql(),
    "x256_join_estimate_calibration": _join_estimate_calibration_sql(),
    "x257_priority_order_profile": _priority_order_profile_sql(),
    "x258_revenue_rollup": _revenue_rollup_sql(),
    "x259_top_customers_per_nation": _top_customers_per_nation_sql(),
    "x260_brand_affinity": _brand_affinity_sql(),
    # x261 serves x255 from the persisted two-batch order-rollup
    # index — same oracle (lossless roundtrip), stored-twin discipline.
    "x261_stored_daily_revenue": _daily_revenue_running_sql(),
    "x262_order_of_record": _order_of_record_sql(),
    "x263_brand_return_z": _brand_return_z_sql(),
    "x264_yoy_growth": _yoy_growth_sql(),
    "x265_priority_status_chi2": _priority_status_chi2_sql(),
    "x266_discount_curve": _discount_curve_sql(),
    "x267_lang_token_quartiles": _lang_token_quartiles_sql(),
    "x268_bucketed_join_revenue": _bucketed_join_revenue_sql(),
    "x269_disjunctive_revenue": _disjunctive_revenue_sql(),
    "x270_status_pivot": _status_pivot_sql(),
    "x271_tukey_outlier_orders": _tukey_outlier_orders_sql(),
    "x272_revenue_forecast_backtest": _revenue_forecast_backtest_sql(),
    "x273_referential_integrity": _referential_integrity_sql(),
    "x274_blocking_suppliers": _blocking_suppliers_sql(),
    "x275_forecast_revenue_change": _forecast_revenue_change_sql(),
    "x276_margin_proxy": _margin_proxy_sql(),
    "x277_top_supplier_quarter": _top_supplier_quarter_sql(),
    "x278_order_count_distribution": _order_count_distribution_sql(),
    "x279_trade_matrix": _trade_matrix_sql(),
    "x280_filtered_knn": _filtered_knn_sql(),
    "x281_filtered_ivf": _filtered_ivf_sql(),
    "x282_filtered_recall": _filtered_recall_sql(),
    "x283_variable_width_histogram": _variable_width_histogram_sql(),
    "x286_terms_with_other": (
        "WITH g AS (SELECT CAST(user_id AS VARCHAR) AS term, "
        "CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1), "
        f"top AS (SELECT term, cnt, 0 AS is_other FROM g "
        f"ORDER BY cnt DESC, term LIMIT {TWO_TOP_N}), "
        "o AS (SELECT '__other__' AS term, "
        "(SELECT SUM(cnt) FROM g) - (SELECT SUM(cnt) FROM top) AS cnt, "
        "1 AS is_other) "
        "SELECT term, CAST(cnt AS BIGINT) AS cnt, "
        "CAST(is_other AS INT) AS is_other "
        "FROM (SELECT * FROM top UNION ALL SELECT * FROM o) "
        "ORDER BY is_other, cnt DESC, term"
    ),
    "x284_delete_by_query": (
        # live view after the tombstone append = users whose LATEST
        # event is not the purged type; survivors keep their offsets
        "WITH l AS (SELECT CAST(user_id AS VARCHAR) AS key, "
        "arg_max(event_type, event_id) AS event_type, "
        "CAST(MAX(event_id) AS BIGINT) AS \"offset\" "
        "FROM events GROUP BY user_id) "
        "SELECT key, event_type, \"offset\" FROM l "
        f"WHERE event_type <> '{DBQ_TYPE}' ORDER BY key"
    ),
    "x285_update_by_query": (
        # updated keys surface the rewritten type at an appended
        # offset (global max + rank-by-key over the update batch)
        "WITH l AS (SELECT CAST(user_id AS VARCHAR) AS key, "
        "arg_max(event_type, event_id) AS et, "
        "CAST(MAX(event_id) AS BIGINT) AS off "
        "FROM events GROUP BY user_id), "
        "m AS (SELECT MAX(event_id) AS mo FROM events), "
        "u AS (SELECT key, ROW_NUMBER() OVER (ORDER BY key) AS rn "
        f"FROM l WHERE et = '{UBQ_FROM}') "
        "SELECT l.key, "
        f"CASE WHEN u.key IS NOT NULL THEN '{UBQ_TO}' ELSE l.et END "
        "AS event_type, "
        "CAST(CASE WHEN u.key IS NOT NULL THEN m.mo + u.rn "
        "ELSE l.off END AS BIGINT) AS offset "
        "FROM l LEFT JOIN u ON l.key = u.key CROSS JOIN m "
        "ORDER BY l.key"
    ),
    "x160_skew_report": _skew_report_sql(),
    "x135_field_caps": "SELECT 'event_id' AS field, 'bigint' AS dtype, CAST(MIN(event_id) AS DOUBLE) AS min_v, CAST(MAX(event_id) AS DOUBLE) AS max_v, CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls FROM events UNION ALL SELECT 'user_id' AS field, 'bigint' AS dtype, CAST(MIN(user_id) AS DOUBLE) AS min_v, CAST(MAX(user_id) AS DOUBLE) AS max_v, CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls FROM events UNION ALL SELECT 'value' AS field, 'double' AS dtype, CAST(MIN(value) AS DOUBLE) AS min_v, CAST(MAX(value) AS DOUBLE) AS max_v, CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls FROM events UNION ALL SELECT 'ts' AS field, 'timestamp' AS dtype, CAST(epoch_us(MIN(ts)) AS DOUBLE) AS min_v, CAST(epoch_us(MAX(ts)) AS DOUBLE) AS max_v, CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls FROM events ORDER BY field",
    "x130_term_vectors": (
        "WITH tk2 AS (SELECT doc_id, i - 1 AS p, t[i] AS term "
        f"FROM (SELECT doc_id, {_TOKS} AS t FROM documents), "
        f"generate_series(1, {ORACLE_MAX_TOKENS}) gs(i) "
        "WHERE i <= len(t)), "
        "d AS (SELECT term, CAST(COUNT(*) AS INT) AS tf, "
        "array_to_string(list_sort(list(p)), ',') AS positions "
        f"FROM tk2 WHERE doc_id = {TV_DOC} "
        "GROUP BY term), "
        "c AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS INT) AS df, "
        "CAST(COUNT(*) AS INT) AS ttf FROM tk2 "
        "WHERE term IN (SELECT term FROM d) GROUP BY term) "
        "SELECT d.term, d.tf, c.df, c.ttf, d.positions "
        "FROM d JOIN c USING (term) ORDER BY term"
    ),
    "x131_normalize": (
        "WITH b0 AS (SELECT date_trunc('day', ts) AS bucket, "
        "ROUND(SUM(value), 4) AS sum_v FROM events GROUP BY 1), "
        "b AS (SELECT bucket, CAST(ROUND(sum_v * 1e6) AS BIGINT) "
        "AS v_u FROM b0) "
        "SELECT CAST(bucket AS DATE) AS ds, v_u, "
        "ROUND(100.0 * v_u / CAST(SUM(v_u) OVER () AS DOUBLE), 4) "
        "AS pct_of_sum, "
        "CASE WHEN MAX(v_u) OVER () <> MIN(v_u) OVER () THEN "
        "ROUND(100.0 * (v_u - MIN(v_u) OVER ()) / "
        "CAST(MAX(v_u) OVER () - MIN(v_u) OVER () AS DOUBLE), 4) "
        "ELSE 0.0 END "
        "AS rescaled FROM b ORDER BY ds"
    ),
    "x132_cumulative_cardinality": (
        "WITH f AS (SELECT user_id, MIN(date_trunc('day', ts)) "
        "AS bucket FROM events GROUP BY user_id), "
        "p AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_new "
        "FROM f GROUP BY bucket) "
        "SELECT CAST(bucket AS DATE) AS ds, n_new, "
        "CAST(SUM(n_new) OVER (ORDER BY bucket ROWS UNBOUNDED "
        "PRECEDING) AS BIGINT) AS cum_distinct FROM p ORDER BY ds"
    ),
    "x128_completion_suggest": (
        "WITH t AS (SELECT unnest(string_split(lower(text), ' ')) "
        "AS word FROM documents) "
        "SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM t "
        f"WHERE word LIKE '{COMPLETION_PREFIX}%' GROUP BY word "
        f"ORDER BY cnt DESC, word LIMIT {COMPLETION_SIZE}"
    ),
    "x124_dedup_eval": _dedup_eval_sql(),
    "x126_corpus_report": _corpus_report_sql(),
    "x125_ann_recall": _ann_recall_sql(),
    "x120_temperature_mixture": (
        "WITH c AS (SELECT lang, COUNT(*) AS n_l FROM documents "
        "GROUP BY lang), "
        f"t AS (SELECT SUM(pow(n_l, {MIX_ALPHA!r})) AS sw FROM c), "
        "r AS (SELECT lang, LEAST(1000000, CAST(ROUND("
        f"{float(1_000_000 * MIX_BUDGET)!r} * pow(n_l, {MIX_ALPHA!r}) "
        "/ sw / n_l) AS BIGINT)) AS keep_ppm FROM c, t) "
        "SELECT doc_id, lang FROM documents JOIN r USING (lang) "
        f"WHERE {_bucket_sql('doc_id')} < keep_ppm ORDER BY doc_id"
    ),
}


# Serving-path subset for bench.py's `serving_s_per_query` gate: the
# stored-index twins (read-the-index-and-serve — the 100 TB
# steady-state path). EXPLICIT, not name-matched (ADVICE r8): a future
# key that merely contains "stored" must be declared here consciously
# or the drift tripwire in tests/test_registry_serving_keys.py fails.
# The declared q-set (q01–q22) joins this set inside bench.py.
SERVING_KEYS: tuple[str, ...] = (
    "x57_stored_near_dup",
    "x58_stored_ann",
    "x63_stored_pq",
    "x67_stored_clusters",
    "x74_stored_semantic_pairs",
    "x76_stored_substr_spans",
    "x83_stored_lsh",
    "x133_stored_percolate",
    "x143_stored_bpe_encode",
    "x148_stored_lloyd",
    "x172_stored_gates",
    "x175_stored_knn_graph",
    "x177_stored_knn_clusters",
    "x178_stored_cluster_sample",
    "x193_stored_rolling_active",
    "x194_stored_acf",
    "x195_stored_error_spike",
    "x196_stored_forecast",
    "x215_stored_metric_alerts",
    "x222_stored_pagerank",
    "x223_stored_mad_anomalies",
    "x224_stored_cusum",
    "x231_stored_ewma",
    "x261_stored_daily_revenue",
    "x290_stored_trend",
    "x296_stored_scd2",
    "x297_stored_pit",
    "x300_stored_binary_ann",
)
