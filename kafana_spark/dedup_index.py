"""Persisted near-dup index — index-once / query-many for dedup.

The reference's whole posture is "index once, query many"
(/root/reference/README.md:6): the ES store pays enrichment at write
time so queries never re-derive it. The near-dup pipeline deserves the
same treatment at 100 TB: MinHash signatures and hashed shingles are
pure per-document functions, so recomputing them per query (what the
standalone x02/x24/x35/x46 queries do, and what dominates the local
bench) is the first thing a real deployment amortizes away.

Layout under one index root:

- ``<path>/signatures`` — one row per doc: (doc_id, mh0..mhK) parquet.
- ``<path>/bands``      — the LSH index itself: (doc_id, band, bkey)
  rows, so queries bucket-join stored keys without re-hashing anything.
- ``<path>/shingles``   — hashed 3-gram inverted index: (doc_id, h)
  parquet, 8-byte shingle hashes (see hashed_shingle_set).

Each table is written and read through ``store.py``'s commit log: a
build is one ``replace_table`` per table, a batch one ``append_table``
under its id, a read the table's snapshot. All are append-only for
new documents (per-doc functions — no global state), so daily-batch
maintenance is one map-side pass over the new docs, and a stream
appends each micro-batch through ``streaming.pipeline.batch_sink``.
Queries then run LSH banding + exact verify FROM the store, touching
no text:

- ``near_dup_from_index``  — all verified pairs in the index.
- ``incremental_from_index`` — NEW batch × indexed corpus, the
  daily-crawl shape: the batch is signed on the fly, the corpus side
  reads the store; within-store pairs never materialize.

Equivalence with the recompute-everything pipeline is pinned by
tests/test_dedup_index.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafana_spark import batch_manifest as bm
from kafana_spark.operators.dedup import (
    candidate_pairs, hashed_shingle_set, jaccard_verify, lsh_bands,
    minhash_signature,
)
from kafana_spark.session import serve_materialize
from kafana_spark.store import append_table, read_table, replace_table

SIG_DIR = "signatures"
BAND_DIR = "bands"
SH_DIR = "shingles"


def _index_tables(df: DataFrame, text_col: str, commit) -> None:
    """Sign and shingle ``df`` and ``commit(frame, sub)`` each of the
    three tables."""
    sh = hashed_shingle_set(df, text_col=text_col)
    sig = minhash_signature(sh).persist()
    try:
        commit(sig, SIG_DIR)
        commit(lsh_bands(sig), BAND_DIR)
    finally:
        sig.unpersist()
    commit(sh, SH_DIR)


def build_dedup_index(df: DataFrame, path: str,
                      text_col: str = "text") -> None:
    """Sign + shingle the corpus once and persist the three tables.

    One map-side pass over the text (shingle explode), one combinable
    aggregation (signature mins); writes are partitioned however the
    input is — at 100 TB partition the input by ingest day and this
    becomes the per-day index build.

    A build is a full rebuild: one ``replace_table`` per table drops
    every appended batch, whose surviving (doc_id, h) shingle rows
    would otherwise double-count every jaccard intersection those docs
    participate in (ADVICE.md r5).
    """
    _index_tables(df, text_col,
                  lambda frame, sub: replace_table(frame, f"{path}/{sub}"))


def append_dedup_index(df: DataFrame, path: str,
                       text_col: str = "text", *, batch: str) -> None:
    """Add new documents to an existing index (append-only: signatures
    and shingles are per-doc functions, so no existing row changes).
    Each append names its own batch id (ingest day, stream batch). A
    redelivered id replaces its own files, so a replayed micro-batch
    never doubles its (doc_id, h) shingle rows, and a crash mid-write
    heals the same way: nothing was committed, and the retry's commit
    replaces whatever the log holds for it.

    Appends ENFORCE the merge-law precondition (r8 verdict #6):
    batches must be doc-disjoint, or the duplicated (doc_id, h)
    shingle rows silently inflate every jaccard the doc participates
    in. Two guards (batch_manifest.py): the content-fingerprint
    tripwire (same rows under a NEW batch id — the fresh-id retry
    footgun — raises) and an exact doc_id semi-join against the stored
    signatures of the other batches (one row per doc, column-pruned).
    Same-id redelivery replaces its own files and passes both.
    """
    sig_table = f"{path}/{SIG_DIR}"
    meta = bm.fresh_batch_meta(df, "doc_id", sig_table, batch)
    if meta["n"]:
        bm.enforce_disjoint_ids(df, sig_table, batch, "doc_id",
                                "dedup index")
    _index_tables(df, text_col, lambda frame, sub: append_table(
        frame, f"{path}/{sub}", batch,
        meta=meta if sub == SIG_DIR else None))


def near_dup_from_index(spark: SparkSession, path: str,
                        threshold: float = 0.5,
                        bucket_cap: int | None = None,
                        pair_first: bool | str = "auto") -> DataFrame:
    """All verified near-dup pairs (da, db, jaccard), da < db, computed
    from the stored signatures + shingles — no text is read and nothing
    is re-hashed.

    The candidate list is materialized eagerly at the serve boundary;
    its size is bounded only while the LSH edge list is — which
    banding guarantees on natural-entropy corpora, but NOT on the
    documented adversarial everything-similar regime (SCALE.md: ~80 GB
    of candidates at 500k low-entropy docs). On such corpora set
    ``bucket_cap`` — it bounds per-bucket pair fan-out and therefore
    the materialized checkpoint, at the documented recall trade.
    """
    bands = read_table(spark, f"{path}/{BAND_DIR}")
    sh = read_table(spark, f"{path}/{SH_DIR}")
    # materialize the candidate list ONCE: jaccard_verify references
    # `pairs` from four places (cand-id prune, intersection join x2
    # via sh_v, final join), and as a lazy subplan each reference
    # re-embeds the whole bands self-join — the measured sf10p serve
    # plan held 44 parquet scans and ZERO ReusedExchange, paying the
    # bucket join ~4x (and at 100 TB, 4x the dominant leg). The pair
    # list is the LSH-pruned edge set — small BY DESIGN (that is what
    # banding buys; see bucket_cap note above) — so the eager
    # checkpoint stores kilobytes, truncates the lineage, and every
    # consumer reads the stored blocks (reliable checkpoint when the
    # session has a checkpoint dir — see session.serve_materialize).
    pairs = serve_materialize(
        candidate_pairs(bands, bucket_cap=bucket_cap), eager=False)
    # ckpt_pairs=False: `pairs` is already the materialized checkpoint
    # above — a second serve boundary would only re-write the same
    # bounded rows (r12).
    return jaccard_verify(pairs, sh, threshold, pair_first=pair_first,
                          ckpt_pairs=False)


def clusters_from_index(spark: SparkSession, universe: DataFrame,
                        path: str, threshold: float = 0.5,
                        bucket_cap: int | None = None) -> DataFrame:
    """(doc_id, cluster_id) near-dup cluster assignment served from the
    PERSISTED index: verified pairs come from stored bands + shingles
    (no text read, nothing re-hashed), connected components run over
    that LSH-pruned edge list (same hybrid CC as dup_clusters), and
    docs without an edge — including docs too short to be indexed at
    all — label themselves. ``universe`` is the (doc_id) frame to
    label (an id-column scan, not a text re-derivation).

    This closes the index-once/query-many loop for the whole dedup
    consumption chain: x57 serves pairs, this serves clusters, and
    keep-one-per-cluster is a groupBy away — none of them touching
    text after the one-time build.
    """
    from kafana_spark.operators.dedup import _cc_labels

    pairs = near_dup_from_index(spark, path, threshold,
                                bucket_cap=bucket_cap) \
        .select("da", "db").persist()
    try:
        labels = _cc_labels(spark, pairs)
        return (universe.select("doc_id")
                .join(labels.withColumnRenamed("node", "doc_id"),
                      "doc_id", "left")
                .select("doc_id",
                        F.coalesce("label", "doc_id").alias("cluster_id")))
    finally:
        pairs.unpersist()


def incremental_from_index(new: DataFrame, path: str,
                           threshold: float = 0.5,
                           text_col: str = "text",
                           pair_first: bool | str = "auto") -> DataFrame:
    """Near-dup pairs between a NEW batch and the indexed corpus.

    The batch is signed on the fly (it is new — nothing stored yet);
    the corpus side reads the store. The band join is NEW×STORE only,
    so per-bucket cost is |new∩bucket|·|store∩bucket| and the
    historical corpus is never verified against itself. Ids are
    expected to be disjoint across batch and store, but overlap is
    tolerated: store rows for any doc_id present in the batch are
    dropped (the batch copy wins — signatures/shingles are per-doc
    functions, so both copies are identical anyway) and self-pairs
    are filtered, so a re-delivered batch cannot inflate shingle
    intersections or jaccard values. Call append_dedup_index
    afterwards to fold the batch in.
    """
    spark = new.sparkSession
    # sh_new is materialized FIRST (r10 ADVICE): the candidate leg
    # (via bn) and the verify leg both derive from it, and with an
    # eager checkpoint on `cand` alone the two legs would evaluate
    # `new` on separate jobs — a non-deterministic batch (sample/
    # limit/stream source) could then silently diverge between its
    # own candidates and its verify shingles. The batch shingle set
    # is bounded by the batch size; both legs now read the one
    # materialized copy, which also stops the verify leg re-signing
    # the batch.
    sh_new = serve_materialize(
        hashed_shingle_set(new, text_col=text_col), eager=False)
    new_ids = sh_new.select("doc_id").distinct()
    bn = lsh_bands(minhash_signature(sh_new))
    bo = (read_table(spark, f"{path}/{BAND_DIR}")
          .join(F.broadcast(new_ids), "doc_id", "left_anti"))
    # materialized for the same reason as near_dup_from_index's pair
    # list: jaccard_verify references `cand` from four places, and as
    # a lazy subplan each reference re-embeds the NEWxSTORE band join
    # — the measured incremental plan held 126 parquet scans before
    # this. The candidate list is the LSH-pruned NEWxSTORE edge set —
    # small by design (bucket entropy; see near_dup_from_index).
    cand = serve_materialize(
        bn.alias("a").join(bo.alias("b"), ["band", "bkey"])
        .select(F.least("a.doc_id", "b.doc_id").alias("da"),
                F.greatest("a.doc_id", "b.doc_id").alias("db"))
        .where(F.col("da") < F.col("db"))
        .distinct(), eager=False)
    sh_old = (read_table(spark, f"{path}/{SH_DIR}")
              .join(F.broadcast(new_ids), "doc_id", "left_anti"))
    # ckpt_pairs=False: `cand` is the materialized checkpoint above
    return jaccard_verify(cand, sh_new.unionByName(sh_old), threshold,
                          pair_first=pair_first, ckpt_pairs=False)


# ------------------------------------------------ substring (gram) index

GRAM_DIR = "grams"


def _gram_index(df: DataFrame, k: int | None, text_col: str) -> DataFrame:
    from kafana_spark.operators.dedup import (
        EXSUB_K, positional_gram_index,
    )

    return positional_gram_index(df, k or EXSUB_K, text_col=text_col)


def build_substr_index(df: DataFrame, path: str, k: int | None = None,
                       text_col: str = "text") -> None:
    """Persist the positional k-gram index the ExactSubstr family
    shares: (doc_id, pos, h) — a pure per-document function, so the
    same commit, append and rebuild discipline as the minhash index
    above applies: a build replaces the table."""
    replace_table(_gram_index(df, k, text_col), f"{path}/{GRAM_DIR}")


def append_substr_index(df: DataFrame, path: str, k: int | None = None,
                        text_col: str = "text", *, batch: str) -> None:
    """Append ``df``'s grams to the gram index as batch ``batch`` (a
    redelivered id replaces its own grams)."""
    append_table(_gram_index(df, k, text_col), f"{path}/{GRAM_DIR}", batch)


def spans_from_index(spark: SparkSession, path: str,
                     k: int | None = None,
                     min_count: int = 2) -> DataFrame:
    """x69's duplicated spans served from the STORED gram index: the
    expensive pass (token explode + per-gram md5 over the whole
    corpus) is paid at write time; serving is the duplicated-gram
    count, coverage semi-join and per-doc islands merge only — no
    text is read."""
    from kafana_spark.operators.dedup import EXSUB_K, _spans_from_grams

    g = read_table(spark, f"{path}/{GRAM_DIR}")
    return _spans_from_grams(g, k or EXSUB_K, min_count=min_count)
