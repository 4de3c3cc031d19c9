"""Deduplication operators for large-scale training-data pipelines.

Four families (SURVEY.md §2.E1/E2), all expressed as shuffled-join-
minimizing DataFrame plans:

- exact: content-hash groupBy (one shuffle on the hash key)
- minhash: shingle → K permuted min-hashes → LSH banding → bucket join
  → exact-Jaccard verify on candidates only (never the O(n²) cross
  join; candidate generation shuffles on (band, key) — bounded bucket
  sizes at scale via the band hash's uniformity)
- simhash: 32-bit fingerprint + chunk blocking + Hamming verify
- embedding: cosine-threshold self-join over LSH/modulo-sampled probes

Hash/permutation constants are engine-portable (see
kafana_spark.functions.portable_hash64) so every step here has an
exact DuckDB oracle twin generated in operators/registry.py.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafana_spark.functions import (
    MINHASH_P, as_double_array, cosine, portable_hash64, shingles,
)
from kafana_spark.session import serve_materialize

# --- MinHash parameters (fixed seed; the DuckDB oracle embeds the same
# literals, generated from this very list) --------------------------------
_rng = random.Random(42)
MINHASH_K = 32           # permutations
MINHASH_BANDS = 16       # bands of 2 rows → recall ≈ .99 at J = 0.5
MINHASH_ROWS = MINHASH_K // MINHASH_BANDS
MINHASH_COEFFS: list[tuple[int, int]] = [
    (_rng.randrange(1, MINHASH_P), _rng.randrange(0, MINHASH_P))
    for _ in range(MINHASH_K)
]

SIMHASH_BITS = 32
SIMHASH_CHUNKS = 4       # 8-bit blocking chunks
SIMHASH_MAX_HAMMING = 4


# ---------------------------------------------------------------- exact

def exact_dedup(df: DataFrame, cols: list[str] | None = None,
                id_col: str = "doc_id") -> DataFrame:
    """Keep-first exact dedup: one survivor (min id) per content group.

    At scale: group on sha2 of the content, not the content itself, so
    the shuffle key is 32 bytes regardless of document size.
    """
    content = F.concat_ws("\x1f", *(cols or ["text"]))
    h = F.sha2(content, 256)
    w = Window.partitionBy(h).orderBy(F.col(id_col))
    return (df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn"))


# -------------------------------------------------------------- minhash

def shingle_set(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", n: int = 3) -> DataFrame:
    """(id, shingle) pairs — the inverted index every near-dup op shares."""
    return df.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("s"))


def hashed_shingle_set(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3,
                       hash_fn: str = "md5") -> DataFrame:
    """(id, h) pairs: the inverted index with each shingle replaced by
    its 60-bit portable hash, computed ONCE at explode time.

    Every downstream stage (signature mins, intersection join, size
    counts) then shuffles/compares 8-byte longs instead of ~25-byte
    strings — at 100 TB the difference between shuffling the corpus
    and shuffling a third of it. Shingles are distinct per document,
    so hash collisions (P ≈ n²/2⁶¹ per pair) are the only way counts
    can differ from the string-keyed oracle — negligible and caught by
    the oracle gate if ever hit.

    ``hash_fn``: "md5" (default — the cross-engine oracle contract) or
    "xxhash64" (the documented production setting: ~2-3x cheaper per
    row, not DuckDB-replayable). See functions.shingle_hash64.
    """
    from kafana_spark.functions import shingle_hash64

    # explode first, hash after: the post-explode projection is
    # whole-stage-codegen'd, while a hash inside the array transform
    # runs as an interpreted higher-order lambda (~30% slower measured)
    return (df.select(
        F.col(id_col),
        F.explode(shingles(F.col(text_col), n)).alias("s"))
        .select(id_col, shingle_hash64(F.col("s"), hash_fn).alias("h")))


def _spread_scan(df: DataFrame) -> DataFrame:
    """registry._spread's contract for dedup-internal call sites:
    restore executor-wide parallelism on a RAW-SCAN frame about to
    feed a heavy narrow stage (the local single-row-group testdata
    is unsplittable → one task). No-op whenever the scan already
    yields >= defaultParallelism partitions (any real table). Only
    ever call on cheap projections — the .rdd probe compiles the
    plan driver-side."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism)


def minhash_signature(sh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """K min-hash values per document (one aggregation, map-side
    combinable — partial mins merge associatively on the shuffle).

    The md5-based portable hash is projected ONCE per shingle row
    before the aggregation — referencing it inside each of the K agg
    expressions would recompute the md5 K times per row. Accepts
    either a string inverted index (column ``s``) or a pre-hashed one
    (column ``h`` from hashed_shingle_set).
    """
    h = (portable_hash64(F.col("s")) if "s" in sh.columns
         else F.col("h"))
    hashed = sh.select(id_col, (h % MINHASH_P).alias("hm"))
    aggs = [
        F.min((F.lit(a) * F.col("hm") + F.lit(b)) % MINHASH_P).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def lsh_bands(sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Explode the signature into (band, band_key) rows for bucketing."""
    bands = []
    for b in range(MINHASH_BANDS):
        cols = [F.col(f"mh{b * MINHASH_ROWS + r}").cast("string")
                for r in range(MINHASH_ROWS)]
        bands.append(F.struct(F.lit(b).alias("band"),
                              F.md5(F.concat_ws(",", *cols)).alias("bkey")))
    return (sig.select(id_col, F.explode(F.array(*bands)).alias("bb"))
            .select(id_col, "bb.band", "bb.bkey"))


def candidate_pairs(bands: DataFrame, id_col: str = "doc_id",
                    bucket_cap: int | None = None) -> DataFrame:
    """Distinct id pairs sharing ≥1 LSH bucket (da < db).

    ``bucket_cap`` is an explicit recall/cost safety valve: a bucket of
    B ids contributes B(B-1)/2 candidate pairs, so one adversarial
    bucket can dominate the whole job. Buckets holding more than
    ``bucket_cap`` ids are skipped (their ids usually still pair in
    their other, smaller bands). Exact-duplicate collapse
    (minhash_near_dup ``collapse_exact``) is the semantics-preserving
    fix for duplicate-heavy corpora; the cap guards what remains.
    Default None = exact behavior.
    """
    if bucket_cap is not None:
        sizes = (bands.groupBy("band", "bkey")
                 .agg(F.count(F.lit(1)).alias("__bn"))
                 .where(F.col("__bn") > bucket_cap)
                 .select("band", "bkey"))
        bands = bands.join(sizes, ["band", "bkey"], "left_anti")
    a = bands.alias("a")
    b = bands.alias("b")
    return (a.join(b, [F.col(f"a.band") == F.col(f"b.band"),
                       F.col(f"a.bkey") == F.col(f"b.bkey"),
                       F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
            .select(F.col(f"a.{id_col}").alias("da"),
                    F.col(f"b.{id_col}").alias("db"))
            .distinct())


# Auto verify-shape thresholds (calibrated by timing both verify shapes
# on both regimes): prefer the default
# self-join unless its estimated join volume (Σ_h df² over the pruned
# inverted index) exceeds BOTH an absolute floor and a multiple of the
# pair-first volume (Σ_pairs |A|). At natural shingle entropy the two
# estimates are the same order (default wins on its shared exchange);
# on the low-entropy corpus Σ_h df² runs 2–4 orders larger.
AUTO_SHAPE_RATIO = 8.0
AUTO_SHAPE_FLOOR = 5e7


def verify_shape_estimates(pairs: DataFrame, sh_v: DataFrame,
                           key: str) -> tuple[int, int]:
    """Cheap volume estimates for the two jaccard_verify shapes, from
    frames the pipeline already has (two aggregation jobs — run them
    on a persisted ``sh_v``).

    Returns ``(est_self, est_pair_first)``: the default shape's
    self-join volume Σ_h df² (df = docs per shingle in the PRUNED
    index) and the pair-first shape's expansion volume Σ_pairs |A|
    (candidate list joined to da-side doc sizes).
    """
    df_counts = sh_v.groupBy(key).agg(F.count(F.lit(1)).alias("df"))
    sizes = sh_v.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # ONE action (r13): the two 1-row aggregates ride one union job
    # instead of two driver round-trips — and, when the boundaries
    # are lazy, this job is also the one that materializes them.
    rows = (df_counts.agg(F.sum(F.col("df") * F.col("df")).alias("v"))
            .select(F.lit("self").alias("k"), "v")
            .unionByName(
                pairs.select("da")
                .join(sizes.withColumnRenamed("doc_id", "da"), "da")
                .agg(F.sum("n").alias("v"))
                .select(F.lit("pf").alias("k"), "v"))
            .collect())
    vals = {r["k"]: (r["v"] or 0) for r in rows}
    return int(vals["self"]), int(vals["pf"])


def jaccard_verify(pairs: DataFrame, sh: DataFrame,
                   threshold: float, prune: bool = True,
                   pair_first: bool | str = False,
                   ckpt_pairs: bool = True,
                   ckpt_index: bool = True,
                   index_docs: DataFrame | None = None,
                   index_fn=None) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs only.

    ``index_docs``/``index_fn`` (r13, both or neither): the documents
    frame ``sh`` was built from and the builder itself. When given,
    the prune step semi-joins the DOCUMENTS to the candidate ids and
    shingles only the survivors (``index_fn(index_docs ⋉ cand_ids)``)
    instead of semi-joining the already-built index — the shingle
    pass for the verify side then runs over the candidate-bounded
    subset only, and the FULL-corpus shingle pass executes exactly
    once per pipeline (inside the pairs checkpoint job). Identical
    rows by construction: shingles of a doc subset ≡ the subset of
    the index (pinned by the family parity/oracle tests).

    ``pairs`` should be a DISTINCT (da, db) frame with da < db (every
    in-repo producer — candidate_pairs, SNM adjacency, the NEW×OLD
    band joins — is, by construction). The pair-first branch enforces
    distinctness itself because a duplicate pair would there inflate
    the intersection count (wrong jaccard), not just duplicate an
    output row.

    Two intersection shapes, A/B-measured (r11), pick by corpus
    entropy:

    - default (``pair_first=False``): self-join the id-pruned
      inverted index on the shingle. Join volume is Σ_h df² rows —
      it computes intersections for every CO-CANDIDATE doc pair
      sharing a shingle, a superset of the pair list — but both
      sides read ONE exchange (identical subplans → ReusedExchange),
      so at natural shingle entropy (small df) it is the cheaper
      plan: 6.8 s vs 9.8 s on x02 at sf0.1, min-of-3 warm, control
      flat.
    - ``pair_first=True``: join the candidate list to the da-side
      shingles first (Σ_pairs |A| rows), then one equi-join on
      (db, h) picks exactly the shared shingles. Pays 3 differently-
      keyed exchanges — slower at natural entropy — but its volume
      is bounded by the bucket-capped CANDIDATE list times doc
      length, where the default shape's Σ_h df² goes quadratic on
      the documented low-entropy/boilerplate regime (12.47B join
      rows at sf10-fitted vs the pair list's millions). Flip this on
      exactly where ``bucket_cap`` is in play.
    - ``pair_first="auto"`` (r12): estimate both volumes from the
      pruned index (``verify_shape_estimates`` — two aggregation
      jobs over the materialized ``sh_v``) and pick pair-first only
      when Σ_h df² exceeds both ``AUTO_SHAPE_FLOOR`` and
      ``AUTO_SHAPE_RATIO`` × Σ_pairs |A|. Where the estimates are
      close it picks the default shape, so behavior is unchanged at
      natural entropy.

    This function is EAGER as of r12 (the serve boundaries below are
    materialized at call time); the returned frame is the remaining
    verify tail over those bounded checkpoints.

    Output is identical under either shape (pinned by parity test).
    Sizes come from a broadcast-able per-doc aggregate — never a
    document×document cross join. With ``prune`` (default), the
    inverted index is first semi-joined down to docs that appear in
    ANY candidate pair, so the verify cost tracks the candidate
    count (what LSH bought us), not the corpus size.

    Serve boundaries (r12): ``pairs`` and the PRUNED index ``sh_v``
    are materialized once via :func:`serve_materialize` — the lazy
    shape re-derived the whole candidate pipeline for the cand-id
    semi-join AND again for the final pair join, and re-ran the
    shingle+hash pass for each of the verify legs ReusedExchange
    cannot conflate (the sizes aggregate is a different projection
    of sh_v than the self-join's exchange). Both frames are bounded
    by the LSH candidate list — exactly serve_materialize's contract
    — where the UNpruned corpus index stays deliberately uncached
    (minhash_near_dup's documented stance). NOT ``persist()``:
    Spark's CacheManager matches canonicalized plans, so a persisted
    subplan would be silently substituted into the next identical
    build in the same session (a separately-constructed pipeline —
    e.g. a re-run of the same query — would read the first run's
    cache instead of computing; measured, and exactly the cross-run
    caching this repo bans). localCheckpoint/checkpoint blocks are
    object-scoped: every build computes its own.
    """
    key = "h" if "h" in sh.columns else "s"
    # eager=False (r13): the pairs and index boundaries materialize in
    # the FIRST downstream job (the estimate job under "auto", else
    # the verify tail) instead of one eager job each — the index job
    # otherwise re-runs the collapse/scan prefix the pairs job just
    # ran (jobs cannot share exchanges). Lineage is truncated at
    # build time either way; blocks compute exactly once.
    if ckpt_pairs:
        pairs = serve_materialize(pairs.select("da", "db"), eager=False)
    sh_v = sh
    if prune:
        cand_ids = (pairs.select(F.col("da").alias("doc_id"))
                    .unionByName(pairs.select(F.col("db").alias("doc_id")))
                    .distinct())
        if index_docs is not None and index_fn is not None:
            # NOTE for callers: a broadcast semi-join inherits
            # index_docs' partitioning — pass a frame whose scan
            # parallelism is real (post-shuffle aggregates are; a raw
            # single-row-group local scan is ONE task and needs the
            # caller-side _spread treatment), or the shingle pass and
            # the whole verify tail reading the checkpoint serialize.
            sh_v = index_fn(index_docs.join(cand_ids, "doc_id",
                                            "left_semi"))
        else:
            sh_v = sh.join(cand_ids, "doc_id", "left_semi")
        if ckpt_index:
            sh_v = serve_materialize(sh_v, eager=False)
    if pair_first == "auto":
        est_self, est_pf = verify_shape_estimates(pairs, sh_v, key)
        pair_first = est_self > max(AUTO_SHAPE_FLOOR,
                                    AUTO_SHAPE_RATIO * est_pf)
    sizes = sh_v.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    if pair_first:
        # distinct is load-bearing here, not just normalization: a
        # duplicated (da, db) row would double-count every shared
        # shingle and inflate jaccard, where the default shape merely
        # duplicates output rows (r11 ADVICE — asymmetric footgun on
        # a public knob). Candidate lists are near-distinct already,
        # so this costs little relative to the shingle joins.
        p = (pairs.select("da", "db")
             .where(F.col("da") < F.col("db"))
             .distinct())
        a_sh = p.join(sh_v.withColumnRenamed("doc_id", "da"), "da")
        inter = (a_sh.join(sh_v.select(F.col("doc_id").alias("db"),
                                       F.col(key)),
                           ["db", key])
                 .groupBy("da", "db")
                 .agg(F.count(F.lit(1)).alias("i")))
        joined = inter
    else:
        inter = (sh_v.alias("x").join(sh_v.alias("y"),
                                      F.col(f"x.{key}") == F.col(f"y.{key}"))
                 .where(F.col("x.doc_id") < F.col("y.doc_id"))
                 .groupBy(F.col("x.doc_id").alias("da"),
                          F.col("y.doc_id").alias("db"))
                 .agg(F.count(F.lit(1)).alias("i")))
        joined = pairs.join(inter, ["da", "db"])
    joined = (joined
              .join(sizes.withColumnRenamed("doc_id", "da")
                    .withColumnRenamed("n", "na"), "da")
              .join(sizes.withColumnRenamed("doc_id", "db")
                    .withColumnRenamed("n", "nb"), "db"))
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return (joined.select("da", "db", F.round(jac, 4).alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


def minhash_near_dup(df: DataFrame, threshold: float = 0.5,
                     text_col: str = "text", collapse_exact: bool = True,
                     bucket_cap: int | None = None,
                     hash_fn: str = "md5",
                     pair_first: bool | str = "auto",
                     ckpt_pairs: bool = True,
                     ckpt_index: bool = True) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: shingle → signature → bands →
    bucket join → exact verify. Output: (da, db, jaccard).

    ``collapse_exact`` (default on) first collapses byte-identical
    texts to one representative (min doc_id), runs the whole expensive
    middle — shingling, signatures, banding, verify — on distinct
    texts only, then expands representative pairs back to member
    pairs. Identical texts have identical shingle sets, so the output
    is exactly the uncollapsed output; but a duplicate-heavy corpus
    (the common case in web crawls) no longer turns one LSH bucket
    into a quadratic candidate join. The expansion itself is
    output-bound — if the pair LIST is quadratic, that's the contract;
    use exact_dedup/cluster assignment when a pair list isn't needed.

    The shingle explode is deliberately NOT cached: it's a map-only
    stage, and re-running it twice is cheaper than writing 50× the
    corpus to the memory store (measured locally, and categorically
    true at 100 TB).

    ``hash_fn``: "md5" (default — the DuckDB-replayable oracle
    contract; every oracle-checked key uses it) or "xxhash64" (the
    production setting — the per-row md5 is the family's measured
    per-row tail, and swapping it buys ~2-3x on the whole chain at
    the price of cross-engine verifiability). The exact-Jaccard
    verify is hash-set-intersection based, so both settings compute
    identical jaccard values for any pair both surface; only LSH
    candidate generation is hash-dependent (and band-collision recall
    is the same by construction).

    ``pair_first`` defaults to ``"auto"`` (r13): at natural shingle
    entropy the estimator picks the default self-join shape (plans
    and outputs unchanged — the two estimate jobs over the bounded
    materialized index cost ~0.17 s locally), and past the
    documented low-entropy threshold it flips to pair-first — the
    10×-planted corpus crossed it (Σ_h df² = 140.7M join rows vs the
    pair list's ~7M; measured 38.6 s → 12.1 s at sf1, rows
    identical). The knob was opt-in-and-never-opted-into in r12,
    which left the quadratic regime reachable by default.

    ``ckpt_pairs``/``ckpt_index`` pass through to
    :func:`jaccard_verify`'s serve boundaries (default on — the
    direct-key A/B re-confirmed them on a quiet box: x35 0.62×, x02
    0.82×, x79 0.86×, x46 0.88×, interleaved min-of-3). Turn them OFF
    where the caller's plan consumes the SAME shingle pass in another
    branch: x124's exact-Jaccard truth side shares it in one lazy
    plan, and the eager boundary cut that cross-branch ReusedExchange
    (measured 1.22× regression, min-of-4 interleaved — the per-site
    discipline, not a default change).
    """
    if not collapse_exact:
        sh = hashed_shingle_set(df, text_col=text_col, hash_fn=hash_fn)
        pairs = candidate_pairs(lsh_bands(minhash_signature(sh)),
                                bucket_cap=bucket_cap)
        return jaccard_verify(
            pairs, sh, threshold,
            pair_first=pair_first,
            ckpt_pairs=ckpt_pairs, ckpt_index=ckpt_index,
            index_docs=df.select("doc_id", text_col),
            index_fn=lambda d: hashed_shingle_set(
                d, text_col=text_col, hash_fn=hash_fn))

    reps, members, rep_pairs, sh = _rep_near_dup(
        df, threshold, text_col, bucket_cap, hash_fn=hash_fn,
        pair_first=pair_first,
        ckpt_pairs=ckpt_pairs, ckpt_index=ckpt_index)

    # cross-group expansion: every member pair inherits its rep pair's
    # jaccard (identical shingle sets); least/greatest restores da<db
    ma = members.select(F.col("rep").alias("da"), F.col("member").alias("a"))
    mb = members.select(F.col("rep").alias("db"), F.col("member").alias("b"))
    cross = (rep_pairs.join(ma, "da").join(mb, "db")
             .select(F.least("a", "b").alias("da"),
                     F.greatest("a", "b").alias("db"), "jaccard"))
    # intra-group pairs: identical texts are jaccard 1.0 by definition —
    # but only for texts that shingle at all (the uncollapsed pipeline
    # never pairs shingle-less docs). A doc shingles iff it has >= n
    # tokens (shingles() returns the empty array below n), so the gate
    # is a per-row predicate on reps — NOT a third full run of the
    # shingle+hash index (r13; the reps exchange is already in this
    # job via `members`, so ReusedExchange serves it for free).
    shingled = (reps
                .where(F.size(F.split(F.col(text_col), " ")) >= 3)
                .select(F.col("doc_id").alias("rep")))
    mm = members.join(shingled, "rep")
    intra = (mm.alias("x").join(
        mm.alias("y"), (F.col("x.rep") == F.col("y.rep"))
        & (F.col("x.member") < F.col("y.member")))
        .select(F.col("x.member").alias("da"),
                F.col("y.member").alias("db"),
                F.lit(1.0).alias("jaccard")))
    if threshold > 1.0:
        intra = intra.where(F.lit(False))
    return cross.unionByName(intra)


def ngram_jaccard_dup(df: DataFrame, threshold: float = 0.5,
                      text_col: str = "text",
                      hash_fn: str = "md5") -> DataFrame:
    """Exact n-gram Jaccard near-dup: every pair sharing ≥1 shingle,
    verified exactly. The recall-1.0 oracle twin of minhash_near_dup.

    One inverted-index self-join does double duty: its groupBy count
    IS both the candidate set (any pair it produces shares a shingle)
    and the intersection size — no separate candidate-pair join or
    distinct pass.

    ``hash_fn``: "md5" (oracle contract) or "xxhash64" (production —
    see functions.shingle_hash64). Output is identical either way:
    intersection/size counts depend only on hash-set equality, never
    on hash values (r11, extending the r10 minhash knob).
    """
    sh = hashed_shingle_set(df, text_col=text_col, hash_fn=hash_fn)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (sh.alias("x").join(sh.alias("y"), F.col("x.h") == F.col("y.h"))
             .where(F.col("x.doc_id") < F.col("y.doc_id"))
             .groupBy(F.col("x.doc_id").alias("da"),
                      F.col("y.doc_id").alias("db"))
             .agg(F.count(F.lit(1)).alias("i")))
    joined = (inter
              .join(sizes.withColumnRenamed("doc_id", "da")
                    .withColumnRenamed("n", "na"), "da")
              .join(sizes.withColumnRenamed("doc_id", "db")
                    .withColumnRenamed("n", "nb"), "db"))
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return (joined.select("da", "db", F.round(jac, 4).alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


def overlap_near_dup(df: DataFrame, min_bp: int,
                     text_col: str = "text",
                     hash_fn: str = "md5") -> DataFrame:
    """Containment near-dup by overlap coefficient: |A∩B| / min(|A|,
    |B|) in integer basis points (truncating div — engine-exact, no
    float ratio).  The asymmetric sibling of :func:`ngram_jaccard_dup`
    — a short doc wholly contained in a long one scores 10000 bp here
    while its Jaccard can sit far below any resemblance threshold, so
    this is the family member that catches quote/subset/boilerplate
    nesting.  Identical inverted-index plan: one hashed-shingle
    self-join provides both candidates and intersection counts.

    ``hash_fn`` as in :func:`ngram_jaccard_dup` — counts are
    hash-value-independent, so both settings produce identical rows.
    """
    sh = hashed_shingle_set(df, text_col=text_col, hash_fn=hash_fn)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (sh.alias("x").join(sh.alias("y"), F.col("x.h") == F.col("y.h"))
             .where(F.col("x.doc_id") < F.col("y.doc_id"))
             .groupBy(F.col("x.doc_id").alias("da"),
                      F.col("y.doc_id").alias("db"))
             .agg(F.count(F.lit(1)).alias("i")))
    joined = (inter
              .join(sizes.withColumnRenamed("doc_id", "da")
                    .withColumnRenamed("n", "na"), "da")
              .join(sizes.withColumnRenamed("doc_id", "db")
                    .withColumnRenamed("n", "nb"), "db"))
    return (joined.select(
        "da", "db",
        F.expr("(i * 10000) div least(na, nb)").alias("overlap_bp"))
        .where(F.col("overlap_bp") >= min_bp)
        .orderBy("da", "db"))


#: exact-collapse join key: "hash" keys the rep<->member joins on
#: unhex(sha2(text)) — 32 bytes regardless of document size, the
#: exact_dedup discipline (guide §2.3: shuffle keys, not payloads; at
#: 100 TB the member joins otherwise re-shuffle the corpus TEXT).
#: "text" is the legacy key, kept for the A/B tool only.
_COLLAPSE_KEY = "hash"


def _rep_near_dup(df: DataFrame, threshold: float, text_col: str,
                  bucket_cap: int | None = None,
                  hash_fn: str = "md5", pair_first: bool | str = "auto",
                  ckpt_pairs: bool = True, ckpt_index: bool = True):
    """Shared exact-collapse front end: distinct-text representatives
    (min doc_id), the rep<->member map, verified near-dup pairs among
    REPRESENTATIVES only, and the rep shingle index.

    The member map joins on the 32-byte content hash, not the text
    (``_COLLAPSE_KEY``): min(text) over a sha2-equal group IS the
    group's text, so reps are identical, and the df-side shuffle
    carries (member, 32 B) instead of the corpus text — same stance
    as :func:`exact_dedup` (collision P ≈ n²/2²⁵⁷, and any hit is
    caught by the oracle gate). The two member projections here and
    in :func:`dup_clusters` are the SAME subplan, so one exchange
    serves both at runtime."""
    if _COLLAPSE_KEY == "hash":
        th = F.unhex(F.sha2(F.col(text_col), 256)).alias("__th")
        reps = (df.groupBy(th)
                .agg(F.min("doc_id").alias("doc_id"),
                     F.min(text_col).alias(text_col)))
        members = (df.select(F.col("doc_id").alias("member"), th)
                   .join(reps.select("__th",
                                     F.col("doc_id").alias("rep")),
                         "__th")
                   .select("rep", "member"))
        reps = reps.drop("__th")
    else:
        reps = df.groupBy(text_col).agg(F.min("doc_id").alias("doc_id"))
        members = (df.select(F.col("doc_id").alias("member"), text_col)
                   .join(reps.withColumnRenamed("doc_id", "rep"),
                         text_col)
                   .select("rep", "member"))
    sh = hashed_shingle_set(reps, text_col=text_col, hash_fn=hash_fn)
    pairs = candidate_pairs(lsh_bands(minhash_signature(sh)),
                            bucket_cap=bucket_cap)
    # index_docs/index_fn (r13): the verify side shingles only the
    # candidate-pruned reps — the full rep index is computed exactly
    # once (inside the pairs ckpt job) instead of a second time for
    # the pruned-index semi-join.
    return (reps, members,
            jaccard_verify(pairs, sh, threshold, pair_first=pair_first,
                           ckpt_pairs=ckpt_pairs, ckpt_index=ckpt_index,
                           index_docs=reps.select("doc_id", text_col),
                           index_fn=lambda d: hashed_shingle_set(
                               d, text_col=text_col, hash_fn=hash_fn)),
            sh)


def lsh_eval_counts(df: DataFrame, threshold: float,
                    text_col: str = "text",
                    hash_fn: str = "md5",
                    ckpt_gc: bool = False,
                    ckpt_pairs: bool = True,
                    ckpt_index: bool = True) -> DataFrame:
    """TP/FP/FN of MinHash+LSH near-dup pairs against the exact
    n-gram-Jaccard truth set, as ONE structured comparison (feeds
    x124_dedup_eval). Returns a 1-row (tp, fp, fn) frame whose counts
    are identical to full-outer-joining the two MEMBER-level pair
    lists (``minhash_near_dup`` vs ``ngram_jaccard_dup`` over the raw
    corpus) — pinned by test.

    r13 restructure (r12 verdict #2): the old shape ran the two
    pipelines independently — ``minhash_near_dup`` shingled the
    exact-collapsed reps while ``ngram_jaccard_dup`` shingled the RAW
    corpus (different canonical subplans, so not even runtime
    ReusedExchange could share them) and both expanded to member-level
    pair lists just to be counted. This shape:

    - collapses once and materializes ONE rep-level
      ``hashed_shingle_set`` (:func:`serve_materialize` — the single
      shingle scan in the executed plan); the LSH branch (signature →
      bands → candidates → verify) and the exact-truth branch (the
      ``ngram_jaccard_dup`` self-join core) both consume the
      checkpoint. At 100 TB one lazy mega-plan holding both full
      pipelines is fragile (an executor loss recomputes everything);
      the boundary makes the shared pass a bounded restart point.
    - never builds member-level pair lists: identical texts have
      identical shingle sets, so a rep pair (ra, rb) stands for
      |group(ra)|·|group(rb)| member pairs with the SAME jaccard, and
      intra-group pairs (jaccard 1.0, shingled groups only) are TP in
      BOTH sets. The comparison therefore full-outer-joins the two
      rep-level pair sets and weights by group counts — arithmetic
      instead of three expansion joins per branch.

    Equivalence to the member-level comparison: groups partition
    doc_ids, so each cross-group member pair maps to exactly one rep
    pair (no double counting); the LSH rep set is a subset of the
    exact rep set by construction (the verify step applies the same
    jaccard to the same index), so FP ≡ 0 mechanically, exactly as
    the old shape documented.
    """
    th = F.unhex(F.sha2(F.col(text_col), 256)).alias("__th")
    # Job 1 (the one shingle scan): collapse to distinct-text reps,
    # shingle+hash them, checkpoint the rep-level inverted index.
    reps = (df.groupBy(th)
            .agg(F.min("doc_id").alias("doc_id"),
                 F.min(text_col).alias(text_col)))
    sh = serve_materialize(
        hashed_shingle_set(reps, text_col=text_col, hash_fn=hash_fn),
        eager=False)
    # Per-rep member counts — the groupBy shuffles (32-byte key, two
    # longs), never the text. One row per distinct text. Deliberately
    # LAZY by default (``ckpt_gc=False``): all three references (the
    # two count joins and the intra term) live in ONE job, where
    # runtime ReusedExchange already computes the aggregate once —
    # the eager ckpt job only adds a serialized scheduling floor
    # (interleaved min-of-3: gc-ckpt 5.28 s vs lazy 4.97 s; the
    # nb_train lesson — boundaries pay only when the re-embedding
    # crosses jobs).
    gc = (df.groupBy(th).agg(F.min("doc_id").alias("rep"),
                             F.count(F.lit(1)).alias("cnt"))
          .select("rep", "cnt"))
    if ckpt_gc:
        gc = serve_materialize(gc)

    # LSH branch: candidates + exact verify, all over the sh ckpt
    # (pair_first="auto" — the r13 family default; the truth branch
    # below is the inter self-join BY DESIGN, it IS the candidate
    # generator there).
    cand = candidate_pairs(lsh_bands(minhash_signature(sh)))
    lsh_rep = jaccard_verify(cand, sh, threshold, pair_first="auto",
                             ckpt_pairs=ckpt_pairs,
                             ckpt_index=ckpt_index).select("da", "db")
    # Exact-truth branch: the ngram_jaccard_dup core over the SAME
    # ckpt (one inverted-index self-join is both candidate set and
    # intersection count).
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (sh.alias("x").join(sh.alias("y"),
                                F.col("x.h") == F.col("y.h"))
             .where(F.col("x.doc_id") < F.col("y.doc_id"))
             .groupBy(F.col("x.doc_id").alias("da"),
                      F.col("y.doc_id").alias("db"))
             .agg(F.count(F.lit(1)).alias("i")))
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    exact_rep = (inter
                 .join(sizes.withColumnRenamed("doc_id", "da")
                       .withColumnRenamed("n", "na"), "da")
                 .join(sizes.withColumnRenamed("doc_id", "db")
                       .withColumnRenamed("n", "nb"), "db")
                 .where(F.round(jac, 4) >= threshold)
                 .select("da", "db"))

    # Rep-level comparison, weighted by group sizes.
    j = (lsh_rep.withColumn("in_lsh", F.lit(1))
         .join(exact_rep.withColumn("in_ex", F.lit(1)),
               ["da", "db"], "full_outer")
         .join(gc.withColumnRenamed("rep", "da")
               .withColumnRenamed("cnt", "ca"), "da")
         .join(gc.withColumnRenamed("rep", "db")
               .withColumnRenamed("cnt", "cb"), "db"))
    w = F.col("ca") * F.col("cb")
    both = F.col("in_lsh").isNotNull() & F.col("in_ex").isNotNull()
    cross = j.agg(
        F.coalesce(F.sum(F.when(both, w)), F.lit(0))
        .cast("long").alias("tp_cross"),
        F.coalesce(F.sum(F.when(F.col("in_lsh").isNotNull()
                                & F.col("in_ex").isNull(), w)),
                   F.lit(0)).cast("long").alias("fp"),
        F.coalesce(F.sum(F.when(F.col("in_lsh").isNull()
                                & F.col("in_ex").isNotNull(), w)),
                   F.lit(0)).cast("long").alias("fn"))
    # Intra-group pairs: C(cnt, 2) per SHINGLED group — in both sets
    # (jaccard 1.0; shingle-less texts never pair in either pipeline).
    intra = (gc.join(sh.select(F.col("doc_id").alias("rep")).distinct(),
                     "rep")
             .agg(F.coalesce(
                 F.sum(F.expr("cnt * (cnt - 1) div 2")), F.lit(0))
                 .cast("long").alias("tp_intra")))
    if threshold > 1.0:
        intra = intra.select(F.lit(0).cast("long").alias("tp_intra"))
    return (cross.crossJoin(intra)
            .select((F.col("tp_cross") + F.col("tp_intra")).alias("tp"),
                    "fp", "fn"))


def _unionfind_labels(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find with path compression; labels = component min."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the root IS the component min
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def _derived_cc_gate(spark) -> int:
    """Size the driver union-find gate from spark.driver.memory instead
    of a constant: ~80 bytes/edge as Python tuples + dict slack ⇒ cap
    edges so the edge list stays under ~5% of driver heap. Floors at
    100k (any smaller graph is trivially driver-safe), caps at 5M (the
    r4 constant — beyond that the distributed path wins anyway)."""
    mem = spark.conf.get("spark.driver.memory", "1g") or "1g"
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    m = mem.strip().lower()
    # JVM memory-string grammar: optional 'b' after the unit letter
    # ('512m' == '512mb'), and a BARE number means MiB for
    # spark.driver.memory (Spark's byteStringAsMb default) — not bytes
    if len(m) > 1 and m.endswith("b") and m[-2] in units:
        m = m[:-1]
    if m and m[-1] in units:
        mult, num = units[m[-1]], m[:-1]
    else:
        mult, num = 1 << 20, m
    try:
        nbytes = int(float(num)) * mult
    except ValueError:
        nbytes = 1 << 30
    return max(100_000, min(5_000_000, nbytes // 20 // 80))


def _cc_labels(spark, pairs: DataFrame, max_iter: int = 25,
               driver_cc_max_edges: int | None = None) -> DataFrame:
    """(node, label) connected-component labels (label = min node in
    component) for every node that touches an edge of ``pairs``.

    Hybrid: the verified edge list is LSH-candidate-pruned — orders of
    magnitude smaller than the corpus. Up to ``driver_cc_max_edges``
    edges, union-find on the driver in one pass beats a shuffle round
    per graph-diameter hop by a wide margin (the corpus itself never
    moves to the driver); larger graphs run distributed iterative
    min-label propagation, whose round count tracks component DIAMETER
    (near-dup graphs are shallow cliques/chains), each round one
    shuffled join on node id, edges persisted once.

    ``driver_cc_max_edges=None`` (default) derives the gate from
    spark.driver.memory (≈heap/20/80B-per-edge, floored at 100k,
    capped at the old 5M constant) so a small-driver deployment never
    collects hundreds of MB of tuples just because a constant said so.
    """
    if driver_cc_max_edges is None:
        driver_cc_max_edges = _derived_cc_gate(spark)
    n_edges = pairs.count()
    if n_edges <= driver_cc_max_edges:
        lbl = _unionfind_labels(
            [(r.da, r.db) for r in pairs.collect()])
        return spark.createDataFrame(
            list(lbl.items()) or [(None, None)],
            "node long, label long").where(F.col("node").isNotNull())
    sym = (pairs.unionByName(
        pairs.select(F.col("db").alias("da"),
                     F.col("da").alias("db")))).persist()
    sym.count()
    # only nodes that touch an edge can ever change labels —
    # everything else is a singleton and skips the loop
    labels = (sym.select(F.col("da").alias("node")).distinct()
              .withColumn("label", F.col("node")).persist())
    labels.count()
    for _ in range(max_iter):
        nbr = (sym.join(labels.withColumnRenamed("node", "db")
                        .withColumnRenamed("label", "nl"), "db")
               .groupBy(F.col("da").alias("node"))
               .agg(F.min("nl").alias("nl")))
        # carry the old label so convergence is read off the
        # SAME materializing action — one job per round
        new_labels = (labels.withColumnRenamed("label", "old")
                      .join(nbr, "node")
                      .select("node", "old",
                              F.least(F.col("old"), F.col("nl"))
                              .alias("label"))
                      .persist())
        changed = new_labels.where(
            F.col("label") != F.col("old")).count()
        labels.unpersist()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    sym.unpersist()
    return labels


def dup_clusters(df: DataFrame, threshold: float = 0.5,
                 text_col: str = "text", max_iter: int = 25,
                 driver_cc_max_edges: int | None = None) -> DataFrame:
    """Near-dup CLUSTER assignment: (doc_id, cluster_id) for every
    document, where cluster_id is the min doc_id in the document's
    connected component of the verified near-dup pair graph (itself if
    isolated).

    This is the scale-sane consumption shape for dedup: a pair LIST is
    quadratic in group size, a cluster column is linear — downstream
    keep-one-per-cluster is a groupBy away.

    Two-level structure: exact-duplicate groups collapse to their
    representative (min doc_id) first, connected components run over
    the REPRESENTATIVE pair graph only, and members inherit their
    rep's label — identical texts trivially share a component, so this
    matches pair-graph CC exactly while skipping the quadratic pair
    expansion. Shingle-less rep groups (texts too short to pair) stay
    singletons, matching the pair semantics.

    CC itself is hybrid: edge lists up to ``driver_cc_max_edges``
    (they are LSH-pruned and verified — tiny next to the corpus) run
    union-find on the driver in one pass; larger graphs run
    distributed iterative min-label propagation, whose round count
    tracks component DIAMETER (near-dup graphs are shallow cliques/
    chains), each round one shuffled join on node id, edges persisted
    once. DuckDB oracle: recursive reachability CTE (registry x24).
    """
    spark = df.sparkSession
    reps, members, rep_pairs, sh = _rep_near_dup(df, threshold, text_col)
    pairs = rep_pairs.select("da", "db").persist()
    try:
        labels = _cc_labels(spark, pairs, max_iter, driver_cc_max_edges)
        # members inherit their rep's component label (the rep itself
        # when the rep has no edges — identical shingled texts still
        # share their jaccard-1.0 component). Shingle-less rep groups
        # have NO pairs in the oracle graph, so their members stay
        # individual singletons. "Has shingles" is the cheap per-row
        # predicate size(tokens) >= n — re-deriving it from the shingle
        # index would re-explode every rep's shingles and scan members
        # twice (the r1 inherit/isolated union did exactly that).
        from kafana_spark.functions import tokens
        has_sh = (F.size(tokens(F.col(text_col))) >= 3).alias("has_sh")
        if _COLLAPSE_KEY == "hash":
            # same 32-byte join key as _rep_near_dup's member map —
            # the df-side projection is the SAME subplan, so runtime
            # ReusedExchange serves both joins from one exchange and
            # the corpus text is never shuffled here
            th = F.unhex(F.sha2(F.col(text_col), 256)).alias("__th")
            reps_f = reps.select(th, F.col("doc_id").alias("rep"),
                                 has_sh)
            inherit = (df.select(F.col("doc_id").alias("member"), th)
                       .join(reps_f, "__th"))
        else:
            reps_f = reps.select(text_col, F.col("doc_id").alias("rep"),
                                 has_sh)
            inherit = (df.select(F.col("doc_id").alias("member"),
                                 text_col)
                       .join(reps_f, text_col))
        return (inherit
                .join(labels.withColumnRenamed("node", "rep"),
                      "rep", "left")
                .select(
                    F.col("member").alias("doc_id"),
                    F.when(~F.col("has_sh"), F.col("member"))
                    .otherwise(F.coalesce("label", "rep"))
                    .alias("cluster_id")))
    finally:
        pairs.unpersist()


def incremental_near_dup(new: DataFrame, old: DataFrame,
                         threshold: float = 0.5,
                         text_col: str = "text",
                         hash_fn: str = "md5") -> DataFrame:
    """Incremental near-dedup: near-dup pairs between an incoming batch
    and an existing corpus — the daily-crawl-vs-historical-index shape.
    Output (da, db, jaccard) with da < db. Ids are expected to be
    disjoint across the two frames, but overlap is tolerated: old-side
    rows for any doc_id present in the batch are dropped (both copies
    are identical — per-doc functions) and self-pairs filtered, so
    re-delivery cannot inflate intersections.

    The LSH bucket join is NEW×OLD only (each side gets its own band
    frame; the join never pairs two old docs), so the per-bucket cost is
    |new∩bucket|·|old∩bucket|, not |bucket|² — re-ingesting a day's
    batch never re-verifies the historical corpus against itself.
    Within-batch duplicates are the batch's own ``minhash_near_dup``
    pass. At 100 TB the old side's band frame is a precomputed index
    you persist once (it's a pure per-document function) and re-read
    per batch.

    ``hash_fn`` as in :func:`minhash_near_dup` (r11) — surfaced pairs
    carry exact set-intersection jaccards either way; apply ONE
    setting to both sides (and to any persisted index).
    """
    sh_new = hashed_shingle_set(new, text_col=text_col, hash_fn=hash_fn)
    new_ids = sh_new.select("doc_id").distinct()
    sh_old = (hashed_shingle_set(old, text_col=text_col, hash_fn=hash_fn)
              .join(F.broadcast(new_ids), "doc_id", "left_anti"))
    bn = lsh_bands(minhash_signature(sh_new))
    bo = lsh_bands(minhash_signature(sh_old))
    cand = (bn.alias("a").join(bo.alias("b"), ["band", "bkey"])
            .select(F.least("a.doc_id", "b.doc_id").alias("da"),
                    F.greatest("a.doc_id", "b.doc_id").alias("db"))
            .where(F.col("da") < F.col("db"))
            .distinct())
    # index_docs/index_fn (r13): the verify side re-shingles only the
    # candidate-pruned docs (same NEW-over-OLD precedence as the sh
    # union above) instead of semi-joining the two full indexes —
    # the corpus-side shingle pass runs once, in the band/ckpt job.
    old_docs = (_spread_scan(old.select("doc_id", text_col))
                .join(F.broadcast(new_ids), "doc_id", "left_anti"))
    return jaccard_verify(
        cand, sh_new.unionByName(sh_old), threshold,
        pair_first="auto",
        index_docs=new.select("doc_id", text_col).unionByName(old_docs),
        index_fn=lambda d: hashed_shingle_set(
            d, text_col=text_col, hash_fn=hash_fn))


# ------------------------------------------------------- decontamination

def benchmark_overlap(df: DataFrame, benchmark: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      n: int = 3, hash_fn: str = "md5") -> DataFrame:
    """Benchmark decontamination: per-document count of distinct word
    n-grams shared with a held-out benchmark/eval set.

    The standard pre-training hygiene pass (filter documents that leak
    eval data). Returns every corpus document as
    (id, n_hits, contaminated) — callers drop ``contaminated`` rows or
    audit by ``n_hits``.

    Scale shape: the benchmark side is tiny relative to the corpus
    (eval suites are MBs against 100 TB), so its distinct shingle
    hashes BROADCAST — the corpus-side probe is a map-side hash join on
    8-byte keys off the shared ``hashed_shingle_set`` inverted index;
    the corpus never shuffles. The only exchange is the per-doc hit
    count (doc_id keyed, combinable) and the final left join back to
    ids. Shingles are distinct per document, so ``n_hits`` counts
    distinct shared n-grams without a dedup pass.

    ``hash_fn`` as in :func:`ngram_jaccard_dup` (r11) — hit counts are
    hash-set intersections, identical under either setting.
    """
    corpus_sh = hashed_shingle_set(df, id_col=id_col,
                                   text_col=text_col, n=n,
                                   hash_fn=hash_fn)
    bench_sh = (hashed_shingle_set(benchmark, id_col=id_col,
                                   text_col=text_col, n=n,
                                   hash_fn=hash_fn)
                .select("h").distinct())
    hits = (corpus_sh.join(F.broadcast(bench_sh), "h")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_hits")))
    return (df.select(id_col).join(hits, id_col, "left")
            .select(
                F.col(id_col),
                F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
                (F.coalesce(F.col("n_hits"), F.lit(0)) > 0)
                .alias("contaminated")))


# -------------------------------------------------------------- simhash

def simhash(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """32-bit SimHash over shingle hashes.

    bit b = 1 iff sum over shingles of ±1 (sign of hash bit b) > 0.
    One groupBy with 32 conditional sums — map-side combinable.

    No ``hash_fn`` knob here on purpose (r11): the fingerprint IS a
    function of the hash bit VALUES, so switching hash functions
    changes every fingerprint (and thus chunk blocking + Hamming
    verification) — not an output-identical cost knob like the
    set-intersection family's.
    """
    hashed = hashed_shingle_set(df, id_col=id_col, text_col=text_col)
    bit_sums = [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1)
        .alias(f"b{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = hashed.groupBy(id_col).agg(*bit_sums)
    fingerprint = None
    for b in range(SIMHASH_BITS):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(2 ** b)).otherwise(F.lit(0))
        fingerprint = bit if fingerprint is None else fingerprint + bit
    return agg.select(id_col, fingerprint.cast("long").alias("simhash"))


def simhash_near_dup(df: DataFrame,
                     max_hamming: int = SIMHASH_MAX_HAMMING) -> DataFrame:
    """SimHash near-dup: block on 8-bit fingerprint chunks, verify with
    Hamming distance ≤ max_hamming. Output: (da, db, hamming)."""
    fp = simhash(df)
    chunk_bits = SIMHASH_BITS // SIMHASH_CHUNKS
    chunks = F.array(*[
        F.struct(F.lit(c).alias("c"),
                 F.shiftright(F.col("simhash"), c * chunk_bits)
                 .bitwiseAND(F.lit((1 << chunk_bits) - 1)).alias("v"))
        for c in range(SIMHASH_CHUNKS)
    ])
    blocks = (fp.select("doc_id", "simhash", F.explode(chunks).alias("ch"))
              .select("doc_id", "simhash", "ch.c", "ch.v"))
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (a.join(b, [F.col("a.c") == F.col("b.c"),
                       F.col("a.v") == F.col("b.v"),
                       F.col("a.doc_id") < F.col("b.doc_id")])
            .select(F.col("a.doc_id").alias("da"),
                    F.col("b.doc_id").alias("db"),
                    F.col("a.simhash").alias("ha"),
                    F.col("b.simhash").alias("hb"))
            .distinct())
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (cand.select("da", "db", hamming.alias("hamming"))
            .where(F.col("hamming") <= max_hamming))


# ------------------------------------------------------------ embeddings

def embedding_near_dup(df: DataFrame, threshold: float = 0.99,
                       probe_mod: int = 1,
                       block_size: int = 2048) -> DataFrame:
    """Embedding-cosine near-dup: all pairs with ROUND(cosine, 4) ≥
    threshold, as a *blocked matrix product* instead of a row-pair join.

    Physical plan (the standard distributed all-pairs-similarity
    shape): vectors are bucketed into ceil(n / block_size) blocks by
    ``vec_id % n_blocks``; each block is packed into ONE Arrow row
    (id list + float64 matrix bytes); blocks self-join on
    ``a.blk <= b.blk`` so every unordered vector pair lands in exactly
    one block-pair task; each task computes its block×block cosine
    slab with a single BLAS matmul and emits only above-threshold
    pairs. Work per task is O(block²·dim) vectorized — versus the
    naive theta-join, which evaluates three interpreted higher-order
    aggregates per pair and is ~100× slower at 2k vectors already.

    At 100 TB scale the block-pair count grows as (n/block)²; this
    operator is the exact/verify kernel — cap the candidate space
    first with LSH bucketing (minhash_near_dup's banding or
    similarity.ivf_topk's coarse quantizer) and run this within
    buckets.

    probe_mod > 1 audits the deterministic 1/probe_mod sample of
    pairs whose smaller id satisfies ``da % probe_mod == 0``.
    """
    e = df.select("vec_id", as_double_array(F.col("embedding")).alias("v")) \
        .withColumn("cell", F.lit(0).cast("long"))
    pairs = _blocked_cosine_pairs(e, float(threshold), block_size)
    if probe_mod > 1:
        pairs = pairs.where(F.col("da") % probe_mod == 0)
    return pairs


def _blocked_cosine_pairs(e: DataFrame, thr: float,
                          block_size: int) -> DataFrame:
    """Blocked-BLAS cosine pair kernel over (cell, vec_id, v) rows.

    Blocks are CELL-LOCAL: packing groups on (cell, blk) and pair
    tasks are formed within a cell only, so the pair space is
    the sum of per-cell squares, never the corpus square. The
    corpus-wide caller (``embedding_near_dup``) passes one constant
    cell — the documented exact/verify mode; the scale path
    (``embedding_near_dup_bucketed``) passes IVF cell assignments.
    A pair assigned to >1 shared cell (multi-assignment IVF) is
    deduped by a (da, db) groupBy — max(cos) keeps it deterministic
    even if two cells' BLAS batches differ in the last ulp.

    Pair formation (r10): the pre-r10 shape SELF-JOINED the packed
    frame, which (a) re-ran the entire scan+pack pipeline for the
    second join side — PythonUDF stages never canonicalize equal, so
    ReusedExchange cannot deduplicate them — and (b) let the planner
    pick the packed corpus (matrix bytes!) as a BroadcastExchange
    build side, which at 100 TB is an executor OOM, not an
    optimization. Now the corpus is packed ONCE: the per-cell sorted
    block list (one long per block — tiny) comes from a column-pruned
    scan of the RAW frame, each packed block explodes to its pair
    keys (block b is side 'a' of pairs (b, j≥b) and side 'b' of
    pairs (i<b, b)), and a groupBy on (cell, i, j) hands the kernel
    exactly the two packed rows of each pair (one when i == j). The
    shipped pair-payload volume is the same as the join's; the
    second scan+pack run and the broadcast are gone.
    """
    import numpy as np
    import pandas as pd

    from kafana_spark.operators.similarity import _finite, _half_away

    def _pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        mat = np.stack(pdf["v"].to_numpy()[order]).astype(np.float64)
        return pd.DataFrame({
            "cell": [int(pdf["cell"].iloc[0])],
            "blk": [int(pdf["blk"].iloc[0])],
            "ids": [ids[order].tolist()],
            "mat": [mat.tobytes()],
        })

    # blk = row_number within cell // block_size would need a window;
    # vec_id // block_size needs no row count and no shuffle beyond the
    # pack's own. Output is invariant to the blocking — any partition
    # of the ids works; only BLAS batch shape depends on it (sparse id
    # spaces just mean leaner blocks).
    packed = (e.withColumn(
        "blk", (F.col("vec_id") / F.lit(block_size)).cast("long"))
        .groupBy("cell", "blk")
        .applyInPandas(
            _pack, "cell long, blk long, ids array<long>, mat binary"))

    # per-cell sorted block lists from a column-pruned scan of the
    # RAW frame (never a second pack run); broadcast — one long per
    # block, bounded by n/block_size. The HOF lambdas below iterate
    # these bounded lists only (the documented fine use; see SCALE.md
    # r9 — never HOFs on a corpus×candidates leg).
    blks = (e.withColumn(
        "blk", (F.col("vec_id") / F.lit(block_size)).cast("long"))
        .select("cell", "blk").distinct()
        .groupBy("cell")
        .agg(F.sort_array(F.collect_set("blk")).alias("blks")))
    b = F.col("blk")
    pair_keys = F.concat(
        F.transform(F.filter(F.col("blks"), lambda x: x >= b),
                    lambda x: F.struct(b.alias("i"), x.alias("j"),
                                       F.lit("a").alias("side"))),
        F.transform(F.filter(F.col("blks"), lambda x: x < b),
                    lambda x: F.struct(x.alias("i"), b.alias("j"),
                                       F.lit("b").alias("side"))))
    tasks = (packed.join(F.broadcast(blks), "cell")
             .select("cell", "ids", "mat", F.explode(pair_keys).alias("pk"))
             .select("cell", F.col("pk.i").alias("i"),
                     F.col("pk.j").alias("j"),
                     F.col("pk.side").alias("side"), "ids", "mat"))

    def _pair_kern(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame({"da": [], "db": [], "cos": []})
        arow = pdf[pdf["side"] == "a"]
        brow = pdf[pdf["side"] == "b"]
        same = int(pdf["i"].iloc[0]) == int(pdf["j"].iloc[0])
        if len(arow) == 0 or (len(brow) == 0 and not same):
            return empty
        a = arow.iloc[0]
        bb = a if same else brow.iloc[0]
        aids = np.asarray(a["ids"], dtype=np.int64)
        bids = np.asarray(bb["ids"], dtype=np.int64)
        A = np.frombuffer(a["mat"]).reshape(len(aids), -1)
        B = np.frombuffer(bb["mat"]).reshape(len(bids), -1)
        # same formula as the oracle: dot / (||a|| * ||b||);
        # rounded half-away-from-zero to match DuckDB ROUND
        # exactly (r10 — see similarity._half_away), with the
        # zero-norm NaN guard
        S = A @ B.T
        na = np.sqrt(np.einsum("ij,ij->i", A, A))
        nb = np.sqrt(np.einsum("ij,ij->i", B, B))
        cos = _half_away(_finite(S / np.outer(na, nb)), 4)
        mask = cos >= thr
        if same:
            mask &= aids[:, None] < bids[None, :]
        ii, jj = np.nonzero(mask)
        if not len(ii):
            return empty
        return pd.DataFrame({
            "da": np.minimum(aids[ii], bids[jj]),
            "db": np.maximum(aids[ii], bids[jj]),
            "cos": cos[ii, jj],
        })

    raw = tasks.groupBy("cell", "i", "j").applyInPandas(
        _pair_kern, "da long, db long, cos double")
    return raw.groupBy("da", "db").agg(F.max("cos").alias("cos"))


def embedding_near_dup_bucketed(df: DataFrame, threshold: float = 0.99,
                                centroid_mod: int = 40,
                                n_assign: int = 2,
                                block_size: int = 2048,
                                method: str = "modulo",
                                centroid_k: int | None = None
                                ) -> DataFrame:
    """SemDeDup-shaped embedding near-dup — the DEFAULT scale path.

    Composition: IVF cell assignment (similarity._ivf_assign, the same
    deterministic modulo coarse quantizer as x08) buckets the corpus,
    then the blocked-BLAS verify kernel runs WITHIN each cell only.
    Block-pair work is the sum of per-cell squares — at 100 TB with
    ~n/centroid_mod cells that is ~centroid_mod× the linear scan cost,
    versus the corpus-wide kernel's (n/block)² block pairs (the r4
    VERDICT's one flagged scale wart: the unbucketed kernel was the
    registry default).

    Quantizer knob (the x149 story, same tradeoff): the default
    ``method='modulo'`` ties CELL COUNT to n/centroid_mod — per-cell
    population stays ~centroid_mod (cheap verify) but the ASSIGNMENT
    pass is corpus × cells = n²/mod; ``method='fixed'`` +
    ``centroid_k`` pins exactly k cells (linear n·k assignment,
    per-cell verify (n/k)²·k) — set k≈√n so neither leg goes
    quadratic (ladder-demonstrated in BASELINE.md §sf1).

    Semantics: returns pairs with ROUND(cos,4) >= threshold whose two
    vectors SHARE an assigned cell — approximate by design (a pair
    split across cells is unseen; ``n_assign`` > 1 duplicates boundary
    vectors into adjacent cells, the standard recall lever). The whole
    pipeline is deterministic, so the x68 oracle replays it exactly in
    SQL; recall vs the exhaustive kernel is pinned by test.
    """
    from kafana_spark.operators.similarity import (
        _ivf_assign, _ivf_centroids, _vectors, _with_norm,
    )

    corpus = _with_norm(_vectors(df))
    centroids = _ivf_centroids(df, corpus, method, centroid_mod,
                               centroid_k=centroid_k)
    assigned = _ivf_assign(corpus, centroids, n_assign)
    e = assigned.select(F.col("cid").alias("cell"), "vec_id", "v")
    return _blocked_cosine_pairs(e, float(threshold), block_size)


def canonical_per_cluster(df: DataFrame, threshold: float = 0.5,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Pick the KEEPER document of every near-dup cluster: highest
    quality score, lowest doc_id as the deterministic tiebreak — the
    consumption step that turns cluster assignment (``dup_clusters``)
    into a deduplicated corpus while keeping the best copy, not an
    arbitrary one.

    Output: one row per cluster — (cluster_id, keeper id, member
    count, keeper quality).

    Scale: quality is a pure column pass; the join with the cluster
    assignment shuffles (id, cluster_id, quality_bp) only — never
    text; the keeper choice is a per-cluster window (partitioned, no
    global sort). Cluster count ≤ doc count, so every stage is linear.
    """
    from kafana_spark.operators.text import quality_score

    clusters = dup_clusters(df, threshold, text_col=text_col)
    q = quality_score(df, id_col=id_col, text_col=text_col) \
        .select(id_col, "quality_bp")
    m = clusters.join(q, id_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_bp").desc(), F.col(id_col))
    wc = Window.partitionBy("cluster_id")
    return (m.withColumn("__rn", F.row_number().over(w))
            .withColumn("n_members", F.count(F.lit(1)).over(wc))
            .where(F.col("__rn") == 1)
            .select(F.col("cluster_id"), F.col(id_col).alias("keeper"),
                    "n_members", "quality_bp"))


# --------------------------------------------------- exact-substring dedup

EXSUB_K = 5  # duplicated-span gram width (tokens)


def exact_substr_spans(df: DataFrame, k: int = EXSUB_K,
                       id_col: str = "doc_id", text_col: str = "text",
                       min_count: int = 2) -> DataFrame:
    """ExactSubstr-style duplicated-span detection (the suffix-array
    dedup of Lee et al.'s "Deduplicating Training Data Makes Language
    Models Better", re-expressed as a sharded gram inverted index):
    every maximal token span covered by some k-token gram occurring
    ``min_count``+ times in the corpus (across OR within documents).

    Output: (doc_id, span_idx, start_tok, end_tok, span_tokens) — one
    row per maximal duplicated span, token positions 0-based inclusive.
    Downstream, ``exact_substr_strip`` removes the spans; chunk-level
    dedup (text.chunk_dedup, x45) removes only ALIGNED 3-token blocks,
    so this is the family member that catches arbitrarily-aligned long
    duplicated substrings.

    Scale shape (a true suffix array is sequential and monolithic —
    wrong shape for a cluster):
    - gram index: positional k-gram explode, hashed to 8 bytes at
      explode time (portable_hash64) — the shuffle key is never text.
    - duplicated grams: one map-side-combinable count per gram hash.
    - coverage: semi-join of gram rows against duplicated hashes.
    - span merge: per-doc gaps-and-islands window — with fixed k the
      covered interval end is monotone in its start, so a span breaks
      exactly where consecutive covered starts gap by > k. Partitioned
      by doc, no global sort.
    Every stage is linear in corpus grams; the DuckDB oracle (x69)
    replays it gram-for-gram.
    """
    g = positional_gram_index(df, k, id_col, text_col)
    return _spans_from_grams(g, k, id_col, min_count)


def positional_gram_index(df: DataFrame, k: int = EXSUB_K,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """(id, pos, h) positional k-gram index — the per-document pure
    function the ExactSubstr family shares (persistable: see
    dedup_index.build_substr_index).

    Shape (r12, the substr-ladder finding): posexplode the tokens,
    then assemble each gram with k-1 ``lead`` calls over ONE per-doc
    window — whole-stage-codegen'd, linear in corpus tokens, and the
    doc-id shuffle restores full parallelism regardless of input file
    count. The previous array-``F.transform`` construction evaluated
    INTERPRETED (Catalyst higher-order functions always do) and
    re-ran the token split per gram position — O(len²) string work
    per document — while inheriting the scan's 2-file parallelism:
    measured 15+ min for the sf1p (50k-doc) serve leg vs seconds for
    this shape. Rows where the (k-1)-lead is null are the < k-token
    tail (and whole docs shorter than k tokens) — filtered, matching
    the old empty-array branch. ``concat_ws`` is null-skipping, so
    the filter must come AFTER gram assembly, never instead of it.
    """
    from kafana_spark.functions import portable_hash64, tokens

    w = Window.partitionBy(id_col).orderBy("pos")
    toks = df.select(F.col(id_col),
                     F.posexplode(tokens(F.col(text_col)))
                     .alias("pos", "t"))
    parts = [F.col("t")] + [F.lead("t", j).over(w) for j in range(1, k)]
    return (toks
            .withColumn("g", F.concat_ws(" ", *parts))
            .withColumn("__tail", F.lead("t", k - 1).over(w))
            .where(F.col("__tail").isNotNull())
            .select(id_col, "pos",
                    portable_hash64(F.col("g")).alias("h")))


def _spans_from_grams(g: DataFrame, k: int, id_col: str = "doc_id",
                      min_count: int = 2) -> DataFrame:
    """Duplicated-span derivation from a positional gram index —
    shared by the inline operator and the stored-index serving path."""
    dup = (g.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
           .where(F.col("cnt") >= min_count).select("h"))
    covered = g.join(dup, "h", "left_semi").select(id_col, "pos")
    return _spans_from_covered(covered, k, id_col)


def _spans_from_covered(covered: DataFrame, k: int,
                        id_col: str = "doc_id") -> DataFrame:
    """Gaps-and-islands merge of covered gram starts into maximal
    spans (fixed k ⇒ covered ends are monotone in starts, so a span
    breaks exactly where consecutive starts gap by > k)."""
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) > k, 1).otherwise(0)
    run = Window.partitionBy(id_col).orderBy("pos") \
        .rowsBetween(Window.unboundedPreceding, 0)
    return (covered.withColumn("span_idx", F.sum(brk).over(run))
            .groupBy(id_col, "span_idx")
            .agg(F.min("pos").alias("start_tok"),
                 (F.max("pos") + F.lit(k - 1)).alias("end_tok"))
            .select(F.col(id_col),
                    F.col("span_idx").cast("int").alias("span_idx"),
                    F.col("start_tok").cast("int").alias("start_tok"),
                    F.col("end_tok").cast("int").alias("end_tok"),
                    (F.col("end_tok") - F.col("start_tok") + 1)
                    .cast("int").alias("span_tokens")))


def exact_substr_strip(df: DataFrame, k: int = EXSUB_K,
                       id_col: str = "doc_id",
                       text_col: str = "text",
                       min_count: int = 2) -> DataFrame:
    """Remove every duplicated span found by ``exact_substr_spans`` and
    reassemble the surviving tokens — the consumption step that turns
    span detection into a cleaned corpus. Documents reduced to zero
    tokens are kept with empty text (the caller's length filter
    decides their fate, same stance as quality gating).

    Scale: spans explode to (doc, pos) coverage rows (linear — spans
    are disjoint by construction), anti-join the positional token
    explode, and per-doc reassembly is one aggregation ordered by
    position. Text moves once; the span machinery only ships hashes.
    """
    from kafana_spark.functions import tokens

    spans = exact_substr_spans(df, k, id_col, text_col, min_count)
    cov = spans.select(
        id_col, F.explode(F.sequence("start_tok", "end_tok")).alias("pos"))
    toks = df.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "t"))
    kept = toks.join(cov, [id_col, "pos"], "left_anti")
    rebuilt = (kept.groupBy(id_col)
               .agg(F.array_sort(F.collect_list(F.struct("pos", "t")))
                    .alias("ps"))
               .select(id_col,
                       F.concat_ws(
                           " ", F.transform(F.col("ps"), lambda s: s["t"]))
                       .alias("text")))
    ids = df.select(id_col)
    return (ids.join(rebuilt, id_col, "left")
            .select(id_col, F.coalesce("text", F.lit("")).alias("text")))


def embedding_dup_clusters(df: DataFrame, threshold: float = 0.99,
                           centroid_mod: int = 40, n_assign: int = 2,
                           block_size: int = 2048,
                           max_iter: int = 25) -> DataFrame:
    """SemDeDup consumption chain: cluster assignment + keep-one over
    the bucketed embedding near-dup graph — the embedding twin of
    ``dup_clusters`` + ``canonical_per_cluster``.

    Output: (vec_id, cluster_id, keep) for EVERY corpus vector —
    cluster_id is the min vec_id reachable through above-threshold
    pairs (itself if isolated), keep marks the cluster's min vec_id
    (embeddings carry no quality signal, so the deterministic min-id
    rule is the keeper policy; swap in a scored rule the same way
    canonical_per_cluster does for text).

    Scale: the pair graph is cell-local by construction (x68), the CC
    labels run over the pruned edge list only (hybrid union-find /
    distributed propagation, same gate as dup_clusters), and the keep
    flag is one per-cluster window. The corpus never moves.
    """
    spark = df.sparkSession
    pairs = (embedding_near_dup_bucketed(
        df, threshold, centroid_mod, n_assign, block_size)
        .select("da", "db").persist())
    try:
        labels = _cc_labels(spark, pairs, max_iter)
        clustered = (df.select("vec_id")
                     .join(labels.withColumnRenamed("node", "vec_id"),
                           "vec_id", "left")
                     .select("vec_id",
                             F.coalesce("label", "vec_id")
                             .alias("cluster_id")))
        w = Window.partitionBy("cluster_id")
        return clustered.withColumn(
            "keep", F.col("vec_id") == F.min("vec_id").over(w))
    finally:
        pairs.unpersist()


def source_dup_matrix(df: DataFrame, threshold: float = 0.5,
                      text_col: str = "text",
                      source_col: str = "source") -> DataFrame:
    """Cross-source duplication matrix — WHERE duplicates come from:
    x02's near-dup pairs rolled up by the (source, source) of their
    endpoints (canonical src_a <= src_b). The diagnostic that decides
    which feeds to dedup against each other vs drop outright (mirror
    sites and re-crawls show up as heavy off-diagonal cells).

    Output: (src_a, src_b, n_pairs) ordered by source pair.

    Scale: the pair frame is already banded/verified (never n²); the
    two source lookups join the SMALL pair side against an (id,
    source) projection, and the rollup is |sources|² combinable.
    """
    pairs = minhash_near_dup(df, threshold, text_col).select("da", "db")
    s = df.select("doc_id", source_col)
    j = (pairs
         .join(s.select(F.col("doc_id").alias("da"),
                        F.col(source_col).alias("sa")), "da")
         .join(s.select(F.col("doc_id").alias("db"),
                        F.col(source_col).alias("sb")), "db"))
    return (j.select(F.least("sa", "sb").alias("src_a"),
                     F.greatest("sa", "sb").alias("src_b"))
            .groupBy("src_a", "src_b")
            .agg(F.count(F.lit(1)).alias("n_pairs"))
            .orderBy("src_a", "src_b"))


def knn_clusters(df: DataFrame, k: int = 5, centroid_mod: int = 40,
                 n_probe: int = 2, n_assign: int = 1,
                 min_cos: float = 0.0, max_iter: int = 25,
                 method: str = "modulo",
                 centroid_k: int | None = None,
                 graph: DataFrame | None = None) -> DataFrame:
    """Density clusters: connected components over the MUTUAL k-NN
    graph (x150) — the semantic-domain-discovery step (cluster-then-
    sample curation, domain mixture analysis). Differs from
    ``embedding_dup_clusters`` in the edge rule: mutual top-k
    membership (local density) instead of an absolute cosine
    threshold, so clusters form even where no pair clears a high
    global bar, and hub vectors cannot chain unrelated regions.

    Output: (vec_id, cluster_id, csize) for EVERY vector —
    cluster_id is the min reachable vec_id (itself if isolated),
    csize the cluster's member count.

    Scale: edge generation is the bucketed x149/x150 chain (never
    n²); labels run over the pruned mutual edge list only (hybrid
    union-find / distributed propagation, same driver-memory gate as
    dup_clusters); csize is one per-cluster window over labels.

    ``graph``: a precomputed directed edge frame from ``knn_graph``
    with the same ``k`` and quantizer parameters, used instead of
    building one (so several consumers share one scoring pass). It
    must have the columns ``qid``, ``vec_id``, ``cos`` and ``rank``;
    ``mutual_knn`` raises ``ValueError`` otherwise.
    """
    from kafana_spark.operators.similarity import mutual_knn

    mu = mutual_knn(df, k, centroid_mod, n_probe, n_assign,
                    method, centroid_k, graph=graph)
    return clusters_from_mutual(df.select("vec_id"), mu, min_cos,
                                max_iter)


def clusters_from_mutual(ids_df: DataFrame, mu: DataFrame,
                         min_cos: float = 0.0,
                         max_iter: int = 25) -> DataFrame:
    """Connected components + cluster sizes over a precomputed
    mutual-edge frame (a, b, cos) — shared by the inline
    ``knn_clusters`` and the stored-graph serving path (the edge
    frame may come from ``ann_index.knn_graph_from_index`` without
    re-running the assignment pass)."""
    spark = ids_df.sparkSession
    pairs = (mu.where(F.col("cos") >= min_cos)
             .select(F.col("a").alias("da"), F.col("b").alias("db"))
             .persist())
    try:
        labels = _cc_labels(spark, pairs, max_iter)
        clustered = (ids_df.select("vec_id")
                     .join(labels.withColumnRenamed("node", "vec_id"),
                           "vec_id", "left")
                     .select("vec_id",
                             F.coalesce("label", "vec_id")
                             .alias("cluster_id")))
        w = Window.partitionBy("cluster_id")
        return clustered.withColumn("csize",
                                    F.count(F.lit(1)).over(w))
    finally:
        pairs.unpersist()


def cluster_sample(df: DataFrame, k: int = 5, centroid_mod: int = 40,
                   n_probe: int = 2, n_assign: int = 1,
                   min_cos: float = 0.0, method: str = "modulo",
                   centroid_k: int | None = None,
                   graph: DataFrame | None = None) -> DataFrame:
    """Cluster-balanced sampling — the step after ``knn_clusters``
    in cluster-then-sample curation: keep ceil(sqrt(csize)) members
    per density cluster, so over-represented semantic regions are
    down-weighted sub-linearly instead of dominating the mix (the
    SemDeDup-style diversity pass, as a selection rather than a
    deletion).

    Members are chosen by portable hash of vec_id (engine-exact,
    seed-stable): rank rk within the cluster, keep rk <= quota.
    sqrt/ceil are identical correctly-rounded IEEE ops in both
    engines, so the quota is cross-engine exact.

    Output: (vec_id, cluster_id, csize, rk) — kept rows only.

    Scale: one per-cluster rank window over the LABEL frame (id +
    two longs, never text or vectors); a pathological giant cluster
    makes one fat window partition — cap it upstream with
    ``min_cos`` (edges below the floor are cut, splitting weakly
    connected regions) before reaching for a two-phase rank.

    ``graph``: passed to ``knn_clusters``, under the same contract — a
    ``knn_graph`` edge frame with ``qid``, ``vec_id``, ``cos`` and
    ``rank``, else ``ValueError``.
    """
    cl = knn_clusters(df, k, centroid_mod, n_probe, n_assign, min_cos,
                      method=method, centroid_k=centroid_k,
                      graph=graph)
    return quota_sample_from_clusters(cl)


def quota_sample_from_clusters(cl: DataFrame) -> DataFrame:
    """The ceil(sqrt(csize)) portable-hash quota tail over a
    (vec_id, cluster_id, csize) cluster frame — shared by the inline
    ``cluster_sample`` and the stored-graph serving path."""
    from kafana_spark.functions import portable_hash64

    h = portable_hash64(F.concat_ws(
        "#", F.col("vec_id").cast("string"), F.lit("csample")))
    w = Window.partitionBy("cluster_id").orderBy(h.asc(),
                                                 F.col("vec_id"))
    quota = F.ceil(F.sqrt(F.col("csize").cast("double"))).cast("long")
    return (cl.withColumn("rk",
                          F.row_number().over(w).cast("long"))
            .where(F.col("rk") <= quota)
            .select("vec_id", "cluster_id", "csize", "rk"))


def cluster_terms(emb_df: DataFrame, docs_df: DataFrame, k: int = 5,
                  centroid_mod: int = 40, n_probe: int = 2,
                  n_assign: int = 1, min_cos: float = 0.0,
                  top_clusters: int = 5, terms_k: int = 5,
                  min_df: int = 2, method: str = "modulo",
                  centroid_k: int | None = None) -> DataFrame:
    """Cluster labeling — describe each of the ``top_clusters``
    largest density clusters by its most DISTINCTIVE tokens (the
    "what is this semantic region about" report every cluster-based
    curation run needs before deciding sampling weights).

    Distinctiveness is integer doc-frequency lift against the whole
    corpus: lift_bp = 10000·df_c·n_docs div (csize·df_all), ranked
    per cluster (lift desc, df_c desc, token asc), floored at
    ``min_df`` in-cluster docs. Documents join embeddings 1:1 on
    doc_id = vec_id.

    Output: (cluster_id, token, df_c, lift_bp, rank) — at most
    top_clusters × terms_k rows.

    Scale: cluster selection is a TakeOrdered over the distinct
    (cluster, size) frame; the corpus tokenizes TWICE (cluster-side
    counts on the top-cluster slice only, corpus df on everything) —
    both map-side-combinable; the rank window runs over the
    per-cluster candidate token frame only.
    """
    from kafana_spark.functions import tokens

    cl = knn_clusters(emb_df, k, centroid_mod, n_probe, n_assign,
                      min_cos, method=method, centroid_k=centroid_k)
    top = (cl.select("cluster_id", "csize").distinct()
           .orderBy(F.col("csize").desc(), "cluster_id")
           .limit(top_clusters))
    labeled = (docs_df
               .join(cl.withColumnRenamed("vec_id", "doc_id")
                     .select("doc_id", "cluster_id"), "doc_id")
               .join(F.broadcast(top), "cluster_id"))
    tok = labeled.select(
        "cluster_id", "csize",
        F.explode(F.array_distinct(tokens(F.col("text"))))
        .alias("token"))
    dfc = (tok.groupBy("cluster_id", "token")
           .agg(F.count(F.lit(1)).alias("df_c"),
                F.any_value("csize").alias("csize"))
           .where(F.col("df_c") >= min_df))
    corp = (docs_df.select(
        F.explode(F.array_distinct(tokens(F.col("text"))))
        .alias("token"))
        .groupBy("token").agg(F.count(F.lit(1)).alias("df_all")))
    n_docs = docs_df.select(
        F.count(F.lit(1)).alias("n_docs"))
    scored = (dfc.join(corp, "token")
              .crossJoin(F.broadcast(n_docs))
              .select("cluster_id", "token", "df_c",
                      F.expr("10000 * df_c * n_docs div "
                             "(csize * df_all)").alias("lift_bp")))
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("lift_bp").desc(), F.col("df_c").desc(), "token")
    return (scored.withColumn("rank",
                              F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= terms_k)
            .orderBy("cluster_id", "rank"))


def semantic_decontaminate(corpus_df: DataFrame, bench_df: DataFrame,
                           threshold: float = 0.97,
                           centroid_mod: int = 40,
                           n_assign: int = 2) -> DataFrame:
    """Semantic benchmark decontamination — the third member of the
    decontamination family (x31 doc-level n-gram overlap, x77
    span-level ExactSubstr): flag corpus items whose EMBEDDING is
    >= ``threshold`` cosine to ANY benchmark item, catching the
    paraphrased leakage lexical n-grams miss (the now-standard
    embedding decontamination pass before training).

    Output: (vec_id, n_bench_hits, max_cos) — corpus ids with >= 1
    benchmark hit; cos is 4dp-rounded (the engine-parity convention).

    Scale: the SemDeDup discipline (x68) across TWO sets — both sides
    assign to the SAME corpus-derived modulo centroids (broadcast), so
    candidates come from a per-cell equi-join: work is
    Σ_cell |corpus_cell|·|bench_cell|, never corpus × benchmark.
    Multi-assignment duplicates collapse in the per-corpus-id
    aggregate (distinct bench ids, MAX cos) — map-side combinable.
    """
    from kafana_spark.functions import dot
    from kafana_spark.operators.similarity import (
        _ivf_assign, _ivf_centroids, _vectors, _with_norm,
    )

    corpus = _with_norm(_vectors(corpus_df))
    bench = _with_norm(_vectors(bench_df))
    cents = _ivf_centroids(corpus_df, corpus, "modulo", centroid_mod)
    ca = _ivf_assign(corpus, cents, n_assign)
    ba = _ivf_assign(bench, cents, n_assign)
    cos = F.round(dot(F.col("a.v"), F.col("b.v"))
                  / (F.col("a.nrm") * F.col("b.nrm")), 4)
    pairs = (ca.alias("a")
             .join(ba.alias("b"), F.col("a.cid") == F.col("b.cid"))
             .where(cos >= float(threshold))
             .select(F.col("a.vec_id").alias("vec_id"),
                     F.col("b.vec_id").alias("bid"), cos.alias("cos")))
    return (pairs.groupBy("vec_id")
            .agg(F.countDistinct("bid").cast("long")
                 .alias("n_bench_hits"),
                 F.max("cos").alias("max_cos"))
            .orderBy("vec_id"))


def benchmark_contamination_spans(df: DataFrame, benchmark: DataFrame,
                                  k: int = EXSUB_K,
                                  id_col: str = "doc_id",
                                  text_col: str = "text") -> DataFrame:
    """Span-level benchmark decontamination: the maximal corpus token
    spans covered by any k-gram that also occurs in a held-out
    benchmark/eval set — the removal-grade complement of
    ``benchmark_overlap`` (x31 scores documents; this localizes the
    contamination so ``exact_substr_strip``-style removal can excise
    it instead of dropping whole documents).

    Output: (doc_id, span_idx, start_tok, end_tok, span_tokens), same
    shape as exact_substr_spans.

    Scale: benchmark gram hashes are DISTINCT and broadcast (eval sets
    are tiny next to the corpus — same stance as benchmark_overlap);
    the corpus side is one positional gram pass semi-joined against
    them, then the per-doc islands window. The corpus never shuffles
    on anything wider than (id, pos).
    """
    g = positional_gram_index(df, k, id_col, text_col)
    bh = (positional_gram_index(benchmark, k, id_col, text_col)
          .select("h").distinct())
    covered = (g.join(F.broadcast(bh), "h", "left_semi")
               .select(id_col, "pos"))
    return _spans_from_covered(covered, k, id_col)


# --------------------------------------------- sorted-neighborhood dedup

SNM_KEY_TOKENS = 2   # sorting-key width (leading tokens)
SNM_WINDOW = 4       # neighborhood size in sort order
SNM_BUCKETS = 16     # independent sort domains (hex nibble of the key)


def sorted_neighborhood_dup(df: DataFrame, threshold: float = 0.5,
                            window: int = SNM_WINDOW,
                            key_tokens: int = SNM_KEY_TOKENS,
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            hash_fn: str = "md5") -> DataFrame:
    """Sorted-neighborhood (SNM) near-dup: the classic
    merge/purge blocking — sort by a content key, compare each record
    only with its ``window``-1 successors in sort order, verify with
    exact shingle Jaccard. The fifth blocking family next to LSH
    banding, SimHash chunks, n-gram inverted index and IVF cells;
    SNM's strength is corpora where near-dups share a PREFIX (titles,
    log lines) even when global similarity is diluted.

    Key = md5 of the first ``key_tokens`` tokens; records sort inside
    one of SNM_BUCKETS key-space buckets (first hex nibble), NEVER
    globally: a global row_number would serialize the corpus through
    one partition — the bucket is the unit of sort parallelism, and
    the (documented) recall trade is that neighborhoods don't cross
    bucket boundaries, exactly like LSH pairs don't cross band
    buckets. At 100 TB widen the nibble to more buckets.

    The rank-adjacency join is an EQUI join: each record explodes into
    window-1 (bucket, rn+off) probes — no range join, no nested loop.
    Output: (da, db, jaccard) — pairs adjacent in sort order that
    pass the Jaccard threshold.

    ``hash_fn`` (r11) applies to the VERIFY leg's shingle index only
    (hash-value-independent counts ⇒ identical output); the sort key
    stays md5 because it defines the blocking semantics the oracle
    replays — changing it would reshuffle neighborhoods, i.e. change
    recall, not just cost.
    """
    from kafana_spark.functions import tokens

    key = F.md5(F.concat_ws(
        " ", F.slice(tokens(F.col(text_col)), 1, key_tokens)))
    ranked = (df.select(F.col(id_col), F.col(text_col))
              .withColumn("snm_key", key)
              .withColumn("bkt", F.substring("snm_key", 1, 1)))
    w = Window.partitionBy("bkt").orderBy("snm_key", id_col)
    ranked = ranked.withColumn("rn", F.row_number().over(w))

    probes = (ranked.select(
        F.col(id_col).alias("da0"), "bkt", "rn",
        F.explode(F.sequence(F.lit(1), F.lit(window - 1))).alias("off"))
        .select("da0", "bkt", (F.col("rn") + F.col("off")).alias("rn2")))
    cand = (probes.join(
        ranked.select(F.col(id_col).alias("db0"), "bkt",
                      F.col("rn").alias("rn2")),
        ["bkt", "rn2"])
        .select(F.least("da0", "db0").alias("da"),
                F.greatest("da0", "db0").alias("db"))
        .distinct())
    # ckpt_pairs=False: SNM's window-adjacency pair list is one cheap
    # rank join (re-derivation is healed by ReusedExchange), so the
    # eager checkpoint job costs more than it saves — A/B'd r12; the
    # pruned-index boundary alone is the winning combination here.
    # index_docs/index_fn (r13): SNM's candidates come from the sort
    # key, not from shingles, so with the pruned-index build the
    # shingle pass runs over candidate docs ONLY — never the corpus.
    return jaccard_verify(
        cand, hashed_shingle_set(df, id_col, text_col, hash_fn=hash_fn),
        threshold, ckpt_pairs=False,
        index_docs=_spread_scan(
            df.select(F.col(id_col).alias("doc_id"), text_col)),
        index_fn=lambda d: hashed_shingle_set(
            d, text_col=text_col, hash_fn=hash_fn))
