"""Full-text relevance family — the ranked-search core of the ES/Kibana
surface the reference delegates to (the reference ships documents into
Elasticsearch — /root/reference/docker-compose.yml:45-69 — whose match
scoring is BM25; kafana.http's Discover searches exercise it).
Re-expressed Spark-first:

- ``bm25_topk``       — the ES ``match`` query: BM25-ranked top-k.
- ``more_like_this``  — the ES ``more_like_this`` query: seed doc →
  top tf-idf terms → BM25 disjunction against the corpus.
- ``highlight``       — the ES ``highlight`` block: first-match
  snippet extraction with ``<em>`` tags.
- ``percolate``       — the ES percolator: stored conjunctive term
  queries matched in reverse against a document stream.
- ``term_suggest``    — the ES term suggester: SymSpell-style
  deletion-neighborhood candidate join + exact edit-distance verify.

Engine portability: every score is rounded to integer fixed-point
units per (doc, term) BEFORE summation (the x71/PQ discipline), so all
aggregations are integer sums — order-independent across engines.

Scale notes are on each function; the common shape is that the query
side (terms, stored queries, misspellings, per-term stats) is tiny and
broadcast, the corpus explode is filtered map-side down to query terms
before any shuffle, and nothing ever materializes the full vocabulary
against the full corpus.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, Window, functions as F

from kafana_spark.functions import tokens
from kafana_spark.store import append_table, read_table, replace_table

#: Lucene/ES BM25 defaults (k1, b) — org.apache.lucene.search
#: .similarities.BM25Similarity.
BM25_K1 = 1.2
BM25_B = 0.75
#: fixed-point grain for per-(doc, term) BM25 contributions: 0.1
#: milli-score units. Contributions are O(1..10); double noise is
#: ~1e-15 relative, so a 1e-4 grain leaves ~11 orders of headroom.
BM25_FP = 10_000

#: ES more_like_this: max_query_terms (ES default 25; the synthetic
#: corpus vocabulary is 31 words, so 5 keeps the derived query
#: selective enough to rank).
MLT_MAX_TERMS = 5

#: highlight window: characters of context kept on each side of the
#: first match (ES fragment_size≈100 with number_of_fragments=1).
HIGHLIGHT_CTX = 40

#: SymSpell deletion depth — the ≤2-deletion neighborhoods of two
#: words intersect whenever their Damerau-Levenshtein distance is ≤ 2,
#: which covers all plain-Levenshtein ≤ 2 pairs; the exact verify
#: filter then makes the result set exactly lev ≤ 2. Pinned against
#: brute force over the real vocabulary in tests/test_relevance.py.
SUGGEST_MAX_EDIT = 2
SUGGEST_PER_TERM = 3


def _matched_tf(df: DataFrame, terms_df: DataFrame, id_col: str,
                text_col: str) -> DataFrame:
    """(id, term, tf, dl) for query terms only — dl (doc token length)
    rides through the aggregation so no corpus-sized doc-length join
    is ever needed downstream.

    The explode is filtered against the broadcast term set BEFORE the
    aggregation shuffle, so the exchange carries matched (doc, term)
    pairs only — at 100 TB the query's selectivity sizes the shuffle,
    not the corpus.
    """
    tok = tokens(F.col(text_col))
    ex = df.select(F.col(id_col), F.size(tok).alias("dl"),
                   F.explode(tok).alias("term"))
    return (ex.join(F.broadcast(terms_df), "term")
            .groupBy(id_col, "term")
            .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")))


def _term_contribs(df: DataFrame, terms_df: DataFrame,
                   id_col: str = "doc_id", text_col: str = "text",
                   k1: float = BM25_K1, b: float = BM25_B,
                   extra: Sequence[str] = ()) -> DataFrame:
    """(id, term, c_u [, extra…]) — the per-(doc, term) BM25
    contribution in BM25_FP integer units. The SINGLE home of the
    idf/denominator/contribution expression tree (its DuckDB twin is
    registry._bm25_contrib): bm25_scores, rank_eval and dis_max all
    consume this, so an idf/saturation tweak cannot drift between
    them.

    contrib(t, d) = idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    idf(t)        = ln(1 + (N − df + 0.5)/(df + 0.5))   (Lucene BM25)

    ``extra`` names further tf-table columns to carry through (e.g.
    "tf" for relevance judgments).

    Scale: corpus stats (N, avgdl) are a 1-row combinable aggregate;
    per-term df is ≤|terms| rows broadcast back; the only corpus-sized
    shuffle is the matched-(doc, term) tf aggregation.
    """
    stats = df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(tokens(F.col(text_col)))).alias("avgdl"))
    tf = _matched_tf(df, terms_df, id_col, text_col)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    denom = (F.col("tf")
             + F.lit(k1) * (F.lit(1.0 - b)
                            + F.lit(b) * F.col("dl") / F.col("avgdl")))
    contrib = idf * (F.col("tf") * F.lit(k1 + 1.0)) / denom
    contrib_u = F.round(contrib * F.lit(float(BM25_FP))).cast("long")
    return (tf.join(F.broadcast(dfreq), "term")
            .join(F.broadcast(stats))
            .select(F.col(id_col), "term", contrib_u.alias("c_u"),
                    *[F.col(c) for c in extra]))


def bm25_scores(df: DataFrame, terms_df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", k1: float = BM25_K1,
                b: float = BM25_B) -> DataFrame:
    """Per-document BM25 score for the disjunctive term query in
    ``terms_df`` (a small single-column (term) DataFrame — broadcast):
    the integer per-doc sum of ``_term_contribs`` (order-independent
    across engines — each contribution is rounded BEFORE the sum).

    Output: (id, n_matched, score_u), one row per doc with ≥1 match.
    """
    scored = _term_contribs(df, terms_df, id_col, text_col, k1, b)
    return (scored.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("int").alias("n_matched"),
                 F.sum("c_u").alias("score_u")))


def bm25_topk(df: DataFrame, terms: Sequence[str], k: int = 10,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """The ES ``match`` query: BM25-ranked top-k documents for a
    literal disjunctive term query. orderBy+limit lowers to
    TakeOrdered — no global sort materializes."""
    spark = df.sparkSession
    terms_df = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in terms])).alias("term"))
    return (bm25_scores(df, terms_df, id_col, text_col)
            .orderBy(F.col("score_u").desc(), F.col(id_col))
            .limit(k))


def more_like_this(df: DataFrame, seed_id: str, k: int = 10,
                   max_terms: int = MLT_MAX_TERMS, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """The ES ``more_like_this`` query: take the seed document's
    ``max_terms`` highest tf·idf terms as the query, BM25-score the
    corpus with them, exclude the seed, return the top-k.

    Term selection is deterministic: rank by (tf·idf_u desc, term asc)
    with idf_u = ln(N/df) in BM25_FP units rounded BEFORE the tf
    multiply, so the ranking key is an exact integer.

    Scale: the seed's term profile is one document's rows; the
    (term, df) vocabulary aggregate is map-side combinable and joined
    to the seed profile broadcast-side. The BM25 pass then follows
    bm25_scores' shape with the derived ≤max_terms query.
    """
    ex = df.select(F.col(id_col),
                   F.explode(tokens(F.col(text_col))).alias("term"))
    seed_tf = (ex.filter(F.col(id_col) == seed_id)
               .groupBy("term").agg(F.count(F.lit(1)).alias("stf")))
    dfreq = ex.groupBy("term").agg(
        F.count_distinct(F.col(id_col)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    idf_u = F.round(F.log(F.col("n_docs") / F.col("df"))
                    * F.lit(float(BM25_FP))).cast("long")
    ranked = (seed_tf.join(F.broadcast(dfreq), "term")
              .join(F.broadcast(n_docs))
              .select("term", (F.col("stf") * idf_u).alias("w_u"))
              .orderBy(F.col("w_u").desc(), F.col("term"))
              .limit(max_terms))
    scored = bm25_scores(df, ranked.select("term"), id_col, text_col)
    return (scored.filter(F.col(id_col) != seed_id)
            .orderBy(F.col("score_u").desc(), F.col(id_col))
            .limit(k))


def highlight(df: DataFrame, term: str, ctx: int = HIGHLIGHT_CTX,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """The ES ``highlight`` block: for documents containing ``term`` as
    a whole token, emit the first-match position and a snippet of
    ±ctx characters with in-snippet whole-token occurrences wrapped in
    <em></em>.

    Token-boundary matching on space-separated text: search
    ``' '||text||' '`` for ``' term '`` — positions are 1-based in the
    padded string, identical across engines. Replacement is standard
    left-to-right non-overlapping (both engines): of two ADJACENT
    occurrences only the first is tagged, since the shared separator
    space is consumed — the documented ES-highlighter divergence.

    Scale: pure map-side string expressions; the only shuffle is the
    final presentation sort.
    """
    padded = F.concat(F.lit(" "), F.col(text_col), F.lit(" "))
    needle = F.lit(" " + term + " ")
    pos = F.position(needle, padded)
    start = F.greatest(F.lit(1), pos - ctx)
    width = F.lit(2 * ctx + len(term) + 2)
    snippet = F.replace(F.substring(padded, start, width), needle,
                        F.lit(" <em>" + term + "</em> "))
    return (df.filter(pos > 0)
            .select(F.col(id_col), pos.alias("pos"),
                    snippet.alias("snippet"))
            .orderBy(id_col))


def percolate(df: DataFrame, queries: Mapping[str, Sequence[str]],
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """The ES percolator, reverse search: ``queries`` maps query_id →
    conjunctive term list; a document matches a query when it contains
    EVERY term of it. Returns the per-query alert digest
    (query_id, n_hits, first_id) — first_id = lexicographically
    smallest matching doc; zero-hit queries are kept (n_hits=0) so a
    registered alert never silently vanishes.

    Scale: the stored-query table is tiny and broadcast; document
    tokens are de-duplicated per doc map-side (array_distinct before
    the explode) and filtered to the union of query terms before the
    (doc, query) match shuffle — the exchange is sized by alert
    selectivity, not the corpus.
    """
    spark = df.sparkSession
    qrows = [(qid, t, len(ts)) for qid, ts in sorted(queries.items())
             for t in ts]
    qdf = spark.createDataFrame(
        qrows, "query_id string, term string, n_required int")
    return _percolate_qdf(df, qdf, id_col, text_col)


def deletion_variants(word: F.Column) -> F.Column:
    """Distinct strings reachable from ``word`` by deleting ≤ 2
    characters (the word itself included) — the SymSpell delete
    neighborhood, as a pure column expression (no UDF).

    Empty-string variants (from words of length ≤ 2) are KEPT: they
    are the shared bucket through which 1-char-vs-1-char distance-1
    pairs meet, and the bucket's join fan-out is bounded by the number
    of length-≤2 vocabulary words.

    O(L²) variants per word; suggester inputs are analyzed tokens
    (short), so the explode is |vocab|·L² rows — corpus-independent.
    """
    n = F.length(word)
    idx = F.sequence(F.lit(1), n)
    del1 = F.transform(
        idx, lambda i: F.concat(word.substr(F.lit(1), i - 1),
                                word.substr(i + 1, n)))
    # Delete original positions {j, i} (j < i) and {i, j+1} (j ≥ i):
    # together all unordered pairs. The inner sequence is guarded for
    # 1-char words (Spark's sequence(1, 0) counts DOWN) — their only
    # 2-deletion variant is the empty string, already in del1.
    pairs = F.when(n >= 2, F.flatten(F.transform(
        idx,
        lambda i: F.transform(
            F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
            lambda j: F.when(
                j < i,
                F.concat(word.substr(F.lit(1), j - 1),
                         word.substr(j + 1, i - j - 1),
                         word.substr(i + 1, n)))
            .otherwise(
                F.concat(word.substr(F.lit(1), i - 1),
                         word.substr(i + 1, j - i),
                         word.substr(j + 2, n))))))
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(
        F.array_union(F.array_union(F.array(word), del1), pairs))


def _symspell_candidates(df: DataFrame, qdf: DataFrame,
                         key_cols: Sequence[str], per_term: int,
                         text_col: str = "text",
                         vocab: DataFrame | None = None,
                         q_words: Sequence[str] | None = None) -> DataFrame:
    """Shared SymSpell candidate generator (term_suggest + the phrase
    suggester): corpus vocabulary vs the query frame ``qdf`` (columns
    ``key_cols`` + ``q``), deletion-neighborhood equi-join, exact
    levenshtein verify, (dist, freq DESC, term) top-``per_term`` per
    key. Returns key_cols + (term, freq, dist, rn). Pass ``vocab``
    ((term, freq)) to reuse an already-built aggregate; pass the
    driver-known query words as ``q_words`` to pre-filter the
    vocabulary to the exact length window before the O(L²)
    deletion-variant explode (levenshtein ≤ SUGGEST_MAX_EDIT forces
    ``|len(term) − len(q)| ≤ SUGGEST_MAX_EDIT``, so the filter is a
    superset of the join's own length constraint — result-identical,
    and the variant work drops with every excluded long term)."""
    if vocab is None:
        vocab = (df.select(F.explode(tokens(F.col(text_col)))
                           .alias("term"))
                 .groupBy("term").agg(F.count(F.lit(1)).alias("freq")))
    vside = vocab
    if q_words:
        lens = [len(w) for w in q_words]
        vside = vocab.where(F.length("term").between(
            min(lens) - SUGGEST_MAX_EDIT, max(lens) + SUGGEST_MAX_EDIT))
    vvar = vside.select(
        "term", "freq",
        F.explode(deletion_variants(F.col("term"))).alias("v"))
    qvar = qdf.select(
        *key_cols, "q",
        F.explode(deletion_variants(F.col("q"))).alias("v"))
    cand = (vvar.join(F.broadcast(qvar), "v")
            .select(*key_cols, "q", "term", "freq").distinct()
            .withColumn("dist", F.levenshtein(F.col("q"), F.col("term")))
            .filter(F.col("dist") <= SUGGEST_MAX_EDIT))
    wnd = (Window.partitionBy(*key_cols)
           .orderBy(F.col("dist"), F.col("freq").desc(), F.col("term")))
    return (cand.withColumn("rn", F.row_number().over(wnd))
            .filter(F.col("rn") <= per_term))


def term_suggest(df: DataFrame, misspelled: Sequence[str],
                 per_term: int = SUGGEST_PER_TERM,
                 text_col: str = "text") -> DataFrame:
    """The ES term suggester: for each input term, the ``per_term``
    closest corpus-vocabulary words within Levenshtein distance
    ≤ SUGGEST_MAX_EDIT, ranked by (distance asc, frequency desc,
    candidate asc).

    SymSpell candidate generation: both sides explode their
    ≤2-deletion neighborhoods and equi-join on the variant string — a
    superset of all Levenshtein-≤2 pairs — then the exact
    ``levenshtein`` verify makes the set exact. The vocabulary never
    cross-joins the query terms.

    Scale: the vocabulary is the (term, freq) corpus aggregate —
    map-side combinable, output ≪ corpus; its deletion explode is
    |vocab|·L² short strings. The query side is a handful of rows,
    broadcast after its own explode. The rank window partitions by
    query term — no global single-partition window.
    """
    spark = df.sparkSession
    qdf = spark.createDataFrame([(m,) for m in misspelled], "q string")
    return (_symspell_candidates(df, qdf, ["q"], per_term, text_col,
                                 q_words=list(misspelled))
            .select("q", "term", "dist", "freq", "rn")
            .orderBy("q", "rn"))


#: rank_eval gain grain: micro-units of the 1/log2(rank+1) DCG gain
RANK_EVAL_FP = 1_000_000

#: Reciprocal Rank Fusion: the standard rank constant (Cormack et al.;
#: ES's rrf retriever default) and the integer contribution grain
RRF_K0 = 60
RRF_FP = 1_000_000


def hybrid_rrf(docs: DataFrame, embs: DataFrame, terms: Sequence[str],
               qvec_id: int, k: int = 10, pool: int = 20,
               k0: int = RRF_K0, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Reciprocal Rank Fusion — the hybrid-search primitive (ES's
    ``rrf`` retriever shape, run on this repo's 6.8-era scoring
    machinery): fuse the BM25 lexical ranking for ``terms`` with the
    exact-cosine vector ranking for query vector ``qvec_id``, scoring
    each document RRF_FP div (k0 + rank) per list it appears in
    (pure integer — exact cross-engine), 0 for a list it misses.

    Output: (id, lex_rank, vec_rank, rrf_u, rank) — absent-list ranks
    surface as 0; doc ids and vec ids are unified (the fixtures share
    the id space); the query vector's own corpus row is excluded from
    the vector list (brute_force_topk's self-match rule).

    Scale: both input rankings are existing TakeOrdered/top-k plans
    (BM25 matched-pairs shuffle; broadcast-query brute-force — swap in
    lsh/ivf/pq_topk for the indexed path, same fusion); the fusion
    itself touches only 2·pool rows, so the full-outer join and the
    final rank window are bounded by construction.
    """
    from kafana_spark.operators import similarity

    q = (similarity._vectors(embs)
         .where(F.col("vec_id") == int(qvec_id))
         .select(F.col("vec_id").alias("qid"), "v"))
    vec = (similarity.brute_force_topk(embs, q, k=pool)
           .select(F.col("vec_id").alias("id"),
                   F.col("rank").cast("int").alias("vec_rank")))
    return _rrf_fuse(_lex_ranking(docs, terms, pool, id_col, text_col),
                     vec, k, k0, id_col)


def hybrid_rrf_lsh(docs: DataFrame, embs: DataFrame,
                   terms: Sequence[str], qvec_id: int, k: int = 10,
                   pool: int = 20, k0: int = RRF_K0,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """``hybrid_rrf`` with the INDEXED vector ranking — the
    hyperplane-LSH bucketed top-k (x81's plan) replaces the exhaustive
    scan, nothing else changes: the production fusion shape at 100 TB
    (candidates from a (table, code) equi-join, per-query cost
    O(L·bucket)). Sparse buckets may return fewer than ``pool`` vector
    rows; RRF's missing-list-contributes-0 rule absorbs that — the
    honest LSH contract composes cleanly with fusion."""
    from kafana_spark.operators import similarity

    q = (similarity._vectors(embs)
         .where(F.col("vec_id") == int(qvec_id))
         .select(F.col("vec_id").alias("qid"), "v"))
    vec = (similarity.lsh_topk(embs, q, k=pool)
           .select(F.col("vec_id").alias("id"),
                   F.col("rank").cast("int").alias("vec_rank")))
    return _rrf_fuse(_lex_ranking(docs, terms, pool, id_col, text_col),
                     vec, k, k0, id_col)


def _lex_ranking(docs: DataFrame, terms: Sequence[str], pool: int,
                 id_col: str, text_col: str) -> DataFrame:
    """(id, lex_rank): the BM25 top-``pool`` ranking; the rank window
    runs over the already-limited pool rows."""
    lex = bm25_topk(docs, list(terms), k=pool, id_col=id_col,
                    text_col=text_col)
    wl = Window.orderBy(F.col("score_u").desc(), F.col(id_col))
    return (lex.withColumn("lex_rank",
                           F.row_number().over(wl).cast("int"))
            .select(F.col(id_col).alias("id"), "lex_rank"))


def _rrf_fuse(lexr: DataFrame, vec: DataFrame, k: int, k0: int,
              id_col: str) -> DataFrame:
    """Integer RRF fusion of two bounded (id, rank) lists."""
    fused = lexr.join(vec, "id", "full_outer")
    contrib_l = F.when(F.col("lex_rank").isNotNull(),
                       F.expr(f"{RRF_FP} div ({k0} + lex_rank)")) \
        .otherwise(F.lit(0)).cast("long")
    contrib_v = F.when(F.col("vec_rank").isNotNull(),
                       F.expr(f"{RRF_FP} div ({k0} + vec_rank)")) \
        .otherwise(F.lit(0)).cast("long")
    scored = fused.select(
        F.col("id").alias(id_col),
        F.coalesce("lex_rank", F.lit(0)).cast("int").alias("lex_rank"),
        F.coalesce("vec_rank", F.lit(0)).cast("int").alias("vec_rank"),
        (contrib_l + contrib_v).alias("rrf_u"))
    wout = Window.orderBy(F.col("rrf_u").desc(), F.col(id_col))
    return (scored.withColumn("rank",
                              F.row_number().over(wout).cast("int"))
            .where(F.col("rank") <= k).orderBy("rank"))


def rank_eval(df: DataFrame, terms: Sequence[str], k: int = 10,
              rel_min_tf: int = 4, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """The ES ``rank_eval`` API: per-query precision@k, MRR and NDCG@k
    for a batch of single-term queries, with the relevance judgment
    derived from the corpus itself (doc relevant for query t iff
    tf(t, d) ≥ ``rel_min_tf`` — judgment depends on the document, not
    on the ranking being evaluated).

    All metrics are integers: the DCG gain 1/log2(rank+1) is rounded
    to RANK_EVAL_FP micro-units per rank BEFORE summation (ranks are
    small integers, so both engines' log2/division agree far inside
    the grain); precision and NDCG are integer basis points, MRR is
    1e6 div first_relevant_rank. Precision@k divides by the retrieved
    count (ES's denominator), and queries with zero hits still emit a
    row of zeroed metrics.

    Output: (term, n_rel, p_at_k_bp, mrr_u, dcg_u, idcg_u, ndcg_bp).

    Scale: the per-(doc, term) BM25 contribution reuses bm25_scores'
    shape (matched pairs only ever shuffle); the top-k per query is a
    rank-limit window on the |terms|-way partitioned score frame; the
    judgment total per term is a broadcast-sized aggregate.
    """
    spark = df.sparkSession
    terms_df = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in terms])).alias("term"))
    scored = (_term_contribs(df, terms_df, id_col, text_col,
                             extra=("tf",))
              .select("term", F.col(id_col), "c_u",
                      (F.col("tf") >= rel_min_tf).cast("int")
                      .alias("rel")))
    n_rel = (scored.groupBy("term")
             .agg(F.sum("rel").alias("n_rel")))
    w = Window.partitionBy("term").orderBy(F.col("c_u").desc(),
                                           F.col(id_col))
    gain = F.round(F.lit(float(RANK_EVAL_FP))
                   / F.log2(F.col("rank") + 1)).cast("long")
    top = (scored.withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= k)
           .withColumn("gain_u", gain))
    per_q = (top.groupBy("term")
             .agg(F.sum("rel").alias("n_rel_at_k"),
                  F.count(F.lit(1)).alias("n_ret"),
                  F.sum(F.col("rel") * F.col("gain_u")).alias("dcg_u"),
                  F.min(F.when(F.col("rel") == 1, F.col("rank")))
                  .alias("first_rel")))
    ideal = F.aggregate(
        F.sequence(F.lit(1), F.least(F.col("n_rel"), F.lit(k))),
        F.lit(0).cast("long"),
        lambda acc, i: acc + F.round(
            F.lit(float(RANK_EVAL_FP)) / F.log2(i + 1)).cast("long"))
    # ES-parity details: precision@k divides by the RETRIEVED count
    # (= least(k, hits) — a query retrieving fewer than k docs is not
    # deflated by a fixed-k denominator), and the term list is the
    # left side so a no-hit query surfaces with zeroed metrics instead
    # of vanishing from the report.
    base = (terms_df.join(per_q, "term", "left")
            .join(F.broadcast(n_rel), "term", "left")
            .select("term",
                    F.coalesce("n_rel", F.lit(0)).cast("long")
                    .alias("n_rel"),
                    F.coalesce("n_rel_at_k", F.lit(0)).cast("long")
                    .alias("n_rel_at_k"),
                    F.coalesce("n_ret", F.lit(0)).cast("long")
                    .alias("n_ret"),
                    F.coalesce("dcg_u", F.lit(0)).cast("long")
                    .alias("dcg_u"),
                    "first_rel"))
    return (base
            .select(
                "term", "n_rel",
                F.when(F.col("n_ret") > 0,
                       F.expr("10000 * n_rel_at_k div n_ret"))
                .otherwise(F.lit(0)).cast("long").alias("p_at_k_bp"),
                F.when(F.col("first_rel").isNotNull(),
                       F.expr(f"{RANK_EVAL_FP} div first_rel"))
                .otherwise(F.lit(0)).cast("long").alias("mrr_u"),
                F.col("dcg_u"),
                F.when(F.col("n_rel") > 0, ideal).otherwise(F.lit(0))
                .alias("idcg_u"))
            .withColumn(
                "ndcg_bp",
                F.when(F.col("idcg_u") > 0,
                       F.expr("10000 * dcg_u div idcg_u"))
                .otherwise(F.lit(0)).cast("long"))
            .orderBy("term"))


def pinned_query(df: DataFrame, terms: Sequence[str],
                 pinned_ids: Sequence[int], k: int = 10,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """The ES ``pinned`` query: the listed document ids rank first, in
    list order (whether or not they match), followed by the organic
    BM25 ranking with the pinned ids removed — ES's editorial-promotion
    primitive.

    Output: (rank, doc_id, score_u, pinned) — score_u is 0 for a
    pinned doc with no term match (ES gives pinned hits a synthetic
    score too). At most ``k`` rows total: a pinned list longer than
    ``k`` is truncated to its first ``k`` entries (ES honors size).

    Scale: the pinned id set stays |ids| rows end-to-end — the score
    table is FILTERED to the pinned ids before the left join (never
    broadcast corpus-side); the organic side is bm25_scores'
    matched-pairs shuffle + a TakeOrdered top-k — the pinned list
    never perturbs the corpus-side plan.
    """
    pinned_ids = list(pinned_ids)[:k]
    spark = df.sparkSession
    terms_df = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in terms])).alias("term"))
    scored = bm25_scores(df, terms_df, id_col=id_col, text_col=text_col)
    ids = spark.range(1).select(
        F.posexplode(F.array(*[F.lit(int(i)) for i in pinned_ids]))
        .alias("pos", id_col))
    pin_scores = scored.where(
        F.col(id_col).isin([int(i) for i in pinned_ids]))
    pinned = (ids.join(F.broadcast(pin_scores), id_col, "left")
              .select((F.col("pos") + 1).cast("int").alias("rank"),
                      F.col(id_col),
                      F.coalesce(F.col("score_u"), F.lit(0))
                      .cast("long").alias("score_u"),
                      F.lit(1).alias("pinned")))
    n_pin = len(pinned_ids)
    org = (scored.join(F.broadcast(ids.select(id_col)), id_col,
                       "left_anti")
           .orderBy(F.col("score_u").desc(), F.col(id_col))
           .limit(max(0, k - n_pin)))
    w = Window.orderBy(F.col("score_u").desc(), F.col(id_col))
    org = org.select(
        (F.row_number().over(w) + n_pin).cast("int").alias("rank"),
        F.col(id_col), F.col("score_u"), F.lit(0).alias("pinned"))
    return pinned.unionByName(org).orderBy("rank")


def match_phrase(df: DataFrame, phrase: Sequence[str],
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """The ES ``match_phrase`` query (slop 0): documents containing the
    exact consecutive token sequence, with the occurrence count (the
    phrase-frequency ES feeds its scoring).

    A length-n phrase is containment of one word n-gram — a PURE column
    expression over the gram array (no position join, no shuffle
    beyond the scan): the n-gram array is built per row map-side and
    filtered against the literal.

    Scale: map-only until the final count; the phrase literal lives in
    the codegen'd filter, so the scan prunes to (id, text).
    """
    from kafana_spark.functions import grams

    lit = " ".join(phrase)
    g = grams(F.col(text_col), len(phrase))
    n = F.size(F.filter(g, lambda x: x == F.lit(lit)))
    return (df.select(F.col(id_col), n.alias("n_occurrences"))
            .where(F.col("n_occurrences") > 0))


def span_near(df: DataFrame, first: str, second: str, slop: int,
              id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """The ES ``span_near`` query (two clauses, in_order=true):
    documents where ``second`` occurs after ``first`` within ``slop``
    intervening positions, with the matching position-pair count.

    Scale: the token posexplode filters to the two query terms BEFORE
    any shuffle (term selectivity sizes the exchange, not the corpus —
    the _matched_tf stance); the pair join is an equi-join on the doc
    id with the distance predicate on top.
    """
    tok = tokens(F.col(text_col))
    pos = (df.select(F.col(id_col),
                     F.posexplode(tok).alias("p", "w"))
           .where(F.col("w").isin([first, second])))
    a = (pos.where(F.col("w") == first)
         .select(F.col(id_col), F.col("p").alias("pa")))
    b = (pos.where(F.col("w") == second)
         .select(F.col(id_col), F.col("p").alias("pb")))
    pairs = (a.join(b, id_col)
             .where((F.col("pb") > F.col("pa"))
                    & (F.col("pb") - F.col("pa") <= slop + 1)))
    return (pairs.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_pairs")))


def terms_set(df: DataFrame, terms: Sequence[str], min_match: int,
              id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """The ES ``terms_set`` query: documents matching at least
    ``min_match`` of the given terms (minimum_should_match as a
    first-class query; ES evaluates it per doc against a script or
    field).

    Scale: the matched-pairs shape again — the explode filters to the
    query terms before the distinct-count aggregation; nothing
    corpus-sized shuffles.
    """
    spark = df.sparkSession
    terms_df = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in terms])).alias("term"))
    tf = _matched_tf(df, terms_df, id_col, text_col)
    return (tf.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("int").alias("n_matched"))
            .where(F.col("n_matched") >= min_match))


#: dis_max tie_breaker (ES default family: 0 pure max; 0.3 common)
DIS_MAX_TIE = 0.3


def dis_max(df: DataFrame, terms: Sequence[str], k: int = 10,
            tie_breaker: float = DIS_MAX_TIE, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """The ES ``dis_max`` query over per-term BM25 clauses: a doc
    scores its BEST clause plus ``tie_breaker`` times the rest —
    best-fields semantics, vs the bool/should SUM that x88 computes.

    score_u = max(c_u) + round(tie_breaker · (Σc_u − max c_u)) — the
    per-clause contributions are the x88 integer fixed-point units, so
    the combine is exact integer arithmetic plus one rounded scalar
    multiply of an integer (identical in both engines).

    Scale: identical plan shape to bm25_scores (matched pairs only),
    one extra MAX beside the SUM in the same combinable aggregate.
    """
    spark = df.sparkSession
    terms_df = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in terms])).alias("term"))
    c = _term_contribs(df, terms_df, id_col, text_col)
    agg = (c.groupBy(id_col)
           .agg(F.count(F.lit(1)).cast("int").alias("n_matched"),
                F.max("c_u").alias("mx"), F.sum("c_u").alias("sm")))
    score = (F.col("mx")
             + F.round(F.lit(tie_breaker)
                       * (F.col("sm") - F.col("mx"))).cast("long"))
    return (agg.select(F.col(id_col), "n_matched",
                       score.alias("score_u"))
            .orderBy(F.col("score_u").desc(), F.col(id_col))
            .limit(k))


#: ES boosting query negative_boost in ppm (0.5 = the doc keeps half
#: its score when it matches the negative query)
NEG_BOOST_PPM = 500_000


def boosting(df: DataFrame, positive: Sequence[str], negative: str,
             k: int = 10, neg_boost_ppm: int = NEG_BOOST_PPM,
             id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """The ES ``boosting`` query: rank by the positive BM25 query, but
    demote (not exclude) documents matching the negative clause —
    score × negative_boost, ES's soft-exclusion primitive.

    The demotion is integer arithmetic (score_u · ppm div 1e6), so
    ranking stays engine-exact; the negative flag is one token-
    containment column expression (map-side, no extra shuffle).

    Scale: bm25_scores' matched-pairs plan + a broadcast semi-flag
    join of the (tiny) negative-match id set.
    """
    spark = df.sparkSession
    terms_df = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in positive])).alias("term"))
    scored = bm25_scores(df, terms_df, id_col=id_col, text_col=text_col)
    neg = (df.where(F.array_contains(tokens(F.col(text_col)), negative))
           .select(F.col(id_col)))
    out = (scored.join(F.broadcast(neg.withColumn("_neg", F.lit(1))),
                       id_col, "left")
           .select(F.col(id_col), "n_matched",
                   F.when(F.col("_neg").isNotNull(),
                          F.expr(f"score_u * {neg_boost_ppm} "
                                 "div 1000000"))
                   .otherwise(F.col("score_u")).cast("long")
                   .alias("score_u"),
                   F.coalesce(F.col("_neg"), F.lit(0)).alias("demoted")))
    return (out.orderBy(F.col("score_u").desc(), F.col(id_col))
            .limit(k))


def explain_score(df: DataFrame, terms: Sequence[str], doc_id: int,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """The ES ``_explain`` API: the per-term BM25 contribution
    breakdown for ONE document against a query — exactly the rows
    whose integer sum is the x88 score, so the explanation is
    verifiable against the ranking by construction.

    Output: (term, tf, c_u), one row per matched query term.

    Scale: same matched-pairs plan as scoring, with the doc-id
    predicate pushed into the scan — the corpus contributes only the
    global stats (1-row) and per-term df (≤|terms| rows, computed on
    the matched pairs, the same corpus-wide table scoring uses).
    """
    spark = df.sparkSession
    terms_df = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in terms])).alias("term"))
    c = _term_contribs(df, terms_df, id_col, text_col, extra=("tf",))
    return (c.where(F.col(id_col) == F.lit(int(doc_id)))
            .select("term", "tf", "c_u")
            .orderBy("term"))


def completion_suggest(df: DataFrame, prefix: str, size: int = 5,
                       text_col: str = "text") -> DataFrame:
    """The ES completion suggester: vocabulary words with the given
    prefix, ranked by corpus frequency (ES backs this with a dedicated
    FST; the declarative twin is a prefix filter over the token
    dictionary — the filter is sargable on a stored vocab table).

    Output: (word, cnt), top-``size`` by (cnt DESC, word).

    Scale: explode → combinable count → prefix filter → TakeOrdered.
    On a persisted vocab/token index (index.py) the scan prunes to the
    prefix's hash buckets and the explode is never re-paid.
    """
    w = (df.select(F.explode(tokens(F.lower(F.col(text_col))))
                   .alias("word"))
         .where(F.col("word").startswith(prefix))
         .groupBy("word").agg(F.count(F.lit(1)).alias("cnt")))
    return (w.orderBy(F.col("cnt").desc(), "word").limit(size))


#: phrase suggester: error-model penalty per edit, in UNIGRAM_FP
#: (0.1-milli-nat) units — 2 nats/edit keeps a 2-edit correction from
#: beating an in-vocabulary bigram, matching ES's error-model ×
#: LM-likelihood composition.
PHRASE_EDIT_PENALTY_U = 20_000
PHRASE_PER_TERM = 3
PHRASE_TOPN = 5


def phrase_suggest(df: DataFrame, phrase: Sequence[str],
                   per_term: int = PHRASE_PER_TERM,
                   topn: int = PHRASE_TOPN,
                   text_col: str = "text") -> DataFrame:
    """The ES phrase suggester: whole-phrase corrections — per-position
    SymSpell candidates (the x92 machinery) recombined and ranked by a
    corpus bigram LM (the x96 Stupid-Backoff model, trained on the
    full corpus) plus an error-model penalty per edit. ES composes
    exactly these two signals (candidate generator × LM likelihood).

    Output: (suggestion, total_dist, cost_u, rank) — lower cost is
    better; all arithmetic integer fixed-point (per-pair costs rounded
    BEFORE the sum).

    Scale: vocabulary and bigram counts are map-side-combinable corpus
    aggregates. The candidate frame is BOUNDED by construction
    (≤ W·per_term words, ≤ (W−1)·per_term² adjacent pairs,
    ≤ per_term^W combinations), so the whole recombination/scoring
    tail runs on collected rows (the graph family's ``_local_result``
    / Lloyd-centroid bounded-collect discipline): the corpus is
    touched exactly twice — the vocab aggregate (persisted across the
    candidate/count/total lookups, released before return) and one
    bigram pass pre-filtered to the candidate pairs BEFORE its
    aggregation. The count lookups are string-keyed — the oracle's
    own c1/c2 grain. The cost arithmetic stays in Spark Column
    expressions over the 27-row local frame, so the floating-point
    path (JVM ln on integer counts, rounded to the 1e4 grain) is
    identical to the former join-based plan. r12: the former shape
    paid ~1.5 s of driver plan analysis for its ~20-join tree and
    re-ran the vocab aggregate per broadcast subquery.
    """
    import itertools

    from kafana_spark.functions import grams

    if len(phrase) < 2:
        raise ValueError(
            "phrase_suggest needs >= 2 words (bigram LM has no context "
            "for a single term — use term_suggest)")
    if len(phrase) > 6:
        raise ValueError(
            f"phrase_suggest supports at most 6 words (got "
            f"{len(phrase)}): the combination frame is per_term^W rows "
            "— split longer inputs into clauses")
    spark = df.sparkSession
    w_count = len(phrase)
    # ONE vocab aggregate feeds the SymSpell candidates, the c1/total
    # count lookups (persisted: three bounded actions, one corpus pass)
    vocab = (df.select(F.explode(tokens(F.col(text_col))).alias("term"))
             .groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
             .persist())
    try:
        qdf = spark.createDataFrame(list(enumerate(phrase)),
                                    "pos int, q string")
        cand_rows = (_symspell_candidates(df, qdf, ["pos"], per_term,
                                          text_col, vocab=vocab,
                                          q_words=list(phrase))
                     .select("pos", "term", "dist").collect())
        n1, nv = vocab.agg(F.sum("freq"), F.count(F.lit(1))).first()
        n1, nv = int(n1 or 0), int(nv or 0)
        words = sorted({r["term"] for r in cand_rows})
        # count lookups are string-keyed — exactly the oracle's c1/c2
        # grain (the former plan keyed on 60-bit hashes, the
        # engine-side approximation of this)
        c1_map: dict[str, int] = {}
        if words:
            c1_map = {r["term"]: r["freq"] for r in
                      vocab.where(F.col("term").isin(words)).collect()}
    finally:
        vocab.unpersist()
    by_pos = [sorted((r["term"], r["dist"]) for r in cand_rows
                     if r["pos"] == i) for i in range(w_count)]
    adj_pairs = sorted({(a, b)
                        for i in range(w_count - 1)
                        for a, _ in by_pos[i]
                        for b, _ in by_pos[i + 1]})
    c2_map: dict[tuple[str, str], int] = {}
    if adj_pairs:
        # the candidate-pair filter runs BEFORE the bigram
        # aggregation: the corpus explode is map-only + a ≤18-string
        # isin predicate, and the groupBy shuffles ≤18 keys
        pair_strs = [f"{a} {b}" for a, b in adj_pairs]
        c2_rows = (df.select(F.explode(grams(F.col(text_col), 2))
                             .alias("g"))
                   .where(F.col("g").isin(pair_strs))
                   .groupBy("g").agg(F.count(F.lit(1)).alias("c2"))
                   .collect())
        gc = {r["g"]: r["c2"] for r in c2_rows}
        c2_map = {(a, b): gc[f"{a} {b}"] for a, b in adj_pairs
                  if f"{a} {b}" in gc}
    combo_schema = ", ".join(
        [f"w{i} string, d{i} int" for i in range(w_count)]
        + [f"cp{i} bigint, cn{i} bigint, c2_{i} bigint"
           for i in range(w_count - 1)])
    combo_rows = []
    for combo in itertools.product(*by_pos):
        row: list = []
        for w, d in combo:
            row += [w, d]
        for i in range(w_count - 1):
            row += [c1_map.get(combo[i][0]),
                    c1_map.get(combo[i + 1][0]),
                    c2_map.get((combo[i][0], combo[i + 1][0]))]
        combo_rows.append(tuple(row))
    scored = spark.createDataFrame(combo_rows, combo_schema)
    # per-adjacency cost: seen → ln c1(prev) − ln c2(pair);
    # unseen → add-one unigram of the next word + the backoff discount
    cost_cols = []
    for i in range(w_count - 1):
        seen = (F.log(F.col(f"cp{i}")) - F.log(F.col(f"c2_{i}")))
        unseen = (F.log(F.lit(int(n1)) + F.lit(int(nv)))
                  - F.log(F.coalesce(F.col(f"cn{i}"), F.lit(0)) + 1)
                  - F.log(F.lit(0.4)))
        cost = F.when(F.col(f"c2_{i}").isNotNull(), seen) \
            .otherwise(unseen)
        cost_cols.append(
            F.round(cost * F.lit(10000.0)).cast("long"))
    total_dist = sum(F.col(f"d{i}") for i in range(w_count))
    cost_u = (sum(cost_cols)
              + F.lit(PHRASE_EDIT_PENALTY_U) * total_dist)
    out = scored.select(
        F.concat_ws(" ", *[F.col(f"w{i}") for i in range(w_count)])
        .alias("suggestion"),
        total_dist.cast("int").alias("total_dist"),
        cost_u.alias("cost_u"))
    wout = Window.orderBy(F.col("cost_u"), F.col("suggestion"))
    return (out.withColumn("rank", F.row_number().over(wout).cast("int"))
            .filter(F.col("rank") <= topn)
            .orderBy("rank"))


def term_vectors(df: DataFrame, doc_id: int, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """The ES ``_termvectors`` API: per-term statistics for one
    document — term frequency, corpus document frequency, total term
    frequency, and the token positions (ES's positions/offsets block;
    offsets omitted — the fixture tokens are space-joined, so
    positions determine them). Positions are emitted as a
    comma-joined STRING, not array<int>: the result surface of every
    query is scalar-typed by contract (driver canonicalizers sort
    result frames through pandas, which cannot hash list cells).

    Scale: the document's own rows come from a pushed id predicate;
    df/ttf are corpus aggregates REDUCED to the doc's term set via a
    broadcast semi-join before joining back (never a full vocabulary
    materialization on the query path).
    """
    tok = tokens(F.col(text_col))
    pos = (df.where(F.col(id_col) == F.lit(int(doc_id)))
           .select(F.posexplode(tok).alias("p", "term")))
    doc_stats = (pos.groupBy("term")
                 .agg(F.count(F.lit(1)).cast("int").alias("tf"),
                      F.array_join(
                          F.sort_array(F.collect_list("p"))
                          .cast("array<string>"), ",")
                      .alias("positions")))
    corpus = df.select(F.col(id_col), F.explode(tok).alias("term"))
    needed = doc_stats.select("term")
    cstats = (corpus.join(F.broadcast(needed), "term")
              .groupBy("term")
              .agg(F.count_distinct(F.col(id_col)).cast("int").alias("df"),
                   F.count(F.lit(1)).cast("int").alias("ttf")))
    return (doc_stats.join(cstats, "term")
            .select("term", "tf", "df", "ttf", "positions")
            .orderBy("term"))


#: percolator query table (written and read through the store's commit
#: log, like the other persisted indexes)
PERC_DIR = "perc_queries"


def _percolate_qdf(df: DataFrame, qdf: DataFrame, id_col: str,
                   text_col: str) -> DataFrame:
    """The percolation match core over an arbitrary registered-query
    table (query_id, term, n_required) — shared by the inline
    ``percolate`` and the stored-index path."""
    doc_terms = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("term"))
    hits = (doc_terms.join(F.broadcast(qdf), "term")
            .groupBy(id_col, "query_id", "n_required")
            .agg(F.count(F.lit(1)).alias("n_matched"))
            .filter(F.col("n_matched") == F.col("n_required")))
    digests = (hits.groupBy("query_id")
               .agg(F.count(F.lit(1)).cast("long").alias("n_hits"),
                    F.min(id_col).alias("first_id")))
    all_q = qdf.select("query_id").distinct()
    return (all_q.join(digests, "query_id", "left")
            .select("query_id",
                    F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
                    "first_id")
            .orderBy("query_id"))


def _perc_rows(spark, queries: Mapping[str, Sequence[str]],
               seq: int) -> DataFrame:
    """(query_id, term, n_required, seq) rows of registration ``seq``."""
    return spark.createDataFrame(
        [(qid, t, len(ts), seq)
         for qid, ts in sorted(queries.items()) for t in ts],
        "query_id string, term string, n_required int, seq int")


def build_percolator_index(spark, queries: Mapping[str, Sequence[str]],
                           path: str) -> None:
    """Persist registered percolator queries — ES stores percolator
    queries AS index documents, and this is that store: (query_id,
    term, n_required) rows under the same commit and rebuild
    discipline as the other persisted indexes. A build replaces the
    table as registration seq 0; ``register_percolator_queries``
    appends later registrations."""
    replace_table(_perc_rows(spark, queries, 0), f"{path}/{PERC_DIR}")


def percolate_from_store(df: DataFrame, path: str,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Percolation served from the persisted query store: register
    alerts once (or via ``register_percolator_queries`` appends),
    match any document batch/stream against them with no query
    re-compilation — the ES alerting serving path."""
    spark = df.sparkSession
    raw = read_table(spark, f"{path}/{PERC_DIR}")
    # latest registration wins: a re-registered query_id REPLACES its
    # earlier definition (without this, stale term rows inflate
    # n_matched past n_required and the alert silently never fires)
    wmax = Window.partitionBy("query_id")
    qdf = (raw.withColumn("_mx", F.max("seq").over(wmax))
           .where(F.col("seq") == F.col("_mx"))
           .select("query_id", "term", "n_required").distinct())
    return _percolate_qdf(df, qdf, id_col, text_col)


def register_percolator_queries(spark,
                                queries: Mapping[str, Sequence[str]],
                                path: str, batch: str) -> None:
    """Incrementally register new alert queries as batch ``batch``
    (idempotent per batch id — re-registration replaces its own
    batch only, the redelivery-safe discipline of the other index
    appends)."""
    # registration order: base is seq 0, incremental batch N is seq
    # N+1 — the offset keeps batch="0" strictly AFTER base (a tie
    # would make the latest-wins max-seq filter keep BOTH definitions
    # of a re-registered query_id: inflated n_matched, never-firing
    # alert). Non-numeric / negative batch ids raise loudly rather
    # than storing an unorderable version.
    seq = int(batch) + 1
    if seq <= 0:
        raise ValueError(
            f"percolator batch id must be >= 0 (got {batch!r})")
    append_table(_perc_rows(spark, queries, seq), f"{path}/{PERC_DIR}",
                 batch)


def append_percolator_alerts(batch_df: DataFrame, queries_path: str,
                             out_path: str, batch: str, *,
                             id_col: str = "doc_id",
                             text_col: str = "text") -> None:
    """Percolate a document batch against the stored queries and
    append its alert digests to ``out_path`` as batch ``batch``, with
    the id in a ``batch`` column (a redelivery replaces its own
    digests). A stream alerts per micro-batch through
    ``streaming.pipeline.batch_sink(ckpt, append_percolator_alerts,
    queries_path, out_path)``."""
    out = percolate_from_store(batch_df, queries_path,
                               id_col=id_col, text_col=text_col)
    append_table(out.withColumn("batch", F.lit(batch)), out_path, batch)


def msearch_bm25(df: DataFrame, searches, k: int = 5,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """ES ``_msearch``: a batch of independent BM25 term queries
    answered in ONE corpus pass — the dashboard fan-in that makes K
    widgets cost one scan instead of K.

    All searches' terms union into a single broadcast term set; the
    shared :func:`_term_contribs` tree scores each (doc, term) once
    (idf/df are per-term corpus facts, identical whichever search
    asked), then a broadcast (search, term) mapping splits the
    contributions back out and a per-search rank window (over matched
    docs only) cuts each top-k.

    ``searches`` maps search_id -> term sequence. Output:
    (sid, rank, id, n_matched, score_u) ordered by (sid, rank).

    Scale: the corpus is tokenized once; the rank window partitions
    by search over the matched frame — never a second scan per query.
    """
    spark = df.sparkSession
    pairs = [(sid, t) for sid, ts in sorted(searches.items())
             for t in ts]
    sdf = spark.createDataFrame(pairs, "sid string, term string")
    terms_df = sdf.select("term").distinct()
    c = _term_contribs(df, terms_df, id_col, text_col)
    scored = (c.join(F.broadcast(sdf), "term")
              .groupBy("sid", id_col)
              .agg(F.count(F.lit(1)).cast("int").alias("n_matched"),
                   F.sum("c_u").alias("score_u")))
    w = Window.partitionBy("sid").orderBy(F.col("score_u").desc(),
                                          F.col(id_col))
    return (scored.withColumn("rank",
                              F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= k)
            .select("sid", "rank", id_col, "n_matched", "score_u")
            .orderBy("sid", "rank"))
