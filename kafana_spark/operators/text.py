"""Text-analysis operators (SURVEY.md §2.E4): language ID, quality
scoring, token counting, document fingerprinting.

All scoring paths are pure Column expressions with DuckDB oracle twins;
the rolling-hash chunker is the one mapInPandas operator (content-
defined chunking is inherently sequential per document, not per row
set — the Arrow batch path keeps it vectorized per partition).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafana_spark.functions import tokens
from kafana_spark.store import read_table, replace_table

# marker stopwords per language for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "es": ("el", "la", "de", "y", "es", "un"),
    "fr": ("le", "la", "et", "les", "est", "un"),
}
# literal CJK chars (not \u escapes): Java regex and DuckDB's RE2 both
# accept the raw range, while RE2 rejects \uXXXX escapes
CJK_PATTERN = "[一-鿿]"

STOPWORDS = ("the", "a", "of", "and", "to", "is", "in", "it")


#: BPE-ish pre-tokenizer regex (GPT-2 style, ASCII-simplified so Java
#: regex and DuckDB's RE2 agree): a token is an optionally-space-prefixed
#: letter run, digit run, or punctuation run.
BPE_PATTERN = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def token_count(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Whitespace token count + distinct count + two BPE-ish subword
    estimates: chars/4 (the usual byte-pair heuristic) and a real
    pre-tokenizer regex count (GPT-2-style split)."""
    tok = tokens(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.size(tok).alias("n_tokens"),
        F.size(F.array_distinct(tok)).alias("n_uniq"),
        F.ceil(F.length(F.col(text_col)) / 4).cast("long").alias("n_subwords"),
        F.regexp_count(F.col(text_col), F.lit(BPE_PATTERN)).cast("long")
        .alias("n_bpe"),
    )


def lang_id(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """Heuristic language ID: CJK char ratio → zh, else argmax of
    marker-stopword hits (alphabetical tiebreak, 'und' = unknown)."""
    tok = F.array_distinct(tokens(F.lower(F.col(text_col))))
    scores = {
        lang: F.size(F.array_intersect(
            tok, F.array(*[F.lit(m) for m in markers])))
        for lang, markers in LANG_MARKERS.items()
    }
    cjk = F.length(F.regexp_replace(F.col(text_col), CJK_PATTERN, "")) \
        < F.length(F.col(text_col))
    # argmax with deterministic tiebreak: forward alphabetical order +
    # strict > means the alphabetically-first language wins ties
    best_lang, best_score = F.lit("und"), F.lit(0)
    for lang in sorted(scores):
        s = scores[lang]
        take = s > best_score
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, s).otherwise(best_score)
    pred = F.when(cjk, F.lit("zh")).otherwise(best_lang)
    return df.select(F.col(id_col), pred.alias("pred_lang"))


def quality_score(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Deterministic quality score in basis points [0, 10000]:
    0.4·length_score + 0.3·diversity + 0.3·stopword_presence.

    length_score  = min(n_tokens/100, 1)
    diversity     = n_uniq / n_tokens
    stopword_rate = fraction of tokens in STOPWORDS (capped at 0.2,
                    scaled — total stopword absence reads as low quality)

    Computed entirely in integer arithmetic (scaled by 10⁴) so the
    result is bit-identical across engines — float ROUND lands on .5
    boundaries for ratio-of-small-int scores and differs per engine.
    """
    tok = tokens(F.col(text_col))
    n = F.size(tok)
    uniq = F.size(F.array_distinct(tok))
    stop_hits = F.size(F.filter(
        tok, lambda t: t.isin(*[F.lit(s) for s in STOPWORDS])))
    length_k = F.least(n, F.lit(100)) * 100                      # /100 * 1e4
    diversity_k = F.floor((F.lit(10000) * uniq + F.floor(n / 2)) / n)
    stop_k = F.least(F.floor(F.lit(50000) * stop_hits / n), F.lit(10000))
    quality = F.floor((F.lit(4) * length_k + F.lit(3) * diversity_k
                       + F.lit(3) * stop_k) / 10)
    return df.select(
        F.col(id_col),
        F.col("n_chars") if "n_chars" in df.columns else F.length(text_col).alias("n_chars"),
        quality.cast("long").alias("quality_bp"),
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", prefix_tokens: int = 8) -> DataFrame:
    """Document fingerprints: full-content md5 + head fingerprint
    (md5 of the first `prefix_tokens` tokens — catches truncation/
    near-prefix duplicates cheaply)."""
    tok = tokens(F.col(text_col))
    head = F.concat_ws(" ", F.slice(tok, 1, prefix_tokens))
    return df.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("fp_full"),
        F.md5(head).alias("fp_head"),
    )


def tfidf_top_terms(df: DataFrame, k: int = 3, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Top-k terms per document by tf-idf (pure SQL, oracle-checkable).

    tf    = term occurrences within the document (non-distinct)
    idf   = ln(N / df), df = number of documents containing the term
    score = ROUND(tf * idf, 4); ties broken by token ascending.

    Plan shape: one explode + two aggregations; the docs-count N and
    the per-token df ride in via a broadcast-able token-level frame
    (tokens ≪ corpus at scale after the groupBy).
    """
    from pyspark.sql.window import Window

    toks = df.select(F.col(id_col),
                     F.explode(tokens(F.col(text_col))).alias("token"))
    tf = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = (toks.groupBy("token")
               .agg(F.count_distinct(F.col(id_col)).alias("df")))
    n_docs = df.select(F.count(F.lit(1)).alias("n")).alias("nd")
    scored = (tf.join(docfreq, "token")
              .crossJoin(F.broadcast(n_docs))
              .select(F.col(id_col), "token",
                      F.round(F.col("tf") * F.log(F.col("n") / F.col("df")),
                              4).alias("tfidf")))
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(),
                                           F.col("token"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .select(id_col, "token", "tfidf", F.col("rk").cast("int").alias("rk")))


#: PII-ish redaction patterns, conservative syntax shared by Java regex
#: and DuckDB's RE2 (character classes + bounded quantifiers only).
#: Order matters: url before email (urls can embed @), specific first.
def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 2) -> DataFrame:
    """Intra-document repetition quality signal (the duplicated-n-gram
    filters of Gopher/MassiveText-style curation): per document,

    - ``top_bp``: share of n-gram occurrences taken by the single most
      frequent n-gram (basis points, floor),
    - ``dup_bp``: share of n-gram occurrences whose n-gram appears more
      than once (basis points, floor).

    Boilerplate/spam pages score high on both; prose scores low.
    Integer basis points keep the DuckDB oracle bit-exact (the one
    double op, FLOOR(1e4·a/b), is IEEE-identical across engines).

    Scale shape: explode n-grams (with multiplicity) → two doc-keyed
    hash aggregations, both map-side combinable; no join wider than the
    final id-preserving left join (docs shorter than n tokens report
    zeros rather than dropping).
    """
    from kafana_spark.functions import grams

    g = df.select(F.col(id_col),
                  F.explode(grams(F.col(text_col), n)).alias("g"))
    per_gram = (g.groupBy(id_col, "g")
                .agg(F.count(F.lit(1)).alias("cnt")))
    per_doc = (per_gram.groupBy(id_col)
               .agg(F.max("cnt").alias("top"),
                    F.sum("cnt").alias("total"),
                    F.coalesce(
                        F.sum(F.when(F.col("cnt") > 1, F.col("cnt"))),
                        F.lit(0)).alias("dup")))
    bp = lambda c: F.floor(F.lit(10000) * c / F.col("total"))  # noqa: E731
    return (df.select(id_col).join(per_doc, id_col, "left")
            .select(
                F.col(id_col),
                F.coalesce(bp(F.col("top")), F.lit(0)).alias("top_bp"),
                F.coalesce(bp(F.col("dup")), F.lit(0)).alias("dup_bp")))


def pair_counts(df: DataFrame, k: int = 30,
                text_col: str = "text") -> DataFrame:
    """Corpus-wide top-k adjacent token-pair counts — the merge-candidate
    scoring step of BPE tokenizer training (count every adjacent symbol
    pair, merge the most frequent, repeat). One Spark pass computes one
    round's candidate table; the training loop re-runs it on re-tokenized
    text.

    Shape mirrors ``vocab_topk``: explode pairs (with multiplicity) →
    map-side-combinable hash agg → distributed top-k via orderBy+limit
    (TakeOrderedAndProject), rank assigned after the limit over k rows.
    """
    from pyspark.sql.window import Window

    from kafana_spark.functions import grams

    counts = (df.select(
        F.explode(grams(F.lower(F.col(text_col)), 2)).alias("pair"))
        .groupBy("pair").agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair").limit(k))
    w = Window.orderBy(F.col("cnt").desc(), "pair")
    return counts.withColumn("rk", F.row_number().over(w).cast("int"))


#: wrappers for the mergeable symbol-sequence encoding used by
#: bpe_merge_train: each symbol is stored as SOH+sym+STX, so a pair
#: (a, b) occurs iff the substring SOH+a+STX+SOH+b+STX does — a plain
#: (non-regex) replace-all then implements one BPE merge with the
#: standard greedy left-to-right non-overlap semantics in BOTH engines.
_BPE_SOH = "\x01"
_BPE_STX = "\x02"


def bpe_merge_train(df: DataFrame, n_merges: int = 3, topk: int = 5,
                    text_col: str = "text") -> DataFrame:
    """Iterative BPE merge training (the tokenizer-prep loop): per
    round, count every adjacent symbol pair corpus-wide, record the
    top-``topk`` candidates, APPLY the top merge (joining the pair
    into one symbol, '_'-separated), and re-count on the merged
    sequences — ``pair_counts`` (x33) is one round of this loop.

    Output: (rnd, rk, pair, cnt) — the candidate table of every round;
    the rk=1 row of round r is the merge applied before round r+1.
    Deterministic: ties break on pair ASC, and symbols never contain
    ' ' or '_' at round 1 (corpus tokens are [a-z0-9]+), so a pair
    string like 'a_b c' is unambiguous across rounds.

    Scale: each round is ONE corpus-scale map (chained plain-string
    replaces, no shuffle) feeding a map-side-combinable pair count and
    a distributed top-k; the driver only ever materializes the
    ``topk``-row candidate table per round to choose the merge — the
    coordination step of any BPE trainer. At 100 TB you would
    checkpoint the merged sequence frame every few rounds to keep the
    replace chain shallow; with small fixed ``n_merges`` the chain is
    the cheaper plan (no materialization).
    """
    spark = df.sparkSession
    seq = _bpe_seq(df, text_col)
    out_rows, _ = _bpe_loop(seq, n_merges, topk)
    return (spark.createDataFrame(
        out_rows, "rnd int, rk int, pair string, cnt bigint")
        .orderBy("rnd", "rk"))


def bpe_encode(df: DataFrame, n_merges: int = 3,
               text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Apply the ``n_merges`` merges ``bpe_merge_train`` learns (ALL of
    them, including round n's) and report per-document symbol counts —
    the encode half of the tokenizer-prep loop: how much shorter does
    each document get under the learned merge list?

    Output: (id, n_tokens, n_symbols, ratio_bp) — n_tokens is the
    pre-merge whitespace token count, n_symbols the post-merge symbol
    count, ratio_bp = 10000·n_symbols div n_tokens (integer).

    Scale: the merge list is learned by the same per-round combinable
    count + top-1 collect as training; the encode itself is a pure
    map (chained plain-string replaces) — no shuffle at all on the
    encode path.
    """
    seq = _bpe_seq(df, text_col,
                   carry=[F.col(id_col),
                          F.size(tokens(F.col(text_col))).cast("int")
                          .alias("n_tokens")])
    _, seq = _bpe_loop(seq, n_merges, topk=1, apply_last=True)
    return _bpe_symbol_counts(seq, id_col)


#: persisted tokenizer artifact table (written and read through the
#: store's commit log, like the other stored indexes)
BPE_DIR = "bpe_merges"


def build_bpe_index(df: DataFrame, path: str, n_merges: int = 3,
                    text_col: str = "text") -> None:
    """Train the BPE merge list once and PERSIST it — tokenizer prep
    as an index-once artifact (the stored-twin stance of the minhash /
    IVF / PQ / LSH / substring-gram / percolator stores): training
    pays the N corpus count passes; every later encode is a pure map
    over the stored merges. Stored rows: (rnd, pair, cnt) — literally
    the tokenizer's ordered merge table, one replace commit per
    training run."""
    seq = _bpe_seq(df, text_col)
    rows, _ = _bpe_loop(seq, n_merges, topk=1, apply_last=True)
    replace_table(df.sparkSession.createDataFrame(
        [(r[0], r[2], r[3]) for r in rows],
        "rnd int, pair string, cnt bigint"), f"{path}/{BPE_DIR}")


def bpe_encode_from_store(df: DataFrame, path: str,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Encode against the STORED merge list — zero training passes.
    The merge table is N tiny rows (the tokenizer artifact every real
    trainer ships); reading it to drive the replace chain is the
    encode-serving path. Output schema identical to ``bpe_encode`` —
    the shared oracle proves the store roundtrip lossless."""
    spark = df.sparkSession
    merges = sorted(
        read_table(spark, f"{path}/{BPE_DIR}").collect(),
        key=lambda r: r.rnd)
    seq = _bpe_seq(df, text_col,
                   carry=[F.col(id_col),
                          F.size(tokens(F.col(text_col))).cast("int")
                          .alias("n_tokens")])
    for r in merges:
        a, b = r.pair.split(" ", 1)
        search = _BPE_SOH + a + _BPE_STX + _BPE_SOH + b + _BPE_STX
        repl = _BPE_SOH + a + "_" + b + _BPE_STX
        seq = seq.withColumn(
            "s", F.replace(F.col("s"), F.lit(search), F.lit(repl)))
    return _bpe_symbol_counts(seq, id_col)


def _bpe_symbol_counts(seq: DataFrame, id_col: str) -> DataFrame:
    """(id, n_tokens, n_symbols, ratio_bp) from a merged seq frame."""
    strip = F.regexp_replace(F.col("s"), f"^{_BPE_SOH}|{_BPE_STX}$", "")
    n_sym = F.size(F.split(strip, _BPE_STX + _BPE_SOH)).cast("int")
    return (seq.select(F.col(id_col), "n_tokens",
                       n_sym.alias("n_symbols"))
            .select(id_col, "n_tokens", "n_symbols",
                    F.expr("10000 * n_symbols div n_tokens")
                    .cast("long").alias("ratio_bp"))
            .orderBy(id_col))


def nb_quality_classifier(df: DataFrame, train_mod: int = 3,
                          vocab_k: int = 50, quality_cut: int = 4700,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Count-based Naive-Bayes quality classifier — the learned-filter
    pass of modern curation pipelines (DCLM / FineWeb-Edu train a
    fastText-style classifier on heuristically labeled splits; this is
    the count-based, engine-exact equivalent): label the training
    split (id % train_mod == 0) with the x11 quality heuristic
    (quality_bp >= ``quality_cut``), learn per-token log-likelihood-
    ratio weights with add-one smoothing over the training split's
    top-``vocab_k`` tokens, then score the HELD-OUT corpus as an
    integer fixed-point sum (each weight and the class prior rounded
    to µunits BEFORE summation — order-independent across engines).

    Output: (id, nb_score_u, pred) for the non-train split; pred is
    nb_score_u >= 0.

    Scale: training reduces to |V| combinable token-presence counts;
    scoring is one distinct-token explode joined to the BROADCAST
    |V|-row weight table and a per-doc combinable sum; the class
    totals and prior ride a 1-row broadcast — no corpus-keyed shuffle
    except the per-doc sum itself.
    """
    w, prior = nb_train(df, train_mod, vocab_k, quality_cut,
                        text_col, id_col)
    held = df.where(F.col(id_col) % train_mod != 0)
    return nb_score(held, w, prior, text_col, id_col).orderBy(id_col)


def nb_train(df: DataFrame, train_mod: int = 3, vocab_k: int = 50,
             quality_cut: int = 4700, text_col: str = "text",
             id_col: str = "doc_id") -> tuple[DataFrame, DataFrame]:
    """The x141 training half as a reusable FROZEN MODEL: returns
    the (token, w_u) log-likelihood-ratio weight table and the 1-row
    (prior_u) prior — the artifacts a gate index persists so new
    batches are scored without retraining (train once, serve many)."""
    q = quality_score(df, id_col, text_col).select(id_col,
                                                   "quality_bp")
    base = (df.select(F.col(id_col),
                      F.array_distinct(tokens(F.col(text_col)))
                      .alias("toks"))
            .join(q, id_col))
    train = (base.where(F.col(id_col) % train_mod == 0)
             .withColumn("y", (F.col("quality_bp") >= quality_cut)
                         .cast("int")))
    tr_tok = train.select("y", F.explode("toks").alias("token"))
    vocab = (tr_tok.groupBy("token")
             .agg(F.count(F.lit(1)).alias("c"))
             .orderBy(F.col("c").desc(), "token").limit(vocab_k)
             .select("token"))
    cnt = (tr_tok.join(F.broadcast(vocab), "token")
           .groupBy("token")
           .agg(F.sum("y").alias("n1t"),
                F.sum(1 - F.col("y")).alias("n0t")))
    tot = train.agg(F.sum("y").alias("n1"),
                    F.sum(1 - F.col("y")).alias("n0"))
    w_u = F.round(F.lit(1_000_000.0) * (
        F.log((F.col("n1t") + 1) / (F.col("n1") + 2))
        - F.log((F.col("n0t") + 1) / (F.col("n0") + 2)))).cast("long")
    w = (cnt.crossJoin(F.broadcast(tot))
         .select("token", w_u.alias("w_u")))
    prior = tot.select(
        F.round(F.lit(1_000_000.0)
                * F.log((F.col("n1") + 1) / (F.col("n0") + 1)))
        .cast("long").alias("prior_u"))
    # Deliberately LAZY (r12, measured): w (≤ vocab_k rows) and prior
    # (1 row) look like serve-boundary candidates, but an interleaved
    # A/B showed checkpointing them here is a WASH-to-regression —
    # the training pass is one small combinable job whose repeated
    # references the runtime already largely heals, while the two
    # eager checkpoint jobs serialize at build time and multiply
    # across multi-gate consumers (x165/x179/x168 each train several
    # times). Contrast jaccard_verify's boundaries, where the
    # re-embedded pipeline is the dominant cost.
    return w, prior


def nb_score(df: DataFrame, w: DataFrame, prior: DataFrame,
             text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Score documents against a (possibly stored) NB model: one
    distinct-token explode joined to the BROADCAST weight table, a
    per-doc combinable sum, the 1-row prior broadcast. Output:
    (id, nb_score_u, pred)."""
    toked = df.select(F.col(id_col),
                      F.array_distinct(tokens(F.col(text_col)))
                      .alias("toks"))
    sc = (toked.select(F.col(id_col), F.explode("toks").alias("token"))
          .join(F.broadcast(w), "token")
          .groupBy(id_col).agg(F.sum("w_u").alias("s")))
    return (toked.select(id_col).join(sc, id_col, "left")
            .crossJoin(F.broadcast(prior))
            .select(F.col(id_col),
                    (F.coalesce("s", F.lit(0)) + F.col("prior_u"))
                    .cast("long").alias("nb_score_u"))
            .withColumn("pred", F.col("nb_score_u") >= 0))


def lang_corpus_card(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     lang_col: str = "lang") -> DataFrame:
    """Per-language corpus datasheet — the stratified companion of
    the global x126 corpus report, and the table every mixture
    decision starts from: how big is each language really (token
    mass, not doc count), how clean (mean quality, exact-dup rate),
    how diverse (distinct tokens).

    Output per lang: (lang, n_docs, toks, uniq_tokens, share_bp,
    mean_quality_bp, dup_bp) — share_bp = 10000·toks div Σtoks,
    dup_bp = 10000·(n_docs − distinct texts) div n_docs, all
    integer.

    Scale: three combinable aggregates joined on the tiny lang key —
    token counts (one explode), quality sums, and distinct-content
    counts over the 32-byte sha2 (never the text); the only
    corpus-wide distincts are (lang, token) and (lang, hash) pairs.
    """
    tok = df.select(F.col(lang_col).alias("lang"),
                    F.explode(tokens(F.col(text_col))).alias("token"))
    t1 = (tok.groupBy("lang")
          .agg(F.count(F.lit(1)).alias("toks"),
               F.countDistinct("token").alias("uniq_tokens")))
    t2 = (quality_score(df, id_col, text_col)
          .join(df.select(id_col, F.col(lang_col).alias("lang")),
                id_col)
          .groupBy("lang")
          .agg(F.count(F.lit(1)).alias("n_docs"),
               F.sum("quality_bp").alias("qsum")))
    t3 = (df.select(F.col(lang_col).alias("lang"),
                    F.sha2(F.col(text_col), 256).alias("h"))
          .groupBy("lang")
          .agg(F.countDistinct("h").alias("n_uniq_texts")))
    tot = t1.agg(F.sum("toks").alias("total_toks"))
    return (t1.join(t2, "lang").join(t3, "lang")
            .crossJoin(F.broadcast(tot))
            .select("lang", "n_docs", "toks", "uniq_tokens",
                    F.expr("10000 * toks div total_toks")
                    .alias("share_bp"),
                    F.expr("qsum div n_docs")
                    .alias("mean_quality_bp"),
                    F.expr("10000 * (n_docs - n_uniq_texts) "
                           "div n_docs").alias("dup_bp"))
            .orderBy("lang"))


def lang_fair_gate(df: DataFrame, keep_pct_bp: int = 5000,
                   text_col: str = "text",
                   id_col: str = "doc_id",
                   lang_col: str = "lang") -> DataFrame:
    """Language-fair quality gating — one absolute quality cut
    applied corpus-wide silently skews the language mix (length/
    stopword heuristics are language-biased), so production filters
    cut at a PERCENTILE within each language instead: every language
    keeps its own top (1 − p) share.

    pct_bp is the integer percentile of the doc's quality_bp inside
    its language: 10000·(rank−1) div (n_lang−1) over a deterministic
    (quality_bp, doc_id) order; single-doc languages sit at 0 and
    are kept iff keep_pct_bp == 0 — the conservative reading.

    Output: (doc_id, lang, quality_bp, pct_bp, keep) for every doc.

    Scale: one rank window PARTITIONED by language (the exact-
    percentile price; a two-phase histogram approximation drops in
    when a single language dominates the corpus) over the (id, lang,
    score) projection — never the text.
    """
    q = (quality_score(df, id_col, text_col)
         .join(df.select(id_col, lang_col), id_col))
    w = Window.partitionBy(lang_col).orderBy("quality_bp", id_col)
    n = Window.partitionBy(lang_col)
    pct = F.when(F.count(F.lit(1)).over(n) > 1,
                 F.expr("10000 * (rk - 1) div (n_lang - 1)")) \
        .otherwise(F.lit(0))
    return (q.withColumn("rk", F.row_number().over(w).cast("long"))
            .withColumn("n_lang", F.count(F.lit(1)).over(n))
            .withColumn("pct_bp", pct)
            .withColumn("keep", F.col("pct_bp") >= keep_pct_bp)
            .select(id_col, lang_col, "quality_bp", "pct_bp", "keep")
            .orderBy(id_col))


def nb_roc(df: DataFrame, train_mod: int = 3, vocab_k: int = 50,
           quality_cut: int = 4700, n_bins: int = 10,
           text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Threshold sweep + rank AUC for the x141 classifier — the
    calibration loop that decides where to cut a learned quality
    filter (every curation pipeline sweeps the classifier threshold
    before committing to one; x142 only reports the pred>=0 point).

    PR curve: held-out scores are grouped by DISTINCT score value
    (sklearn's roc_curve convention), cumulated best-first, and the
    deepest operating point inside each of ``n_bins`` retrieval-depth
    bins is reported. AUC is the tie-averaged Mann–Whitney statistic
    kept integral as U2 = Σ(2·n1g·cum_n0_below + n1g·n0g), so
    auc_bp = 10000·U2 div (2·n1·n0) is exact in both engines
    (10000·U2 ≤ 1e4·n² — bigint-safe to ~1e7 held-out docs; shard
    the rank sum beyond that).

    Output: (dec, n_ret, tp, prec_bp, rec_bp, f1_bp, auc_bp) — at
    most ``n_bins`` rows, auc_bp constant across rows.

    Scale: the only corpus-keyed work is x141 scoring itself; the
    curve runs entirely over the score-GROUP frame (combinable
    count/sum per distinct score, then ordered cumsums over that
    bounded frame — never a rank window over the corpus), and the
    per-bin collapse is a combinable max(struct).
    """
    preds = nb_quality_classifier(df, train_mod, vocab_k,
                                  quality_cut, text_col, id_col)
    truth = (quality_score(df, id_col, text_col)
             .where(F.col(id_col) % train_mod != 0)
             .select(F.col(id_col),
                     (F.col("quality_bp") >= quality_cut)
                     .cast("int").alias("yt")))
    j = (preds.join(truth, id_col)
         .select(F.col("nb_score_u").alias("s"), "yt"))
    # serve boundary (r12): g is the per-distinct-score aggregate —
    # three longs per score value, compact by construction — and the
    # curve tail references it four ways (tot twice via the broadcast
    # crossJoins, the cumsum window feeding both auc and the bins);
    # lazily each reference re-embedded the whole scoring pipeline
    from kafana_spark.session import serve_materialize
    g = serve_materialize(
        j.groupBy("s")
        .agg(F.count(F.lit(1)).alias("c"), F.sum("yt").alias("t1")),
        eager=False)
    tot = g.agg(F.sum("c").alias("n"), F.sum("t1").alias("n1"),
                F.sum(F.col("c") - F.col("t1")).alias("n0"))
    wd = Window.orderBy(F.col("s").desc())
    wa = Window.orderBy(F.col("s").asc()) \
        .rowsBetween(Window.unboundedPreceding, -1)
    cum = (g.select(
        "s", "c", "t1",
        F.sum("c").over(wd).alias("cum_ret"),
        F.sum("t1").over(wd).alias("cum_tp"),
        F.coalesce(F.sum(F.col("c") - F.col("t1")).over(wa),
                   F.lit(0)).alias("cum0b")))
    auc = (cum.crossJoin(F.broadcast(tot))
           .agg(F.sum(2 * F.col("t1") * F.col("cum0b")
                      + F.col("t1") * (F.col("c") - F.col("t1")))
                .alias("u2"),
                F.any_value("n1").alias("n1"),
                F.any_value("n0").alias("n0"))
           .select(F.when(F.col("n1") * F.col("n0") > 0,
                          F.expr("10000 * u2 div (2 * n1 * n0)"))
                   .otherwise(F.lit(5000))
                   .cast("long").alias("auc_bp")))
    binned = (cum.crossJoin(F.broadcast(tot))
              .select(
                  F.expr(f"({n_bins} * cum_ret + n - 1) div n")
                  .alias("dec"),
                  "cum_ret", "cum_tp", "n1"))
    deep = F.max(F.struct(F.col("cum_ret"), F.col("cum_tp"),
                          F.col("n1"))).alias("b")
    out = (binned.groupBy("dec").agg(deep)
           .select(F.col("dec").cast("int"),
                   F.col("b.cum_ret").alias("n_ret"),
                   F.col("b.cum_tp").alias("tp"),
                   F.expr("10000 * b.cum_tp div b.cum_ret")
                   .alias("prec_bp"),
                   F.when(F.col("b.n1") > 0,
                          F.expr("10000 * b.cum_tp div b.n1"))
                   .otherwise(F.lit(0)).alias("rec_bp"),
                   F.expr("20000 * b.cum_tp div (b.cum_ret + b.n1)")
                   .alias("f1_bp")))
    return (out.crossJoin(F.broadcast(auc))
            .orderBy("dec"))


def bpe_fertility(df: DataFrame, n_merges: int = 3,
                  text_col: str = "text", id_col: str = "doc_id",
                  lang_col: str = "lang") -> DataFrame:
    """Tokenizer fertility by language — the tokenizer-fairness
    report: a merge list trained on a mixed corpus compresses its
    dominant languages best, and per-language fertility (symbols per
    token after all merges) is the standard way to see who pays the
    context-window tax.

    Output: (lang, n_docs, toks, syms, fert_bp) with fert_bp =
    10000·Σsymbols div Σtokens (integer, corpus-exact — NOT the mean
    of per-doc ratios, so long documents weigh by their token mass).

    Scale: the encode is x138's zero-shuffle map; this adds one
    broadcast-joinable (id, lang) projection and a |langs|-row
    combinable aggregate.
    """
    enc = bpe_encode(df, n_merges, text_col, id_col)
    return (enc.join(df.select(id_col, lang_col), id_col)
            .groupBy(lang_col)
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("toks"),
                 F.sum("n_symbols").alias("syms"))
            .select(lang_col, "n_docs", "toks", "syms",
                    F.expr("10000 * syms div toks").alias("fert_bp"))
            .orderBy(lang_col))


def length_histogram(df: DataFrame, bin_w: int = 20,
                     text_col: str = "text") -> DataFrame:
    """Sequence-length distribution — the context-length planning
    report behind every packing/truncation decision: how many
    documents and how much token MASS sits in each length bin, and
    what share of the corpus a given max-length cutoff keeps
    (cum_share_bp at bin b = share of all tokens in docs shorter
    than (b+1)·bin_w).

    Output: (bin, lo, n_docs, toks, cum_share_bp) — one row per
    occupied bin, lo = bin·bin_w.

    Scale: one map-side-combinable aggregate to the bin frame; the
    cumulative window runs over the bounded bin frame only.
    """
    t = df.select(F.size(tokens(F.col(text_col))).cast("long")
                  .alias("n_tok"))
    b = (t.groupBy(F.expr(f"n_tok div {bin_w}").alias("bin"))
         .agg(F.count(F.lit(1)).alias("n_docs"),
              F.sum("n_tok").alias("toks")))
    tot = b.agg(F.sum("toks").alias("total"))
    w = Window.orderBy("bin")
    return (b.crossJoin(F.broadcast(tot))
            .withColumn("cum_toks", F.sum("toks").over(w))
            .select("bin", (F.col("bin") * bin_w).alias("lo"),
                    "n_docs", "toks",
                    F.expr("10000 * cum_toks div total")
                    .alias("cum_share_bp"))
            .orderBy("bin"))


def _bpe_seq(df: DataFrame, text_col: str, carry=()) -> DataFrame:
    """(carry..., s): the wrapped symbol-sequence encoding."""
    wrapped = F.concat(
        F.lit(_BPE_SOH),
        F.regexp_replace(F.lower(F.col(text_col)), " ",
                         _BPE_STX + _BPE_SOH),
        F.lit(_BPE_STX))
    return df.select(*carry, wrapped.alias("s"))


def _bpe_loop(seq: DataFrame, n_merges: int, topk: int,
              apply_last: bool = False):
    """Run the merge loop: per round collect the topk candidate pairs
    and apply the top merge (rounds 1..n-1; also round n when
    ``apply_last``). Returns (candidate rows, final seq frame)."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    out_rows: list[tuple[int, int, str, int]] = []
    for rnd in range(1, n_merges + 1):
        # PROJECT the split once before the pair transform: referencing
        # the split expression inside the lambda makes Catalyst inline
        # it per element (O(len²) string splits per doc — measured 13×
        # slower at sf0.1); the projection boundary keeps it evaluated
        # once per row
        toks = seq.select(F.split(
            F.regexp_replace(F.col("s"),
                             f"^{_BPE_SOH}|{_BPE_STX}$", ""),
            _BPE_STX + _BPE_SOH).alias("t"))
        t = F.col("t")
        idx = F.sequence(F.lit(1), F.size(t) - 1)
        pl = F.transform(
            idx, lambda i: F.concat_ws(" ", F.element_at(t, i),
                                       F.element_at(t, i + 1)))
        pairs = F.when(F.size(t) >= 2, pl) \
            .otherwise(F.array().cast("array<string>"))
        top = (toks.select(F.explode(pairs).alias("pair"))
               .groupBy("pair").agg(F.count(F.lit(1)).alias("cnt"))
               .orderBy(F.col("cnt").desc(), "pair").limit(topk)
               .collect())
        out_rows += [(rnd, i + 1, r.pair, r.cnt)
                     for i, r in enumerate(top)]
        if not top:
            break
        if rnd < n_merges or apply_last:
            a, b = top[0].pair.split(" ", 1)
            search = _BPE_SOH + a + _BPE_STX + _BPE_SOH + b + _BPE_STX
            repl = _BPE_SOH + a + "_" + b + _BPE_STX
            seq = seq.withColumn(
                "s", F.replace(F.col("s"), F.lit(search), F.lit(repl)))
    return out_rows, seq


def significant_terms(df: DataFrame, foreground,
                      k: int = 20, text_col: str = "text",
                      min_fg: int = 3) -> DataFrame:
    """ES significant-terms aggregation: tokens whose DOCUMENT frequency
    in a foreground subset is over-represented vs the whole corpus
    ("what is different about these documents?" — the Kibana
    significant-terms panel the reference's ES delegates to).

    ``foreground`` is a boolean Column. Score is a deterministic lift
    ratio in basis points — floor(1e4 · (fg/nf)/(bg/n)) — rather than
    ES's JLH (which is not cross-engine reproducible); ordering by lift
    matches JLH's direction for fixed totals.

    Shape: one distinct-token explode (doc frequency), one token-keyed
    combinable agg carrying both fg and bg counts (no second pass over
    the corpus), scalar totals broadcast, distributed top-k. All
    exchanges carry token-keyed partials.
    """
    toks = df.select(
        F.col("doc_id"), foreground.alias("fg"),
        F.explode(F.array_distinct(tokens(F.lower(F.col(text_col)))))
        .alias("token"))
    stats = (toks.groupBy("token")
             .agg(F.count(F.lit(1)).alias("bg_cnt"),
                  F.coalesce(F.sum(F.when(F.col("fg"), 1)), F.lit(0))
                  .cast("long").alias("fg_cnt")))
    totals = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.when(foreground, 1)), F.lit(0))
        .cast("long").alias("nf"))
    score = F.floor(F.lit(10000.0) * F.col("fg_cnt") * F.col("n")
                    / (F.col("nf") * F.col("bg_cnt")))
    return (stats.crossJoin(F.broadcast(totals))
            .where(F.col("fg_cnt") >= min_fg)
            .select("token", "fg_cnt", "bg_cnt",
                    score.alias("score_bp"))
            .orderBy(F.col("score_bp").desc(), "token").limit(k))


REDACTION_PATTERNS: tuple[tuple[str, str], ...] = (
    ("url", r"https?://[^\s]+"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\+?[0-9]{1,3}[- .][0-9]{3}[- .][0-9]{3,4}[- .]?[0-9]{0,4}"),
    ("ipv4", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"),
)


def redact(df: DataFrame, id_col: str = "doc_id",
           text_col: str = "text",
           patterns: tuple[tuple[str, str], ...] = REDACTION_PATTERNS,
           ) -> DataFrame:
    """PII-style pattern redaction: each match is replaced by a
    ``<name>`` tag. Pure column expressions (chained regexp_replace,
    whole-stage codegen); ``was_redacted`` marks changed rows so
    downstream can audit/sample redactions.
    """
    out = F.col(text_col)
    for name, pat in patterns:
        out = F.regexp_replace(out, pat, f"<{name}>")
    return df.select(
        F.col(id_col),
        out.alias("redacted"),
        (out != F.col(text_col)).alias("was_redacted"),
    )


def vocab_topk(df: DataFrame, k: int = 30,
               text_col: str = "text") -> DataFrame:
    """Corpus-wide top-k token vocabulary with counts and rank.

    The vocabulary-building pass of a tokenizer-training pipeline.
    Shape: explode → hash-agg (map-side combinable) → distributed
    top-k via orderBy+limit (TakeOrderedAndProject — never a
    single-partition window over the full vocabulary). Rank is
    assigned AFTER the limit, over k rows.
    """
    from pyspark.sql.window import Window

    counts = (df.select(
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
        .groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token").limit(k))
    w = Window.orderBy(F.col("cnt").desc(), "token")
    return counts.withColumn("rk", F.row_number().over(w).cast("int"))


# ----------------------------------------------------- rolling-hash chunks

CHUNK_SCHEMA = "doc_id long, chunk_idx int, chunk_hash long, chunk_len int"

_B = 257
_M = (1 << 61) - 1  # Mersenne prime modulus: x * 2^k mod M is a rotate


# Scalar-form rules for numpy 1.26 uint64 ufuncs (measured): a Python
# int >= 2^32 forces a ~9x slower casting path, and some np.uint64
# scalar forms are worse still — but a 0-d uint64 ARRAY always takes
# the fast loop. So: large constants as 0-d arrays, small (< 2^31)
# constants as plain ints.
_M0 = np.asarray(_M, dtype=np.uint64)


def _fold(x):
    """Reduce uint64 values < 2^63 to the range [0, M] with two
    Mersenne folds — branchless (no np.where). The output may equal M
    itself (which is ≡ 0); that is fine for all further arithmetic and
    rotates (M has bit 61 clear), callers normalize final outputs via
    _norm."""
    x = (x & _M0) + (x >> 61)
    return (x & _M0) + (x >> 61)


def _norm(x):
    """Map the congruent-but-unnormalized value M to 0 (exact mod)."""
    return np.where(x == _M0, np.uint64(0), x)


def _rotl61(x, k: int):
    """x * 2^k mod M for x <= M: a 61-bit rotate. Bits shifted past
    2^64 all sit above bit 61-k, so they are recovered by the
    wrap-around term — no uint64 overflow is possible."""
    return ((x << k) & _M0) | (x >> (61 - k))


def _mulmod(x, p: int):
    """(x * p) mod M for a uint64 array x < 2^61 and scalar p < 2^61.
    Schoolbook 31-bit split; the 2^62 partial folds to *2 and the 2^31
    recombination is the safe rotate — every partial stays < 2^63."""
    xh = x >> 31                                   # < 2^30
    xl = x & ((1 << 31) - 1)                       # < 2^31
    ph, pl = p >> 31, p & ((1 << 31) - 1)
    hi = xh * ph                                   # < 2^60
    mid = _fold(xh * pl + xl * ph)                 # < 2^61
    lo = _fold(xl * pl)                            # < 2^61
    return _fold(_fold((hi << 1) + _rotl61(mid, 31)) + lo)


def _windowed_hashes(data, window: int, seg: int = 1 << 16):
    """H[i-(w-1)] = polynomial hash (base 257 mod M) of the window
    data[i-w+1 .. i], for every i >= w-1.

    Processes in 64K-element segments: each elementwise temp then stays
    ~512 KB, below glibc's mmap threshold, so numpy temps are reused
    from the malloc arena instead of being mmap'd + page-faulted on
    every op (measured 12x: 0.24 s vs 2.97 s per 4 MB)."""
    n = len(data)
    m = n - window + 1
    if m <= 0:
        return np.zeros(0, dtype=np.uint64)
    if m > seg:
        out = np.empty(m, dtype=np.uint64)
        pos = 0
        while pos < m:
            hi = min(pos + seg, m)
            out[pos:hi] = _windowed_block(
                data[pos:hi + window - 1], window)
            pos = hi
        return out
    return _windowed_block(data, window)


def _windowed_block(data, window: int):
    """One segment of _windowed_hashes, via hash doubling: log2(w)
    combine levels (L_{2w}[i] = L_w[i]*b^w + L_w[i+w]) instead of w
    banked multiply-adds — ~6x less memory traffic, which is what
    bounds this kernel. Levels 1-2 need no modular reduction at all
    (values < 2^34); higher levels use the split mulmod."""
    n = len(data)
    if n - window + 1 <= 0:
        return np.zeros(0, dtype=np.uint64)
    levels: dict[int, object] = {1: data}
    h, w = data, 1
    while w * 2 <= window:
        p = pow(_B, w, _M)
        a, c = h[:n - 2 * w + 1], h[w: n - w + 1]
        if w <= 2:
            h = a * p + c                     # exact: < 2^17 resp. 2^34
        else:
            h = _fold(_mulmod(a, p) + c)
        w *= 2
        levels[w] = h
    # non-power-of-two windows: combine the binary decomposition
    bits = [b for b in levels if window & b]
    bits.sort(reverse=True)
    res, off = levels[bits[0]], bits[0]
    out_len = n - window + 1
    res = res[:out_len] if off != window else res
    for b in bits[1:]:
        piece = levels[b][off: off + out_len]
        res = _fold(_mulmod(res, pow(_B, b, _M)) + _fold(piece))
        off += b
    return _norm(res)


def _chunk_hashes(data, starts, ends, width_cap: int = 512):
    """Vectorized hash_bytes() for many [start, end) slices of `data`:
    right-align each slice in a 2D matrix (front zero-padding is a
    Horner no-op) and run Horner down the columns across all chunks at
    once. h*257 = rotl(h,8) + h keeps everything in uint64. Slices
    longer than width_cap (CDC makes them geometrically rare) fall back
    to the scalar reference."""
    n = len(starts)
    out = np.zeros(n, dtype=np.uint64)
    lens = ends - starts
    long_idx = np.nonzero(lens > width_cap)[0]
    for i in long_idx:
        out[i] = hash_bytes(
            data[starts[i]:ends[i]].astype(np.uint8).tobytes())
    # process short chunks sorted by length, packing slabs under an
    # element budget: widths stay tight (little zero-pad work) and the
    # (rows x width) temps stay well under glibc's mmap threshold
    short = np.nonzero(lens <= width_cap)[0]
    short = short[np.argsort(lens[short], kind="stable")]
    budget = 1 << 18
    s0 = 0
    while s0 < len(short):
        width = max(int(lens[short[s0]]), 1)
        rows = min(max(budget // width, 256), len(short) - s0)
        sel = short[s0:s0 + rows]
        s0 += rows
        width = max(int(lens[sel].max()), 1)
        cols = np.arange(width, dtype=np.int64)
        src = ends[sel, None] - width + cols[None, :]
        valid = src >= starts[sel, None]
        mat = (data[np.clip(src, 0, len(data) - 1)] * valid).T.copy()
        h = np.zeros(len(sel), dtype=np.uint64)
        for c in range(width):
            # h*257 + byte == rotl(h,8) + h + byte
            h = _fold(_rotl61(h, 8) + h + mat[c])
        out[sel] = _norm(h)
    return out


def rolling_hash_chunks(df: DataFrame, window: int = 16,
                        mask_bits: int = 5, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Content-defined chunking via Karp-Rabin rolling hash.

    A chunk boundary falls wherever the rolling hash of the last
    `window` bytes has its low `mask_bits` bits zero (expected chunk
    ≈ 2^mask_bits bytes). Chunk hashes enable chunk-level dedup of
    giant documents — the standard CDC trick (LBFS/rsync lineage).

    Chunking is embarrassingly parallel across documents ⇒ mapInPandas
    (Arrow-batched, no shuffle). The kernel is numpy-vectorized over
    the batch's concatenated bytes: the per-position window hash is a
    banked multiply-add (window ops over the whole buffer), only the
    ~2^-mask_bits boundary *candidates* run through the sequential
    min-length acceptance loop, and chunk hashes are a columnwise
    Horner over all chunks at once. Output is bit-identical to the
    scalar reference (`_chunk_doc_reference`, pinned by tests).
    """
    # chunking is CPU-bound: if the source partitioning is coarser than
    # the cluster (a single local parquet file, a few fat S3 objects),
    # a cheap round-robin exchange of (id, text) buys full-width
    # parallelism for the kernel. No-op when the input is already wide.
    par = df.sparkSession.sparkContext.defaultParallelism
    src = df.select(id_col, text_col)
    if src.rdd.getNumPartitions() < par:
        src = src.repartition(par)

    mask = (1 << mask_bits) - 1

    def chunker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            blobs = [t.encode("utf-8") for t in pdf[text_col]]
            doc_lens = np.fromiter((len(x) for x in blobs), dtype=np.int64,
                                   count=len(blobs))
            data = np.frombuffer(b"".join(blobs), dtype=np.uint8) \
                     .astype(np.uint64)
            offs = np.zeros(len(blobs) + 1, dtype=np.int64)
            np.cumsum(doc_lens, out=offs[1:])

            # candidate boundaries: window hash low bits zero AND the
            # window lies fully inside one document
            H = _windowed_hashes(data, window)
            cand = np.nonzero((H & mask) == 0)[0] + (window - 1)
            cdoc = np.searchsorted(offs, cand, side="right") - 1
            cand = cand[cand - (window - 1) >= offs[cdoc]]

            # greedy min-length acceptance per document (original
            # semantics: a boundary closer than `window` bytes to the
            # previous accepted cut is skipped, not deferred)
            starts: list[int] = []
            ends: list[int] = []
            doc_of: list[int] = []
            idxs: list[int] = []
            cdoc = np.searchsorted(offs, cand, side="right") - 1
            ci, nc = 0, len(cand)
            for d in range(len(blobs)):
                base, end = int(offs[d]), int(offs[d + 1])
                prev, idx = base - 1, 0
                while ci < nc and cdoc[ci] == d:
                    i = int(cand[ci])
                    ci += 1
                    if i - prev >= window:
                        starts.append(prev + 1)
                        ends.append(i + 1)
                        doc_of.append(d)
                        idxs.append(idx)
                        prev, idx = i, idx + 1
                if prev + 1 < end:
                    starts.append(prev + 1)
                    ends.append(end)
                    doc_of.append(d)
                    idxs.append(idx)

            if not starts:
                yield pd.DataFrame({
                    "doc_id": np.array([], dtype=np.int64),
                    "chunk_idx": np.array([], dtype=np.int32),
                    "chunk_hash": np.array([], dtype=np.int64),
                    "chunk_len": np.array([], dtype=np.int32),
                })
                continue
            s = np.asarray(starts, dtype=np.int64)
            e = np.asarray(ends, dtype=np.int64)
            hashes = _chunk_hashes(data, s, e)
            yield pd.DataFrame({
                "doc_id": ids[np.asarray(doc_of)],
                "chunk_idx": np.asarray(idxs, dtype=np.int32),
                "chunk_hash": hashes.astype(np.int64),
                "chunk_len": (e - s).astype(np.int32),
            })

    return src.mapInPandas(chunker, CHUNK_SCHEMA)


def _chunk_doc_reference(data: bytes, window: int = 16,
                         mask_bits: int = 5) -> list[tuple[int, int, int]]:
    """Scalar reference chunker (the r1 per-byte loop) — kept as the
    equivalence oracle for the vectorized kernel; not a product path."""
    b, m = _B, _M
    bw = pow(b, window, m)
    mask = (1 << mask_bits) - 1
    out: list[tuple[int, int, int]] = []
    h, start, idx = 0, 0, 0
    for i, byte in enumerate(data):
        h = (h * b + byte) % m
        if i >= window:
            h = (h - data[i - window] * bw) % m
        if i + 1 - start >= window and (h & mask) == 0:
            chunk = data[start:i + 1]
            out.append((idx, hash_bytes(chunk), len(chunk)))
            start, idx = i + 1, idx + 1
    if start < len(data):
        chunk = data[start:]
        out.append((idx, hash_bytes(chunk), len(chunk)))
    return out


def hash_bytes(data: bytes) -> int:
    """Stable 61-bit polynomial hash of a byte string."""
    h, m = 0, (1 << 61) - 1
    for byte in data:
        h = (h * 257 + byte) % m
    return h


# ------------------------------------------------ boilerplate chunk dedup

def chunk_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", block_tokens: int = 3,
                max_freq: int = 2, hash_fn: str = "md5") -> DataFrame:
    """Boilerplate-chunk removal (CCNet-style line-level dedup,
    re-expressed for unstructured text): split every document into
    consecutive ``block_tokens``-token blocks, drop each block whose
    exact text occurs more than ``max_freq`` times across the corpus,
    and reconstruct the surviving text in original order.

    This is the corpus-level cleanup between exact dedup (whole-doc)
    and near dedup (whole-doc similarity): headers, navigation chrome
    and license blurbs repeat across *different* documents and survive
    both.

    Scale: block frequency is counted on the 60-bit portable hash, so
    the count shuffles 8-byte keys, not block text (collisions at 2^60
    are negligible and would only misdrop a block, never corrupt one);
    reconstruction shuffles each surviving block once, keyed by doc_id.
    Both shuffles are linear in corpus size — nothing quadratic, nothing
    collected. The per-doc block list is built by an interpreted
    ``transform`` lambda, but over O(n_tokens/block_tokens) elements —
    the same cost class as the shingle builders.

    ``hash_fn``: "md5" (oracle contract) or "xxhash64" (production —
    functions.shingle_hash64). Frequencies depend only on block-text
    equality, so both settings emit identical clean_text (r11,
    extending the r10 minhash knob).
    """
    from kafana_spark.functions import shingle_hash64

    toks = tokens(F.col(text_col))
    nblk = F.ceil(F.size(toks) / F.lit(block_tokens)).cast("int")
    blocks = F.transform(
        F.sequence(F.lit(0), nblk - F.lit(1)),
        lambda i: F.array_join(
            F.slice(toks, i * block_tokens + 1, block_tokens), " "))
    b = df.select(F.col(id_col), F.posexplode(blocks).alias("blk_pos", "blk"))
    bh = b.withColumn("bh", shingle_hash64(F.col("blk"), hash_fn))
    freq = bh.groupBy("bh").agg(F.count(F.lit(1)).alias("freq"))
    kept = bh.join(freq, "bh").where(F.col("freq") <= F.lit(max_freq))
    ordered = F.array_sort(F.collect_list(F.struct("blk_pos", "blk")))
    return (kept.groupBy(id_col)
            .agg(F.array_join(
                F.transform(ordered, lambda s: s["blk"]), " ")
                .alias("clean_text")))


def oov_rate(df: DataFrame, vocab_k: int = 25, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus top-k
    vocabulary — the tokenizer-coverage signal that decides whether a
    vocab/tokenizer fits a corpus (integer basis points, bit-identical
    across engines like quality_score).

    Scale: the vocabulary is top-k (tiny) and broadcast; the per-doc
    count is explode → broadcast left join → groupBy(doc) — linear,
    and only (id, flag) pairs reach the shuffle. Two passes over the
    corpus total (one to build the vocab, one to score), both
    map-side combinable.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
    vocab = (vocab_topk(df, k=vocab_k, text_col=text_col)
             .select("token", F.lit(1).alias("__in")))
    flagged = toks.join(F.broadcast(vocab), "token", "left")
    return (flagged.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.count(F.when(F.col("__in").isNull(), F.lit(1)))
                 .alias("n_oov"))
            .select(F.col(id_col), "n_tokens", "n_oov",
                    F.floor(F.lit(10000) * F.col("n_oov")
                            / F.col("n_tokens")).cast("long")
                    .alias("oov_bp")))


def chunk_windows(df: DataFrame, window: int = 32, stride: int = 24,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Sliding token windows with overlap — the RAG / context-window
    chunking a training-data pipeline runs over every document (fixed
    ``window`` tokens per chunk, ``stride`` tokens between chunk
    starts, so consecutive chunks overlap by window−stride).

    One chunk starts at every i·stride < n_tokens; the tail chunk may
    be shorter. Pure column expressions — the per-doc explode emits
    ceil(n/stride) rows per document (bounded by document length, no
    UDF, no shuffle before the explode), so at 100 TB this is a
    map-only pass whose output is ~window/stride× the token volume.

    Requires stride ≤ window: a larger stride would silently DROP the
    tokens between window and stride boundaries (caught by the
    coverage property test) — that's sampling, not chunking.
    """
    if stride > window or stride < 1:
        raise ValueError(
            f"stride must be in [1, window]; got stride={stride} "
            f"window={window} (stride > window loses tokens)")
    tok = tokens(F.col(text_col))
    n = F.size(tok)
    # sequence(0, -1) would count DOWN; guard the empty-text case
    idx = F.when(n > 0, F.sequence(
        F.lit(0), F.floor((n - F.lit(1)) / F.lit(stride)).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    return (df.select(F.col(id_col), tok.alias("__tok"),
                      F.explode(idx).alias("i"))
            .select(F.col(id_col),
                    F.col("i").alias("chunk_id"),
                    F.concat_ws(" ", F.slice(
                        F.col("__tok"), F.col("i") * stride + 1, window))
                    .alias("chunk_text"),
                    F.size(F.slice(F.col("__tok"),
                                   F.col("i") * stride + 1, window))
                    .alias("chunk_tokens")))


UNIGRAM_FP = 10_000  # fixed-point: token cost in 0.1-milli-nat units


def unigram_logprob(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Unigram LM negative-log-likelihood per document — the CCNet /
    Gopher-style language-model quality filter with the corpus itself
    as the LM (the KenLM stand-in this environment can express): token
    cost = ln(N_total) − ln(count(token)) nats, i.e. −ln p̂(token)
    under the corpus MLE; rare-token-heavy (noisy) documents score
    high, common-prose documents score low.

    Engine-portable fixed point: each token cost is rounded to
    UNIGRAM_FP units (0.1 milli-nats) BEFORE summation, so every
    downstream SUM is an integer sum — order-independent across
    engines (same discipline as the PQ micro-unit distances). The
    ln() inputs are integers (counts), so Spark's Math.log and
    DuckDB's libm agree well inside the rounding grain.

    Output: (doc_id, n_tokens, score_u, avg_u) — total and per-token
    cost in fixed-point units (avg = floor division, portable).

    Scale: tokens are hashed to 8 bytes at explode time (the shuffle
    key is never a token string); the vocab count and the per-doc
    count are both map-side-combinable aggregations; the corpus total
    is a 1-row broadcast, not a collected scalar. At 100 TB the vocab
    join is the only real shuffle and carries (hash, count) pairs.
    """
    from kafana_spark.functions import portable_hash64, tokens

    h = (df.select(
        F.col(id_col),
        F.explode(tokens(F.col(text_col))).alias("t"))
        .select(id_col, portable_hash64(F.col("t")).alias("h")))
    vocab = h.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
    # total is DERIVED from vocab (r13): n = Σ cnt is the same integer
    # the direct count computed, and the re-aggregation rides vocab's
    # exchange (runtime-reused with the cost join's build side)
    # instead of a third full tokenize+hash pass over the corpus.
    # Deriving vocab from per_doc as well was measured and REJECTED:
    # the extra differently-keyed exchanges cost more at bench SF
    # than the saved scan (x71 1.35x, x110 1.20x interleaved).
    total = vocab.groupBy().agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("n"))  # 0 on empty input
    per_doc = h.groupBy(id_col, "h").agg(F.count(F.lit(1)).alias("c"))
    cost_u = F.round((F.log(F.col("n")) - F.log(F.col("cnt")))
                     * F.lit(float(UNIGRAM_FP))).cast("long")
    j = (per_doc.join(vocab, "h")
         .join(F.broadcast(total))
         .select(id_col, "c", cost_u.alias("cost_u")))
    return (j.groupBy(id_col)
            .agg(F.sum("c").cast("int").alias("n_tokens"),
                 F.sum(F.col("c") * F.col("cost_u")).alias("score_u"))
            .select(F.col(id_col), "n_tokens", "score_u",
                    F.expr("score_u div n_tokens").alias("avg_u")))


#: Stupid Backoff discount (Brants et al. 2007, "Large Language Models
#: in Machine Translation") — the web-scale backoff that needs no
#: discounting statistics, only raw counts.
BIGRAM_BACKOFF = 0.4


def bigram_logprob(df: DataFrame, train_pred: "F.Column",
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Bigram LM scoring with Stupid Backoff — the KenLM-shaped
    upgrade over the x71 unigram filter: train counts on the rows
    matching ``train_pred``, score ALL rows, so held-out documents
    contain genuinely unseen bigrams and the backoff path is
    exercised (training == scoring corpus would never back off).

    Per-token cost in nats (all inputs integer counts, so the doubles
    agree across engines inside the UNIGRAM_FP rounding grain):

    - first token:     ln(N+V) − ln(c1(w)+1)            (add-one)
    - seen bigram:     ln(c1(prev)) − ln(c2(prev,w))
    - unseen bigram:   ln(N+V) − ln(c1(w)+1) − ln(0.4)  (backoff)

    Each cost is rounded to UNIGRAM_FP integer units BEFORE the
    per-doc sum (the x71/PQ discipline). Output:
    (id, n_scored, n_backoff, score_u, avg_u).

    Scale: the count tables are vocabulary-sized aggregates of the
    TRAIN slice (map-side combinable, hashed 8-byte keys); the corpus
    side explodes bigrams map-side and joins the count tables on
    hashes — never on gram strings. The (N, V) totals are a 1-row
    broadcast. Nothing is ever collected.
    """
    from kafana_spark.functions import grams, portable_hash64, tokens

    tok = tokens(F.col(text_col))
    train = df.filter(train_pred)
    t1 = train.select(F.explode(tokens(F.col(text_col))).alias("t")) \
        .select(portable_hash64(F.col("t")).alias("h1"))
    c1 = t1.groupBy("h1").agg(F.count(F.lit(1)).alias("c1"))
    # derived, not a second train-slice pass (r13): N = Σ c1 and
    # V = |c1| are the same integers the direct aggregate computed,
    # and the re-aggregation rides c1's exchange instead of
    # re-exploding the train corpus.
    tot = c1.groupBy().agg(F.coalesce(F.sum("c1"), F.lit(0)).alias("n1"),
                           F.count(F.lit(1)).alias("nv"))  # 0, 0 if empty
    c2 = (train.select(F.explode(grams(F.col(text_col), 2)).alias("g"))
          .select(portable_hash64(F.col("g")).alias("h2"))
          .groupBy("h2").agg(F.count(F.lit(1)).alias("c2")))

    fp = F.lit(float(UNIGRAM_FP))
    smoothed = F.log(F.col("n1") + F.col("nv")) \
        - F.log(F.coalesce(F.col("c1w"), F.lit(0)) + 1)

    first = (df.select(F.col(id_col), F.element_at(tok, 1).alias("w"))
             .where(F.col("w").isNotNull())
             .join(c1.withColumnRenamed("c1", "c1w"),
                   portable_hash64(F.col("w")) == F.col("h1"), "left")
             .join(F.broadcast(tot))
             .select(F.col(id_col),
                     F.round(smoothed * fp).cast("long").alias("cost_u"),
                     F.lit(0).alias("bk")))

    bg = (df.select(F.col(id_col),
                    F.explode(grams(F.col(text_col), 2)).alias("g"))
          .withColumn("prev", F.substring_index(F.col("g"), " ", 1))
          .withColumn("w", F.substring_index(F.col("g"), " ", -1)))
    joined = (bg
              .join(c2, portable_hash64(F.col("g")) == F.col("h2"), "left")
              .join(c1.withColumnRenamed("c1", "c1p")
                    .withColumnRenamed("h1", "hp"),
                    portable_hash64(F.col("prev")) == F.col("hp"), "left")
              .join(c1.withColumnRenamed("c1", "c1w")
                    .withColumnRenamed("h1", "hw"),
                    portable_hash64(F.col("w")) == F.col("hw"), "left")
              .join(F.broadcast(tot)))
    cost = F.when(F.col("c2").isNotNull(),
                  F.log(F.col("c1p")) - F.log(F.col("c2"))) \
        .otherwise(smoothed - F.log(F.lit(BIGRAM_BACKOFF)))
    bcosts = joined.select(
        F.col(id_col),
        F.round(cost * fp).cast("long").alias("cost_u"),
        F.when(F.col("c2").isNull(), 1).otherwise(0).alias("bk"))

    return (first.unionByName(bcosts)
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("int").alias("n_scored"),
                 F.sum("bk").cast("int").alias("n_backoff"),
                 F.sum("cost_u").alias("score_u"))
            .select(F.col(id_col), "n_scored", "n_backoff", "score_u",
                    F.expr("score_u div n_scored").alias("avg_u")))


def novelty(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text", n: int = 3) -> DataFrame:
    """Per-document n-gram novelty: the share of the doc's DISTINCT
    n-gram shingles whose FIRST corpus occurrence (lowest doc id) is
    this document — the "contribution to corpus diversity" signal a
    curation pipeline uses to prefer documents that add new content
    over documents that restate earlier ones (the scoring dual of the
    dedup family: x02 finds restatements pairwise, this prices them
    per doc in one pass).

    Output: (doc_id, n_grams, n_novel, novelty_bp) — integer basis
    points, engine-exact.

    Scale: shingles are hashed to 8 bytes at explode time; the
    first-occurrence table is a map-side-combinable MIN per hash; the
    join back carries (hash, first_doc) pairs only. Same shuffle
    profile as the x45 chunk-dedup pass.
    """
    from kafana_spark.functions import portable_hash64, shingles

    g = (df.select(F.col(id_col),
                   F.explode(shingles(F.col(text_col), n)).alias("s"))
         .select(id_col, portable_hash64(F.col("s")).alias("h")))
    # window instead of agg+self-join (r13): min(id) over the h
    # partition IS the first-occurrence table joined back — one
    # corpus shingle pass and one exchange, where the join shape
    # re-scanned the corpus for the probe side and paid a second
    # sort for the merge join. Same integers row for row.
    j = g.select(
        F.col(id_col),
        F.min(id_col).over(Window.partitionBy("h")).alias("first_doc"))
    return (j.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.count(F.when(F.col("first_doc") == F.col(id_col),
                                F.lit(1))).alias("n_novel"))
            .select(F.col(id_col), "n_grams", "n_novel",
                    F.expr("10000 * n_novel div n_grams")
                    .alias("novelty_bp")))


#: zipf_fit fixed point: ln() coordinates in micro-units
ZIPF_FP = 1_000_000


def zipf_fit(df: DataFrame, k: int = 100,
             text_col: str = "text") -> DataFrame:
    """Zipf rank-frequency fit — the corpus-health diagnostic of a
    tokenizer/curation pipeline (natural corpora fit ln(freq) ≈
    a·ln(rank) + c with a ≈ −1; a flat or broken slope flags synthetic
    or boilerplate-dominated data).

    Least squares over the top-``k`` vocabulary's log-log points, all
    integer fixed-point: xu = round(ln rank · 1e6), yu = round(ln cnt
    · 1e6) — the moment sums are exact integer sums, and the
    slope/intercept divisions run on identical integers in both
    engines (bit-equal doubles).

    Output: (n_terms, slope_u, intercept_u) — slope in micro-units,
    intercept in micro-nats of ln(freq).

    Scale: the vocab pass is vocab_topk's combinable explode→agg→
    TakeOrdered; the regression reduces k rows to one.
    """
    v = vocab_topk(df, k, text_col)
    pts = v.select(
        F.round(F.log("rk") * ZIPF_FP).cast("long").alias("xu"),
        F.round(F.log("cnt") * ZIPF_FP).cast("long").alias("yu"))
    s = pts.agg(F.count(F.lit(1)).alias("n"),
                F.sum("xu").alias("sx"), F.sum("yu").alias("sy"),
                F.sum(F.col("xu") * F.col("yu")).alias("sxy"),
                F.sum(F.col("xu") * F.col("xu")).alias("sxx"))
    slope = ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")))
    return s.select(
        F.col("n").cast("int").alias("n_terms"),
        F.round(slope * F.lit(float(ZIPF_FP))).cast("long")
        .alias("slope_u"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"))
        .cast("long").alias("intercept_u"))


def gopher_rules(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 min_words: int = 20, max_words: int = 1000,
                 min_mwl_x10: int = 40, max_mwl_x10: int = 100,
                 min_stop: int = 2,
                 max_dup2_bp: int = 1500) -> DataFrame:
    """Gopher-style per-RULE quality gate (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", appendix A: word-count bounds, mean
    word length bounds, stop-word presence, repeated-n-gram fraction)
    — unlike ``quality_score``'s single blended number, every rule
    reports its own boolean so a curation run can see WHICH rule
    rejected a document and tune thresholds per-rule.

    Rules (all integer arithmetic, cross-engine exact):
      r_wc   — min_words <= n_words <= max_words
      r_mwl  — mean word length, decitokens: min <= 10·chars//n <= max
      r_stop — at least ``min_stop`` DISTINCT stop words present
      r_dup  — duplicate-bigram token fraction (positions belonging
               to a bigram that occurs >= 2× in the doc) at most
               ``max_dup2_bp`` basis points — the word-soup analogue
               of Gopher's repeated-10-gram character fraction
      keep   — all four

    Output: (doc_id, n_words, mwl_x10, n_stop, dup2_bp,
             r_wc, r_mwl, r_stop, r_dup, keep), one row per doc.

    Scale: three map-side-combinable passes — per-doc array stats are
    map-only; the bigram multiplicity count groups on (doc, bigram)
    then reduces to one row per doc (both partial-aggregated). No
    window, no join wider than doc_id."""
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("tok"))
    n = F.size(F.col("tok"))
    # length of the separator-free concatenation == Σ length(token),
    # as a single codegen'd expression — the F.aggregate lambda it
    # replaces evaluates INTERPRETED per token (the r12 HOF-audit
    # class; same integers by construction)
    charsum = F.length(F.concat_ws("", F.col("tok")))
    stops = F.array(*[F.lit(s) for s in STOPWORDS])
    base = toked.select(
        F.col(id_col),
        n.cast("long").alias("n_words"),
        F.floor(F.lit(10) * charsum / n).cast("long").alias("mwl_x10"),
        F.size(F.array_intersect(F.array_distinct(F.col("tok")), stops))
        .cast("long").alias("n_stop"))
    # bigram positions: explode → multiplicity → duplicated share.
    # grams() is the codegen'd arrays_zip shape (r12 HOF audit) and
    # yields exactly the same space-joined adjacent pairs the old
    # interpreted transform(sequence, element_at) lambda built, with
    # the same empty-below-2-tokens guard.
    from kafana_spark.functions import grams

    bg = df.select(F.col(id_col),
                   F.explode(grams(F.col(text_col), 2)).alias("b"))
    dup = (bg.groupBy(id_col, "b").agg(F.count(F.lit(1)).alias("c"))
           .groupBy(id_col)
           .agg(F.sum(F.when(F.col("c") >= 2, F.col("c"))
                      .otherwise(F.lit(0))).alias("dup_pos"),
                F.sum("c").alias("npos")))
    out = (base.join(dup, id_col, "left")
           .select(
               F.col(id_col), "n_words", "mwl_x10", "n_stop",
               F.coalesce(F.floor(F.lit(10000) * F.col("dup_pos")
                                  / F.col("npos")), F.lit(0))
               .cast("long").alias("dup2_bp")))
    r_wc = (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
    r_mwl = ((F.col("mwl_x10") >= min_mwl_x10)
             & (F.col("mwl_x10") <= max_mwl_x10))
    r_stop = F.col("n_stop") >= min_stop
    r_dup = F.col("dup2_bp") <= max_dup2_bp
    return out.select(
        F.col(id_col), "n_words", "mwl_x10", "n_stop", "dup2_bp",
        r_wc.alias("r_wc"), r_mwl.alias("r_mwl"),
        r_stop.alias("r_stop"), r_dup.alias("r_dup"),
        (r_wc & r_mwl & r_stop & r_dup).alias("keep"))


def nb_calibration(df: DataFrame, train_mod: int = 3,
                   vocab_k: int = 50, quality_cut: int = 4700,
                   bin_w_u: int = 500_000,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Reliability table for the x141 classifier — fixed-width score
    bins vs the empirical positive rate (the calibration check run
    before trusting a learned filter's scores as rankings: a
    well-ordered classifier shows pos_bp monotone in the bin).

    Bins are floor(score / bin_w_u) on the IEEE double quotient —
    identical in both engines, valid for negative scores too (floor,
    not truncate). Per bin: n docs, positives under the heuristic
    truth, pos_bp, and the floored mean score.

    Output: (bin, n, n_pos, pos_bp, mean_s_u) ordered by bin.

    Scale: scoring is the x141 chain; the table itself is one
    combinable aggregate over (bin) — no window, no join."""
    preds = nb_quality_classifier(df, train_mod, vocab_k,
                                  quality_cut, text_col, id_col)
    truth = (quality_score(df, id_col, text_col)
             .where(F.col(id_col) % train_mod != 0)
             .select(F.col(id_col),
                     (F.col("quality_bp") >= quality_cut)
                     .cast("int").alias("yt")))
    j = (preds.join(truth, id_col)
         .select(F.col("nb_score_u").alias("s"), "yt"))
    b = F.floor(F.col("s").cast("double") / F.lit(float(bin_w_u))) \
        .cast("long")
    g = (j.select(b.alias("bin"), "s", "yt")
         .groupBy("bin")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("yt").cast("long").alias("n_pos"),
              F.sum("s").alias("ssum")))
    return (g.select(
        "bin", "n", "n_pos",
        F.expr("10000 * n_pos div n").cast("long").alias("pos_bp"),
        F.floor(F.col("ssum").cast("double") / F.col("n"))
        .cast("long").alias("mean_s_u"))
        .orderBy("bin"))


def gate_agreement(df: DataFrame, train_mod: int = 3,
                   vocab_k: int = 50, quality_cut: int = 4700,
                   nb_cut_u: int = 5_000_000,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Cohen's kappa between two quality gates on the held-out split:
    the x11 heuristic cut (g1) and the x141 NB score at an explicit
    operating point ``nb_cut_u`` (g2) — the inter-rater check a
    curation run does before swapping one filter for another (raw
    agreement over-reads when both gates pass almost everything;
    kappa subtracts the chance-agreement floor).

    All integer except the two guarded floor-on-double divisions
    (identical IEEE quotients both engines; kappa may be negative,
    so floor — not integer-div truncation — is the portable choice).

    Output: one row (n, n11, n10, n01, n00, po_bp, pe_bp, kappa_bp).

    Scale: the per-doc frame reduces to four combinable counts; the
    kappa arithmetic runs on a 1-row frame."""
    preds = nb_quality_classifier(df, train_mod, vocab_k,
                                  quality_cut, text_col, id_col)
    truth = (quality_score(df, id_col, text_col)
             .where(F.col(id_col) % train_mod != 0)
             .select(F.col(id_col),
                     (F.col("quality_bp") >= quality_cut)
                     .cast("int").alias("g1")))
    j = (preds.select(F.col(id_col),
                      (F.col("nb_score_u") >= nb_cut_u)
                      .cast("int").alias("g2"))
         .join(truth, id_col))
    c = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("g1") * F.col("g2")).alias("n11"),
        F.sum(F.col("g1") * (1 - F.col("g2"))).alias("n10"),
        F.sum((1 - F.col("g1")) * F.col("g2")).alias("n01"),
        F.sum((1 - F.col("g1")) * (1 - F.col("g2"))).alias("n00"))
    po = F.expr("10000 * (n11 + n00) div n")
    pe = F.expr("10000 * ((n11 + n10) * (n11 + n01) "
                "+ (n01 + n00) * (n10 + n00)) div (n * n)")
    with_p = c.select("n", "n11", "n10", "n01", "n00",
                      po.cast("long").alias("po_bp"),
                      pe.cast("long").alias("pe_bp"))
    kappa = F.when(
        F.col("pe_bp") >= 10000, F.lit(10000)).otherwise(
        F.floor(F.lit(10000.0)
                * (F.col("po_bp") - F.col("pe_bp")).cast("double")
                / (F.lit(10000) - F.col("pe_bp")).cast("double")))
    return with_p.select("n", "n11", "n10", "n01", "n00",
                         "po_bp", "pe_bp",
                         kappa.cast("long").alias("kappa_bp"))


def nb_reliability_summary(df: DataFrame, train_mod: int = 3,
                           vocab_k: int = 50,
                           quality_cut: int = 4700,
                           bin_w_u: int = 500_000,
                           text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """One-row reliability summary of the x164 table: the bin-mass-
    weighted mean absolute deviation of per-bin positive rates from
    the global base rate, in basis points — an ECE-shaped score
    (honest caveat: NB scores are log-odds, not probabilities, so
    this measures how UNEVENLY the positives spread across score
    bins — a discrimination/reliability index, 0 = scores carry no
    information about the label). All integer arithmetic.

    Output: (n, n_bins, base_bp, dev_bp).

    Scale: the x141 scoring chain plus two combinable aggregates."""
    preds = nb_quality_classifier(df, train_mod, vocab_k,
                                  quality_cut, text_col, id_col)
    truth = (quality_score(df, id_col, text_col)
             .where(F.col(id_col) % train_mod != 0)
             .select(F.col(id_col),
                     (F.col("quality_bp") >= quality_cut)
                     .cast("int").alias("yt")))
    j = (preds.join(truth, id_col)
         .select(F.col("nb_score_u").alias("s"), "yt"))
    b = F.floor(F.col("s").cast("double") / F.lit(float(bin_w_u)))         .cast("long")
    g = (j.select(b.alias("bin"), "yt")
         .groupBy("bin")
         .agg(F.count(F.lit(1)).alias("nb"),
              F.sum("yt").cast("long").alias("pb")))
    tot = g.agg(F.sum("nb").alias("n"), F.sum("pb").alias("p"),
                F.count(F.lit(1)).alias("n_bins"))
    dev = F.abs(F.expr("10000 * pb div nb")
                - F.expr("10000 * p div n"))
    return (g.crossJoin(F.broadcast(tot))
            .agg(F.any_value("n").alias("n0"),
                 F.any_value("n_bins").alias("nbins"),
                 F.any_value(F.expr("10000 * p div n")).alias("base"),
                 F.sum(F.col("nb") * dev).alias("wd"))
            .select(F.col("n0").cast("long").alias("n"),
                    F.col("nbins").cast("long").alias("n_bins"),
                    F.col("base").cast("long").alias("base_bp"),
                    F.expr("wd div n0").cast("long").alias("dev_bp")))


def source_divergence(df: DataFrame, vocab_k: int = 100,
                      source_col: str = "source",
                      text_col: str = "text") -> DataFrame:
    """Pairwise symmetric KL divergence between per-source token
    distributions — the corpus-redundancy map: near-zero pairs are
    near-duplicate sources (merge/deprioritize candidates in a
    mixing plan), large pairs are genuinely complementary data.

    Distributions are add-one-smoothed over the corpus-wide top-K
    token vocabulary (count desc, token asc tiebreak — the nb_train
    rule), so every (source, token) cell exists. sym-KL = Σ_t
    (p₁−p₂)(ln p₁ − ln p₂) ≥ 0 is reported in raw 1e-12 units —
    probabilities are integer µunits ((c+1)·1e6 div (tot+K)) and
    log-probs are µunit-ROUNDED doubles (the NB discipline), so the
    per-cell product is an exact integer in both engines and the
    pair sum is order-independent. No final division — sign
    subtleties never arise.

    Output: (src_a, src_b, skl_e12) for src_a < src_b, ordered.

    Scale: one token pass filtered to the broadcast vocabulary (the
    only corpus-sized work), then everything runs on the |sources|·K
    grid; the pair join is grid×grid on the token key — |sources|²·K
    rows, fine for catalog-sized source counts (hundreds).
    """
    tok = (df.select(F.col(source_col).alias("src"),
                     F.explode(tokens(F.col(text_col))).alias("token")))
    vocab = (tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
             .orderBy(F.col("c").desc(), "token").limit(vocab_k)
             .select("token"))
    cnt = (tok.join(F.broadcast(vocab), "token")
           .groupBy("src", "token").agg(F.count(F.lit(1)).alias("c")))
    srcs = df.select(F.col(source_col).alias("src")).distinct()
    grid = (srcs.crossJoin(F.broadcast(vocab))
            .join(cnt, ["src", "token"], "left")
            .select("src", "token",
                    F.coalesce(F.col("c"), F.lit(0)).alias("c")))
    tot = grid.groupBy("src").agg(F.sum("c").alias("tot"))
    cell = (grid.join(F.broadcast(tot), "src")
            .select("src", "token",
                    F.expr(f"(c + 1) * 1000000 div (tot + {vocab_k})")
                    .alias("p_u"),
                    F.round(F.lit(1_000_000.0) * F.log(
                        (F.col("c") + 1)
                        / (F.col("tot") + F.lit(vocab_k))))
                    .cast("long").alias("lp_u")))
    a, b = cell.alias("a"), cell.alias("b")
    return (a.join(b, (F.col("a.token") == F.col("b.token"))
                   & (F.col("a.src") < F.col("b.src")))
            .groupBy(F.col("a.src").alias("src_a"),
                     F.col("b.src").alias("src_b"))
            .agg(F.sum((F.col("a.p_u") - F.col("b.p_u"))
                       * (F.col("a.lp_u") - F.col("b.lp_u")))
                 .alias("skl_e12"))
            .orderBy("src_a", "src_b"))


#: PII patterns — deliberately lookaround-free so Java regex (Spark)
#: and RE2 (DuckDB) agree: simple classes, bounded quantifiers, \b.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+?\d[\d -]{7,}\d"
PII_CARD = r"\b\d{13,16}\b"
#: card precedes phone: a 13-16-digit run is a card, and redacting it
#: first stops the looser phone pattern from half-eating it.
PII_PATTERNS = (("email", PII_EMAIL), ("ipv4", PII_IPV4),
                ("card", PII_CARD), ("phone", PII_PHONE))


def pii_scan(df: DataFrame, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """Per-doc PII indicator counts — the redaction pre-pass every
    public-corpus pipeline runs: emails, IPv4s, phone-shaped digit
    runs, card-shaped digit runs, plus the any-hit flag that routes a
    doc to redaction (``pii_redact``).

    Patterns stay in the Java∩RE2 common subset (no lookaround, no
    backrefs) so the DuckDB twin counts identically; counts are
    non-overlapping leftmost matches in both engines.

    Scale: map-only regexp_count per row — no shuffle, no UDF; the
    scan composes into any gate chain as one more boolean column.
    """
    cols = [F.regexp_count(F.col(text_col), F.lit(p))
            .cast("long").alias(f"n_{name}")
            for name, p in PII_PATTERNS]
    out = df.select(F.col(id_col), *cols)
    flag = None
    for name, _ in PII_PATTERNS:
        c = F.col(f"n_{name}") > 0
        flag = c if flag is None else (flag | c)
    return (out.withColumn("has_pii", flag)
            .orderBy(id_col))


def pii_redact(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Replace every PII match with a typed placeholder (``<EMAIL>``
    etc.), chained in PII_PATTERNS order — emails first so their
    digit runs can't be half-eaten by the phone/card patterns.
    Map-only; the redacted text keeps the original column name."""
    out = F.col(text_col)
    for name, p in PII_PATTERNS:
        out = F.regexp_replace(out, p, f"<{name.upper()}>")
    return df.withColumn(text_col, out).orderBy(id_col)


def lexical_diversity(df: DataFrame, source_col: str = "source",
                      text_col: str = "text") -> DataFrame:
    """Per-source lexical-diversity report — type/token ratio and
    hapax share: the vocabulary-richness screen run next to the x200
    divergence matrix when deciding which sources add genuinely new
    language (a boilerplate-heavy source has low TTR; a noisy OCR
    source has a huge hapax share).

    Output: (source, n_docs, n_tokens, n_distinct, ttr_bp, hapax_bp)
    per source, ordered — ttr_bp = distinct·10000 div tokens,
    hapax_bp = once-seen-types·10000 div distinct.

    Scale: one token explode into a combinable (source, token) count
    (the only corpus-sized shuffle), then a per-source rollup of that
    frame; no windows, no distinct on raw tokens.
    """
    tok = df.select(F.col(source_col).alias("src"),
                    F.explode(tokens(F.col(text_col))).alias("token"))
    docs = (df.groupBy(F.col(source_col).alias("src"))
            .agg(F.count(F.lit(1)).alias("n_docs")))
    tc = (tok.groupBy("src", "token")
          .agg(F.count(F.lit(1)).alias("c")))
    per = (tc.groupBy("src")
           .agg(F.sum("c").alias("n_tokens"),
                F.count(F.lit(1)).alias("n_distinct"),
                F.sum((F.col("c") == 1).cast("long")).alias("n_hapax")))
    return (docs.join(per, "src")
            .select(F.col("src").alias("source"), "n_docs", "n_tokens",
                    "n_distinct",
                    F.expr("n_distinct * 10000 div n_tokens")
                    .alias("ttr_bp"),
                    F.expr("n_hapax * 10000 div n_distinct")
                    .alias("hapax_bp"))
            .orderBy("source"))


def char_entropy(df: DataFrame, source_col: str = "source",
                 text_col: str = "text") -> DataFrame:
    """Per-source character-level Shannon entropy — the cheapest
    garbage detector in the standard curation stack: binary blobs
    and repeated-padding spam sit far from natural-language entropy,
    and it needs no tokenizer, no language model, no vocabulary.

    Integer discipline (the x200 rule): per-char surprise is the
    µunit-ROUNDED double −ln(c/tot) (both engines round the identical
    IEEE double), weighted by the exact integer count, summed, then
    ONE integer division — h_nat_u = Σ c·s_u div tot, µ-nats per
    char.

    Output: (source, n_chars, n_distinct, h_nat_u), ordered.

    Scale: one char explode into a combinable (source, char) count —
    |sources|·|alphabet| rows after the only corpus-sized shuffle;
    the entropy rollup runs on that tiny frame.
    """
    ch = df.select(F.col(source_col).alias("src"),
                   F.explode(F.split(F.col(text_col), "")).alias("ch"))
    cc = ch.groupBy("src", "ch").agg(F.count(F.lit(1)).alias("c"))
    tot = cc.groupBy("src").agg(F.sum("c").alias("tot"))
    s_u = F.round(F.lit(-1_000_000.0)
                  * F.log(F.col("c") / F.col("tot"))).cast("long")
    per = (cc.join(F.broadcast(tot), "src")
           .select("src", "c", "tot", s_u.alias("s_u")))
    return (per.groupBy("src")
            .agg(F.any_value("tot").alias("n_chars"),
                 F.count(F.lit(1)).alias("n_distinct"),
                 F.sum(F.col("c") * F.col("s_u")).alias("h_sum"))
            .select(F.col("src").alias("source"), "n_chars",
                    "n_distinct",
                    F.expr("h_sum div n_chars").alias("h_nat_u"))
            .orderBy("source"))


def pmi_collocations(df: DataFrame, min_count: int = 5, k: int = 30,
                     text_col: str = "text") -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information in
    µnats — the corpus phrase detector (the word2vec-phrases / NLTK
    collocation shape) that decides which adjacent word pairs behave
    as single tokens before vocabulary building:

        pmi = ln p(ab) - ln p(a) - ln p(b)
            = ln(n_ab) + 2*ln(T1) - ln(T2) - ln(n_a) - ln(n_b)

    over unigram/bigram MLE counts. Every ln() input is an integer
    count, so both engines compute identical doubles (the x71
    discipline); the sum is rounded ONCE to µnats. A min_count floor
    kills the rare-pair PMI explosion before any join.

    Output: (w1, w2, n_ab, pmi_u, rank) — top-k by (pmi_u DESC,
    w1, w2).

    Scale: two map-side-combinable count passes over exploded
    tokens/grams; the candidate frame is filtered to >= min_count
    BEFORE joining the unigram table (vocabulary-sized equi-joins);
    totals ride 1-row broadcasts; the rank window runs over the
    post-TakeOrdered <= k rows.
    """
    from kafana_spark.functions import grams, tokens

    t1 = (df.select(F.explode(tokens(F.col(text_col))).alias("w"))
          .groupBy("w").agg(F.count(F.lit(1)).alias("n")))
    tot1 = t1.agg(F.sum("n").alias("t1"))
    bg = (df.select(F.explode(grams(F.col(text_col), 2)).alias("g"))
          .groupBy("g").agg(F.count(F.lit(1)).alias("n_ab")))
    tot2 = bg.agg(F.sum("n_ab").alias("t2"))
    cand = (bg.where(F.col("n_ab") >= min_count)
            .withColumn("w1", F.substring_index("g", " ", 1))
            .withColumn("w2", F.substring_index("g", " ", -1)))
    j = (cand
         .join(t1.select(F.col("w").alias("w1"),
                         F.col("n").alias("na")), "w1")
         .join(t1.select(F.col("w").alias("w2"),
                         F.col("n").alias("nb")), "w2")
         .crossJoin(F.broadcast(tot1))
         .crossJoin(F.broadcast(tot2)))
    pmi = F.round((F.log("n_ab") + F.lit(2.0) * F.log("t1")
                   - F.log("t2") - F.log("na") - F.log("nb"))
                  * F.lit(1_000_000.0)).cast("long")
    scored = j.select("w1", "w2", "n_ab", pmi.alias("pmi_u"))
    top = scored.orderBy(F.desc("pmi_u"), "w1", "w2").limit(k)
    w = Window.orderBy(F.desc("pmi_u"), "w1", "w2")
    return (top.withColumn("rank", F.row_number().over(w).cast("int"))
            .select("w1", "w2", "n_ab", "pmi_u", "rank"))


def langid_confusion(df: DataFrame, id_col: str = "doc_id",
                     lang_col: str = "lang",
                     text_col: str = "text") -> DataFrame:
    """Confusion matrix of the x10 heuristic language ID against the
    labeled ``lang`` column — the eval loop for lang_id (the
    x125/x142/x229 discipline: method quality is itself a query):
    per (actual, predicted) pair, the doc count and its share of the
    actual language's row.

    Output: (lang, pred_lang, n, share_bp) ordered by (lang,
    pred_lang).

    Scale: the prediction is a map-only expression over each doc;
    the confusion matrix is a |langs|^2 combinable aggregate with its
    row-normalizing window over those few rows.
    """
    pred = lang_id(df, id_col, text_col)
    conf = (df.select(F.col(id_col), F.col(lang_col).alias("lang"))
            .join(pred, id_col)
            .groupBy("lang", "pred_lang")
            .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("lang")
    return (conf.withColumn("tot", F.sum("n").over(w))
            .select("lang", "pred_lang", "n",
                    F.expr("n * 10000 div tot").alias("share_bp"))
            .orderBy("lang", "pred_lang"))


def doc_metric_corr(df: DataFrame,
                    text_col: str = "text",
                    chars_col: str = "n_chars") -> DataFrame:
    """Pairwise Pearson correlation matrix over per-document metrics
    (n_chars, n_tokens, n_distinct tokens) — the metric-redundancy
    screen run before stacking quality gates (two gates on r~1
    metrics are one gate twice).

    The x190 ACF discipline: all moments are EXACT integer sums
    (n, Σx, Σy, Σx², Σy², Σxy); the only doubles are the final
    sqrt/divide, so r_bp = floor(10000·(nΣxy−ΣxΣy)/sqrt(...)) is
    bit-identical in both engines; degenerate (constant) metrics
    report r_bp = 0.

    Output: (m1, m2, n, r_bp), one row per unordered metric pair,
    ordered by (m1, m2).

    Scale: ONE map-only pass derives the metrics; all nine moments
    are one combinable single-row aggregate; the 3-row matrix is
    built from that broadcast row.
    """
    tok = tokens(F.col(text_col))
    m = df.select(F.col(chars_col).cast("long").alias("a"),
                  F.size(tok).cast("long").alias("b"),
                  F.size(F.array_distinct(tok)).cast("long").alias("c"))
    s = m.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.col(x)).alias(f"s_{x}") for x in "abc"],
        *[F.sum(F.col(x) * F.col(y)).alias(f"s_{x}{y}")
          for x, y in ("aa", "bb", "cc", "ab", "ac", "bc")])
    names = {"a": "n_chars", "b": "n_tokens", "c": "n_distinct"}
    rows = []
    for x, y in ("ab", "ac", "bc"):
        num = F.col("n") * F.col(f"s_{x}{y}") \
            - F.col(f"s_{x}") * F.col(f"s_{y}")
        d1 = F.col("n") * F.col(f"s_{x}{x}") \
            - F.col(f"s_{x}") * F.col(f"s_{x}")
        d2 = F.col("n") * F.col(f"s_{y}{y}") \
            - F.col(f"s_{y}") * F.col(f"s_{y}")
        r = F.when((d1 > 0) & (d2 > 0),
                   F.floor(F.lit(10000.0) * num.cast("double")
                           / F.sqrt(d1.cast("double")
                                    * d2.cast("double")))) \
            .otherwise(F.lit(0))
        rows.append(s.select(
            F.lit(names[x]).alias("m1"), F.lit(names[y]).alias("m2"),
            "n", r.cast("long").alias("r_bp")))
    from functools import reduce as _reduce
    return _reduce(DataFrame.unionByName, rows).orderBy("m1", "m2")


def rake_keywords(df: DataFrame, stop_k: int = 15, k: int = 20,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal runs of non-stopword tokens; each word scores
    degree/frequency (degree = Σ length of the phrases its occurrences
    sit in) and a phrase scores the sum of its words' scores — the
    unsupervised keyphrase baseline of every document-tagging
    pipeline.

    The stopword set is data-driven — the corpus's ``stop_k`` most
    frequent tokens (deterministic (count desc, word) cutoff) — so the
    operator is self-contained on any corpus. Scores are integer
    µunits (1e6·degree div freq, summed per phrase — order-independent
    across engines).

    Output: top-``k`` distinct phrases by (score_u desc, phrase):
    (phrase, plen, n_occur, score_u).

    Scale: one tokenize+posexplode pass; the stop set is a broadcast
    ``stop_k``-row frame; islands come from a per-doc window (bounded
    by doc length); word stats are map-side combinable and join back
    vocab-keyed — no corpus×corpus product anywhere.
    """
    tok = df.select(F.col(id_col).alias("d"),
                    F.posexplode(tokens(F.col(text_col)))
                    .alias("pos", "w"))
    fa = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    stops = (fa.orderBy(F.col("cnt").desc(), "w").limit(stop_k)
             .select("w", F.lit(1).alias("is_stop")))
    ns = (tok.join(F.broadcast(stops), "w", "left")
          .where(F.col("is_stop").isNull())
          .select("d", "pos", "w"))
    wgrp = Window.partitionBy("d").orderBy("pos")
    m = ns.withColumn("grp",
                      F.col("pos") - F.row_number().over(wgrp))
    m2 = m.withColumn(
        "plen", F.count(F.lit(1)).over(Window.partitionBy("d", "grp")))
    ws = (m2.groupBy("w")
          .agg(F.count(F.lit(1)).alias("freq"),
               F.sum("plen").alias("deg"))
          .select("w", F.expr("1000000 * deg div freq").alias("ws_u")))
    ph = (m2.join(ws, "w")
          .groupBy("d", "grp")
          .agg(F.array_join(
              F.transform(
                  F.array_sort(F.collect_list(F.struct("pos", "w"))),
                  lambda s: s["w"]), " ").alias("phrase"),
              F.max("plen").alias("plen"),
              F.sum("ws_u").alias("score_u")))
    return (ph.groupBy("phrase")
            .agg(F.max("plen").alias("plen"),
                 F.count(F.lit(1)).alias("n_occur"),
                 F.max("score_u").alias("score_u"))
            .orderBy(F.col("score_u").desc(), "phrase")
            .limit(k))
