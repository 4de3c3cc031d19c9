"""Text-analysis operator tests: lang-id, quality, tokens, fingerprints,
rolling-hash chunking."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafana_spark.operators import text as T
from kafana_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def docs(spark):
    return load_table(spark, SF_SMOKE, "documents")


def test_lang_id_on_real_languages(spark):
    fixture = spark.createDataFrame([
        (1, "the cat is on the mat and a dog is here"),
        (2, "der hund und die katze das ist ein haus"),
        (3, "el perro y la casa es un lugar de madrid"),
        (4, "le chien et la maison les arbres est un"),
        (5, "这是一个中文句子"),
        (6, "qwerty zxcvb asdfgh"),
    ], ["doc_id", "text"])
    out = {r.doc_id: r.pred_lang for r in T.lang_id(fixture).collect()}
    assert out == {1: "en", 2: "de", 3: "es", 4: "fr", 5: "zh", 6: "und"}


def test_token_count_consistency(spark):
    out = T.token_count(docs(spark)).collect()
    for r in out:
        assert r.n_uniq <= r.n_tokens
        assert r.n_subwords > 0


def test_quality_score_bounds_and_monotonic_length(spark):
    fixture = spark.createDataFrame([
        (1, "the a of and to is in it word other thing stuff more yet"),
        (2, "x x"),
    ], ["doc_id", "text"])
    out = {r.doc_id: r.quality_bp for r in T.quality_score(fixture).collect()}
    assert all(0 <= v <= 10000 for v in out.values())
    assert out[1] > out[2]


def test_fingerprint_detects_shared_prefix(spark):
    fixture = spark.createDataFrame([
        (1, "a b c d e f g h i j k"),
        (2, "a b c d e f g h x y z"),   # same first 8 tokens
        (3, "totally different text here now ok yes no"),
    ], ["doc_id", "text"])
    out = {r.doc_id: r for r in T.fingerprint(fixture).collect()}
    assert out[1].fp_head == out[2].fp_head
    assert out[1].fp_full != out[2].fp_full
    assert out[3].fp_head != out[1].fp_head


def test_rolling_chunks_reassemble(spark):
    sample = docs(spark).limit(50)
    chunks = T.rolling_hash_chunks(sample).collect()
    expected = {r.doc_id: len(r.text.encode()) for r in sample.collect()}
    total = {}
    for c in chunks:
        total[c.doc_id] = total.get(c.doc_id, 0) + c.chunk_len
    assert total == expected  # chunks partition every document exactly


def test_rolling_chunks_identical_texts_share_hashes(spark):
    df = spark.createDataFrame(
        [(1, "w " * 400), (2, "w " * 400)], ["doc_id", "text"])
    rows = T.rolling_hash_chunks(df).collect()
    seq = {}
    for r in rows:
        seq.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk_hash))
    assert sorted(seq[1]) == sorted(seq[2])


def test_rolling_chunks_match_scalar_reference(spark):
    """The numpy-vectorized chunker is bit-identical to the r1 scalar
    per-byte loop (kept as _chunk_doc_reference) on the real documents
    table plus adversarial shapes: empty, shorter than the window,
    all-identical bytes (no boundaries), multi-byte UTF-8."""
    cases = [(1000, ""), (1001, "x"), (1002, "short doc"),
             (1003, "a" * 5000), (1004, "é中" * 700),
             (1005, "the quick brown fox " * 300)]
    df = docs(spark).limit(200).select("doc_id", "text").unionByName(
        spark.createDataFrame(cases, ["doc_id", "text"]))
    got = {}
    for r in T.rolling_hash_chunks(df).collect():
        got.setdefault(r.doc_id, []).append(
            (r.chunk_idx, r.chunk_hash, r.chunk_len))
    want = {}
    for r in df.collect():
        ref = T._chunk_doc_reference(r.text.encode("utf-8"))
        if ref:
            want[r.doc_id] = ref
    assert {k: sorted(v) for k, v in got.items()} == \
        {k: sorted(v) for k, v in want.items()}


def test_repetition_stats_separates_loops_from_prose(spark):
    rows = [
        (1, "spam ham spam ham spam ham spam ham"),   # one bigram loop
        (2, "the quick brown fox jumps over dogs"),   # all bigrams unique
        (3, "x"),                                     # < n tokens -> zeros
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.top_bp, r.dup_bp)
           for r in T.repetition_stats(df).collect()}
    # doc 1: 7 bigrams, 'spam ham' x4, 'ham spam' x3 -> top 4/7, dup 7/7
    assert got[1] == (int(10000 * 4 / 7), 10000)
    assert got[2] == (int(10000 * 1 / 6), 0)
    assert got[3] == (0, 0)


def test_pair_counts_ranks_most_frequent_pair_first(spark):
    rows = [(1, "a b a b c"), (2, "a b d")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = T.pair_counts(df, k=3).collect()
    assert [r.pair for r in out][0] == "a b"
    assert out[0].cnt == 3
    assert [r.rk for r in out] == [1, 2, 3]


def test_significant_terms_surfaces_foreground_only_token(spark):
    rows = [
        (1, "alpha shared words here", "en"),
        (2, "alpha shared words there", "en"),
        (3, "alpha shared words again", "en"),
        (4, "beta shared words here", "de"),
        (5, "beta shared words there", "de"),
        (6, "beta shared words again", "de"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = T.significant_terms(df, F.col("lang") == "en", k=5, min_fg=2)
    out = got.collect()
    # 'alpha' is foreground-exclusive -> lift = (3/3)/(3/6) = 2x = 20000bp
    top = out[0]
    assert top.token == "alpha"
    assert top.score_bp == 20000
    # corpus-uniform tokens score 10000bp (no lift)
    scores = {r.token: r.score_bp for r in out}
    assert scores["shared"] == 10000
    # background-exclusive tokens never outrank uniform ones
    assert "beta" not in scores or scores["beta"] < 10000


def test_chunk_windows_column_expression(spark):
    """Window/stride/tail behavior of the RAG chunker."""
    from kafana_spark.operators import text as t

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(50))), (2, "a b")],
        ["doc_id", "text"])
    rows = t.chunk_windows(df, window=8, stride=6).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert len(c1) == 9                      # ceil(50/6)
    assert c1[0].chunk_text.split(" ")[:2] == ["t0", "t1"]
    assert c1[1].chunk_text.split(" ")[0] == "t6"   # 2-token overlap
    assert c1[-1].chunk_tokens == 2          # short tail kept
    assert by_doc[2][0].chunk_text == "a b"


def test_chunk_windows_udtf_parity(spark):
    """The Python UDTF demo must agree row-for-row with the production
    column-expression chunker (the UDTF exists to demonstrate the
    extension surface, not to replace the codegen'd path)."""
    from kafana_spark.functions.udtfs import register_udtfs
    from kafana_spark.operators import text as t
    from kafana_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").limit(50)
    docs.createOrReplaceTempView("udtf_docs")
    register_udtfs(spark)
    via_udtf = spark.sql(
        "SELECT d.doc_id, c.chunk_id, c.chunk_text, c.chunk_tokens "
        "FROM udtf_docs d, LATERAL chunk_windows_udtf(d.text) c")
    via_cols = t.chunk_windows(docs)
    as_set = lambda df: {tuple(r) for r in df.collect()}
    assert as_set(via_udtf) == as_set(via_cols)


def test_chunk_windows_rejects_token_dropping_stride(spark):
    import pytest

    from kafana_spark.operators import text as t

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="stride"):
        t.chunk_windows(df, window=2, stride=3)


# ------------------------------------------------- unigram LM quality

def test_unigram_logprob_rare_tokens_score_higher(spark):
    """Corpus MLE: a doc holding the corpus' rare token must average a
    higher per-token cost than an all-common-tokens doc, and the
    fixed-point values must equal the closed form exactly."""
    import math

    df = spark.createDataFrame(
        [(1, "common common common common"),
         (2, "common common common rareword")],
        ["doc_id", "text"])
    got = {r.doc_id: r for r in T.unigram_logprob(df).collect()}
    # N=8 tokens; cnt(common)=7, cnt(rareword)=1
    c_common = round(math.log(8 / 7) * T.UNIGRAM_FP)
    c_rare = round(math.log(8) * T.UNIGRAM_FP)
    assert got[1].score_u == 4 * c_common
    assert got[2].score_u == 3 * c_common + c_rare
    assert got[2].avg_u > got[1].avg_u
    assert got[1].n_tokens == 4 and got[2].n_tokens == 4


def test_unigram_logprob_fixture_nonnegative_total(spark):
    d = docs(spark)
    rows = T.unigram_logprob(d).collect()
    assert len(rows) == d.count()
    assert all(r.score_u >= 0 and 0 <= r.avg_u <= r.score_u
               for r in rows)


# ------------------------------------------------------------- bigram LM

def test_bigram_logprob_closed_form_with_backoff(spark):
    import math

    from kafana_spark.operators.text import (
        BIGRAM_BACKOFF, UNIGRAM_FP, bigram_logprob)

    # train = doc 0 only; doc 1 contains the unseen bigram ('b','a')
    rows = [(0, "a b a"), (1, "b a")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           bigram_logprob(df, F.col("doc_id") == 0).collect()}
    # train counts: c1 = {a:2, b:1}, N=3, V=2; c2 = {'a b':1, 'b a':1}
    n1, nv = 3, 2
    c1 = {"a": 2, "b": 1}
    c2 = {("a", "b"): 1, ("b", "a"): 1}

    def u(x):
        return int(round(x * UNIGRAM_FP))

    # doc 0: first 'a' + seen bigrams (a,b) and (b,a)
    exp0 = (u(math.log(n1 + nv) - math.log(c1["a"] + 1))
            + u(math.log(c1["a"]) - math.log(c2[("a", "b")]))
            + u(math.log(c1["b"]) - math.log(c2[("b", "a")])))
    assert (out[0].n_scored, out[0].n_backoff) == (3, 0)
    assert out[0].score_u == exp0
    # doc 1: first 'b' + seen bigram (b,a) — no backoff here; make an
    # unseen one: doc 2
    df2 = spark.createDataFrame(rows + [(2, "a c")],
                                "doc_id long, text string")
    out2 = {r.doc_id: r for r in
            bigram_logprob(df2, F.col("doc_id") == 0).collect()}
    # 'a c' : first 'a' seen; bigram (a,c) unseen -> backoff; c unseen
    exp2 = (u(math.log(n1 + nv) - math.log(c1["a"] + 1))
            + u(math.log(n1 + nv) - math.log(0 + 1)
                - math.log(BIGRAM_BACKOFF)))
    assert (out2[2].n_scored, out2[2].n_backoff) == (2, 1)
    assert out2[2].score_u == exp2
    assert out2[2].avg_u == exp2 // 2


def test_bigram_logprob_empty_train_slice(spark):
    """An empty training slice totals N = 0 tokens (coalesced, not a
    NULL sum) over V = 0 types: every document is still scored, every
    bigram backs off, and the cost is NULL because ln(N + V) = ln(0)
    is undefined — never an error."""
    df = spark.createDataFrame([(0, "a b a"), (1, "b a")],
                               "doc_id long, text string")
    out = {r.doc_id: r for r in
           T.bigram_logprob(df, F.lit(False)).collect()}
    assert {i: (r.n_scored, r.n_backoff) for i, r in out.items()} \
        == {0: (3, 2), 1: (2, 1)}
    assert all(r.score_u is None and r.avg_u is None for r in out.values())


def test_bigram_logprob_heldout_docs_back_off(spark):
    from kafana_spark.operators.text import bigram_logprob
    from kafana_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    d = load_table(spark, SF_SMOKE, "documents")
    out = bigram_logprob(d, F.col("doc_id") % 10 == 0)
    agg = out.agg(F.sum("n_backoff").alias("bk"),
                  F.count(F.lit(1)).alias("n")).collect()[0]
    assert agg.n == d.count()          # every doc scored
    assert agg.bk > 0                  # held-out bigrams actually back off
    # train docs never back off (their bigrams are all in the counts)
    tr = out.filter(F.col("doc_id") % 10 == 0) \
        .agg(F.sum("n_backoff")).collect()[0][0]
    assert tr == 0


def test_gopher_rules_closed_form(spark):
    """Hand-computed per-rule flags: doc 1 passes everything; doc 2
    fails mwl + stopwords + dup-bigrams (alternating two-token soup);
    doc 3 fails only the word-count floor."""
    from kafana_spark.operators.text import gopher_rules

    a = "the a " + " ".join(f"word{i}" for i in range(28))
    b = "x y " * 12
    c = "the a of and to"
    df = spark.createDataFrame(
        [(1, a), (2, b.strip()), (3, c)], "doc_id: long, text: string")
    rows = {r.doc_id: r for r in gopher_rules(df).collect()}
    r1 = rows[1]
    assert (r1.n_words, r1.n_stop, r1.dup2_bp) == (30, 2, 0)
    # chars = 3 + 1 + 10*5 + 18*6 = 162 -> 1620 // 30 = 54
    assert r1.mwl_x10 == 54
    assert (r1.r_wc, r1.r_mwl, r1.r_stop, r1.r_dup, r1.keep) \
        == (True, True, True, True, True)
    r2 = rows[2]
    # 24 one-char tokens: mwl_x10 = 10, no stopwords, every bigram
    # ("x y" x12, "y x" x11) occurs >= 2 times -> 10000 bp
    assert (r2.n_words, r2.mwl_x10, r2.n_stop, r2.dup2_bp) \
        == (24, 10, 0, 10000)
    assert (r2.r_wc, r2.r_mwl, r2.r_stop, r2.r_dup, r2.keep) \
        == (True, False, False, False, False)
    r3 = rows[3]
    assert r3.n_words == 5 and not r3.r_wc and not r3.keep
    assert r3.r_stop and r3.r_dup


def test_gopher_rules_single_token_doc_guard(spark):
    """A 1-token doc must not trip the sequence(1, 0) count-down trap:
    dup2_bp = 0, word count fails the floor."""
    from kafana_spark.operators.text import gopher_rules

    df = spark.createDataFrame([(1, "solo")], "doc_id: long, text: string")
    r = gopher_rules(df).collect()[0]
    assert (r.n_words, r.dup2_bp, r.keep) == (1, 0, False)


def test_nb_calibration_partitions_heldout(spark):
    """Bins partition the held-out split; rates are valid bp; the
    floored mean score sits inside its bin's bounds."""
    from kafana_spark.operators.text import nb_calibration
    from kafana_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    d = load_table(spark, SF_SMOKE, "documents")
    W = 500_000
    rows = nb_calibration(d, bin_w_u=W).collect()
    n_held = d.where(F.col("doc_id") % 3 != 0).count()
    assert sum(r.n for r in rows) == n_held
    for r in rows:
        assert 0 <= r.n_pos <= r.n
        assert r.pos_bp == 10000 * r.n_pos // r.n
        assert r.bin * W <= r.mean_s_u < (r.bin + 1) * W


def test_gate_agreement_counts_and_kappa_consistent(spark):
    """The 2x2 table partitions the held-out split and the reported
    kappa matches a Python recompute from the table itself."""
    import math

    from kafana_spark.operators.text import gate_agreement
    from kafana_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    d = load_table(spark, SF_SMOKE, "documents")
    r = gate_agreement(d, nb_cut_u=5_000_000).collect()[0]
    assert r.n11 + r.n10 + r.n01 + r.n00 == r.n
    assert r.po_bp == 10000 * (r.n11 + r.n00) // r.n
    pe = 10000 * ((r.n11 + r.n10) * (r.n11 + r.n01)
                  + (r.n01 + r.n00) * (r.n10 + r.n00)) // (r.n * r.n)
    assert r.pe_bp == pe
    if pe < 10000:
        assert r.kappa_bp == math.floor(
            10000.0 * float(r.po_bp - pe) / float(10000 - pe))
    assert -10000 <= r.kappa_bp <= 10000
    # the cut must make BOTH gates non-constant on the smoke corpus
    assert (r.n11 + r.n10) not in (0, r.n)
    assert (r.n11 + r.n01) not in (0, r.n)


def test_nb_reliability_summary_reconciles_with_bins(spark):
    """The one-row summary recomputes from the x164 table exactly."""
    from kafana_spark.operators.text import (
        nb_calibration, nb_reliability_summary,
    )
    from kafana_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    d = load_table(spark, SF_SMOKE, "documents")
    bins = nb_calibration(d).collect()
    r = nb_reliability_summary(d).collect()[0]
    n = sum(b.n for b in bins)
    p = sum(b.n_pos for b in bins)
    base = 10000 * p // n
    dev = sum(b.n * abs(10000 * b.n_pos // b.n - base)
              for b in bins) // n
    assert (r.n, r.n_bins, r.base_bp, r.dev_bp) \
        == (n, len(bins), base, dev)


def test_source_divergence_zero_for_identical_and_positive_for_disjoint(spark):
    from kafana_spark.operators.text import source_divergence

    rows = [
        (0, "aa bb cc aa", "s1"), (1, "aa bb cc aa", "s2"),
        (2, "xx yy zz xx", "s3"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {(r.src_a, r.src_b): r.skl_e12
           for r in source_divergence(df, vocab_k=6).collect()}
    assert out[("s1", "s2")] == 0          # identical distributions
    assert out[("s1", "s3")] > 0
    assert out[("s1", "s3")] == out[("s2", "s3")]   # same text
    assert set(out) == {("s1", "s2"), ("s1", "s3"), ("s2", "s3")}


def test_pii_scan_and_redact(spark):
    from kafana_spark.operators.text import pii_redact, pii_scan

    rows = [
        (0, "contact me at alice@example.com or +1 555 123 4567 ok"),
        (1, "server 10.0.0.1 billed card 4111111111111111 now"),
        (2, "clean text with nothing sensitive"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in pii_scan(df).collect()}
    assert out[0].n_email == 1 and out[0].n_phone == 1
    assert out[0].has_pii
    assert out[1].n_ipv4 == 1 and out[1].n_card == 1
    assert not out[2].has_pii
    red = {r.doc_id: r.text for r in pii_redact(df).collect()}
    assert "<EMAIL>" in red[0] and "alice@" not in red[0]
    assert "<IPV4>" in red[1] and "<CARD>" in red[1]
    assert red[2] == rows[2][1]


def test_lexical_diversity_ttr_and_hapax(spark):
    from kafana_spark.operators.text import lexical_diversity

    df = spark.createDataFrame(
        [(1, "a a b", "s1"), (2, "a c", "s1"), (3, "x y", "s2")],
        ["doc_id", "text", "source"])
    out = {r.source: r for r in lexical_diversity(df).collect()}
    # s1: tokens a,a,b,a,c -> 5 tokens, 3 distinct (a=3,b=1,c=1),
    # hapax b,c -> ttr 3*10000//5, hapax 2*10000//3
    assert (out["s1"].n_docs, out["s1"].n_tokens) == (2, 5)
    assert (out["s1"].n_distinct, out["s1"].ttr_bp) == (3, 6000)
    assert out["s1"].hapax_bp == 6666
    assert (out["s2"].n_tokens, out["s2"].ttr_bp,
            out["s2"].hapax_bp) == (2, 10000, 10000)


def test_char_entropy_uniform_and_constant(spark):
    import math

    from kafana_spark.operators.text import char_entropy

    df = spark.createDataFrame(
        [(1, "abab", "s1"), (2, "zzzz", "s2")],
        ["doc_id", "text", "source"])
    out = {r.source: r for r in char_entropy(df).collect()}
    # s1: uniform over {a,b} -> H = ln 2 nats; s_u = round(1e6*ln2)
    su = round(1_000_000.0 * math.log(2))
    assert (out["s1"].n_chars, out["s1"].n_distinct) == (4, 2)
    assert out["s1"].h_nat_u == (2 * su + 2 * su) // 4
    # s2: constant -> zero entropy
    assert (out["s2"].n_distinct, out["s2"].h_nat_u) == (1, 0)


def test_rake_keywords_scores_and_islands(spark):
    from kafana_spark.operators.text import rake_keywords

    # "the"/"of" dominate frequency -> become the stop set (stop_k=2);
    # phrases: "big data" (x2), "fast engine", "data"
    rows = [
        (1, "the big data of the fast engine of"),
        (2, "of the big data of the data"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.phrase: r for r in rake_keywords(
        df, stop_k=2, k=10).collect()}
    assert set(out) == {"big data", "fast engine", "data"}
    # word stats: big f=2 d=4; data f=3 d=5; fast f=1 d=2; engine ...
    big, data = 1_000_000 * 4 // 2, 1_000_000 * 5 // 3
    assert out["big data"].score_u == big + data
    assert out["big data"].n_occur == 2
    assert out["big data"].plen == 2
    assert out["data"].score_u == data
    assert out["fast engine"].score_u == 2_000_000 + 2_000_000
    # ranking: fast engine (4e6) > big data (3.67e6) > data
    top = rake_keywords(df, stop_k=2, k=2).collect()
    assert [r.phrase for r in top] == ["fast engine", "big data"]
