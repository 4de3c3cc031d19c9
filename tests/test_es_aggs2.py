"""Round-5 ES-agg additions (x100-x110): closed-form semantics on tiny
frames + the 100 TB plan-shape pins (column pruning, broadcast joins,
no cartesians). The cross-engine value parity itself is the oracle
gate's job (tools/check_oracle.py)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from kafana_spark import query
from tests.conftest import SF_SMOKE
from tests.test_plans import plan_of, read_schemas


def test_string_stats_closed_form(spark):
    # chars: a×3, b×1 → H = 0.75·log2(4/3) + 0.25·2 = 0.81127812…
    df = spark.createDataFrame([("aa",), ("ab",)], "s: string")
    row = query.string_stats(df, "s").collect()[0]
    assert (row.cnt, row.min_len, row.max_len) == (2, 2, 2)
    assert row.avg_len == 2.0
    assert row.entropy_nano == 311278124 + 500000000


def test_boxplot_closed_form(spark):
    # 1..8 + outlier 100: q1/q2/q3 land on exact ranks 2/4/6 → 3/5/7;
    # fences [-3, 13] exclude only the outlier
    rows = [(float(v),) for v in list(range(1, 9)) + [100]]
    df = spark.createDataFrame(rows, "v: double").withColumn("g", F.lit("a"))
    r = query.boxplot(df, "v", "g").collect()[0]
    assert (r.q1, r.q2, r.q3) == (3.0, 5.0, 7.0)
    assert (r.min_v, r.max_v) == (1.0, 100.0)
    assert (r.lo_whisker, r.hi_whisker) == (1.0, 8.0)


def test_t_test_welch_closed_form(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0),
         ("b", 2.0), ("b", 4.0), ("b", 6.0)], "g: string, v: double")
    r = query.t_test(df, "v", "g", "a", "b").collect()[0]
    assert (r.na, r.nb, r.mean_a, r.mean_b) == (3, 3, 2.0, 4.0)
    assert r.t_stat == -1.5492  # -2 / sqrt(5/3)
    assert r.df == 2.94         # Welch–Satterthwaite

def test_change_point_finds_the_mean_shift(spark):
    base = dt.datetime(2024, 1, 1)
    rows = [(base + dt.timedelta(days=i), v)
            for i, v in enumerate([10.0, 10.0, 10.0, 20.0, 20.0])]
    df = spark.createDataFrame(rows, "ts: timestamp, v: double")
    r = query.change_point(df, "ts", "v").collect()[0]
    assert (r.k, r.n) == (3, 5)
    assert (r.mean_left, r.mean_right, r.diff) == (10.0, 20.0, 10.0)


def test_frequent_item_sets_pair_support(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (1, "a"),   # dup row: distinct-ed
         (2, "a"), (2, "b"), (3, "a"), (3, "b")], "u: long, i: string")
    got = {(r.ia, r.ib): r.support
           for r in query.frequent_item_sets(df, "u", "i",
                                             min_support=2).collect()}
    assert got == {("a", "b"): 3}


def test_random_sampler_scales_counts_back(spark):
    df = spark.createDataFrame([(i, "t", 1.0) for i in range(1000)],
                               "k: long, f: string, v: double")
    r = query.random_sampler_agg(df, "k", 250_000, "f", "v").collect()[0]
    assert r.est_total == r.cnt * 4
    assert 150 < r.cnt < 350  # ~25% of 1000 under the portable hash


def test_rate_agg_normalizes_by_calendar_days(spark):
    rows = [(dt.datetime(2024, 1, 1), 7.0), (dt.datetime(2024, 1, 3), 7.0),
            (dt.datetime(2024, 1, 9), 14.0)]
    df = spark.createDataFrame(rows, "ts: timestamp, v: double")
    out = {r.ds: r for r in query.rate_agg(df, "ts", "v").collect()}
    wk1 = out[dt.date(2024, 1, 1)]
    assert (wk1.n_days, wk1.sum_per_day, wk1.docs_per_day) == (7, 2.0, 0.2857)


def test_ppl_gate_head_band_keeps_everything(spark):
    from kafana_spark.operators.registry import (
        EXTENSION_QUERIES, PPL_HEAD_MAX)
    from kafana_spark.operators import text
    from kafana_spark.sources.tables import load_table

    kept = EXTENSION_QUERIES["x110_ppl_gate"](spark, SF_SMOKE).collect()
    assert {r.band for r in kept} <= {"head", "middle", "tail"}
    lm = text.unigram_logprob(load_table(spark, SF_SMOKE, "documents"))
    n_head = lm.where(F.col("avg_u") < PPL_HEAD_MAX).count()
    assert sum(1 for r in kept if r.band == "head") == n_head


# ------------------------------------------------------------ plan shapes

def test_x100_string_stats_prunes_to_the_field(spark):
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x100_string_stats"](spark, SF_SMOKE))
    schemas = " ".join(read_schemas(plan))
    assert "event_type" in schemas
    assert "props" not in schemas and "value" not in schemas
    assert "CartesianProduct" not in plan


def test_x101_boxplot_fences_join_is_broadcast(spark):
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x101_boxplot"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan          # fence table → fact scan
    assert "CartesianProduct" not in plan
    schemas = " ".join(read_schemas(plan))
    assert "l_comment" not in schemas and "l_orderkey" not in schemas


def test_x106_pair_join_is_per_basket_equi(spark):
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(
        EXTENSION_QUERIES["x106_frequent_item_sets"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan       # join keyed on basket
    schemas = " ".join(read_schemas(plan))
    assert "props" not in schemas and "ts" not in schemas


def test_x108_change_point_prunes_and_reduces_first(spark):
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x108_change_point"](spark, SF_SMOKE))
    schemas = " ".join(read_schemas(plan))
    assert "ts" in schemas and "value" in schemas
    assert "props" not in schemas and "user_id" not in schemas
    # the window runs over the daily-bucket frame, AFTER the hash agg
    # (formatted explain prints root-first: the Window node is an
    # ancestor of the aggregate feeding it)
    assert plan.index("Window") < plan.index("HashAggregate")


def test_x110_ppl_gate_joins_on_hashes_broadcasts_total(spark):
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x110_ppl_gate"](spark, SF_SMOKE))
    assert "BroadcastExchange" in plan          # 1-row corpus total
    assert "CartesianProduct" not in plan


# --------------------------------------------- parent/child + novelty

def test_has_child_counts_and_bounds(spark):
    parent = spark.createDataFrame([(1, "p1"), (2, "p2"), (3, "p3")],
                                   "k: long, name: string")
    child = spark.createDataFrame(
        [(1, 5.0), (1, 6.0), (2, 5.0), (3, 1.0)], "k: long, v: double")
    got = {r.k: r.n_matched for r in query.has_child(
        parent, child, "k", F.col("v") >= 5.0, min_children=1).collect()}
    assert got == {1: 2, 2: 1}
    got2 = {r.k for r in query.has_child(
        parent, child, "k", F.col("v") >= 5.0, min_children=1,
        max_children=1).collect()}
    assert got2 == {2}


def test_has_parent_keeps_child_payload_only(spark):
    parent = spark.createDataFrame([(1, "a"), (2, "b")],
                                   "k: long, tag: string")
    child = spark.createDataFrame([(1, 10.0), (2, 20.0), (2, 30.0)],
                                  "k: long, v: double")
    out = query.has_parent(child, parent, "k", F.col("tag") == "b")
    assert out.columns == ["k", "v"]
    assert sorted(r.v for r in out.collect()) == [20.0, 30.0]


def test_novelty_first_doc_owns_its_grams(spark):
    from kafana_spark.operators import text as t
    df = spark.createDataFrame([(0, "a b c d"), (1, "a b c e")],
                               "doc_id: long, text: string")
    got = {r.doc_id: (r.n_grams, r.n_novel, r.novelty_bp)
           for r in t.novelty(df).collect()}
    assert got[0] == (2, 2, 10000)   # "a b c", "b c d" both first here
    assert got[1] == (2, 1, 5000)    # shares "a b c" with doc 0


def test_x111_child_rows_reduce_before_the_parent_join(spark):
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x111_has_child"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    schemas = " ".join(read_schemas(plan))
    # lineitem contributes only its key + predicate column
    assert "l_quantity" in schemas
    assert "l_extendedprice" not in schemas and "l_shipdate" not in schemas
    # the count aggregate is a descendant of the parent join
    assert "HashAggregate" in plan


def test_x112_has_parent_plans_a_semi_join(spark):
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x112_has_parent"](spark, SF_SMOKE))
    assert "LeftSemi" in plan
    schemas = " ".join(read_schemas(plan))
    assert "o_totalprice" not in schemas   # parent payload never read


def test_x113_novelty_joins_on_hashes(spark):
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x113_novelty"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "conv(substring(md5" in plan.replace(", ", ",") or "conv" in plan


def test_rank_eval_closed_form(spark):
    from kafana_spark.operators.relevance import rank_eval
    df = spark.createDataFrame(
        [(0, "q q q q"), (1, "q q x x"), (2, "x y z w")],
        "doc_id: long, text: string")
    r = {row.term: row for row in
         rank_eval(df, ["q"], k=2, rel_min_tf=3).collect()}["q"]
    # d0 (tf=4) outranks d1 (tf=2); only d0 is judged relevant
    assert r.n_rel == 1
    assert r.p_at_k_bp == 5000          # 1 of 2
    assert r.mrr_u == 1_000_000         # first relevant at rank 1
    assert r.dcg_u == r.idcg_u == 1_000_000
    assert r.ndcg_bp == 10000


def test_x114_rank_eval_matched_pairs_only_shuffle(spark):
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x114_rank_eval"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan   # terms + stats + df tables


def test_zipf_fit_slope_sign_and_count(spark):
    from kafana_spark.operators.text import zipf_fit
    # 3 tokens with strictly decreasing frequency → negative slope
    rows = [("a a a a a a b b b c",)] * 2
    df = spark.createDataFrame(rows, "text: string")
    r = zipf_fit(df, k=3).collect()[0]
    assert r.n_terms == 3
    assert r.slope_u < 0
    assert r.intercept_u > 0          # ln of the head frequency


def test_moving_percentile_trailing_window(spark):
    rows = [(dt.datetime(2024, 1, d), float(v))
            for d, v in [(1, 10), (2, 20), (3, 30)]]
    df = spark.createDataFrame(rows, "ts: timestamp, v: double")
    out = {r.ds: r.p_u for r in
           query.moving_percentile(df, "ts", "v", q=0.5,
                                   window=2).collect()}
    assert out[dt.date(2024, 1, 1)] == 10_000_000.0
    assert out[dt.date(2024, 1, 2)] == 15_000_000.0   # median(10, 20)
    assert out[dt.date(2024, 1, 3)] == 25_000_000.0   # median(20, 30)


def test_pinned_query_list_order_then_organic(spark):
    from kafana_spark.operators.relevance import pinned_query
    df = spark.createDataFrame(
        [(0, "q q q"), (1, "q q x"), (2, "q x y"), (3, "x y z")],
        "doc_id: long, text: string")
    out = pinned_query(df, ["q"], [3, 2], k=4).collect()
    assert [(r.rank, r.doc_id, r.pinned) for r in out] == [
        (1, 3, 1),    # pinned first, list order — even with no match
        (2, 2, 1),
        (3, 0, 0),    # organic BM25: highest tf first
        (4, 1, 0)]
    assert out[0].score_u == 0        # doc 3 has no 'q'


def test_x115_vocab_is_takeordered_not_global_sort(spark):
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x115_zipf_fit"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_x116_window_runs_over_the_bucket_frame(spark):
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(
        EXTENSION_QUERIES["x116_moving_percentile"](spark, SF_SMOKE))
    assert plan.index("Window") < plan.index("HashAggregate")
    schemas = " ".join(read_schemas(plan))
    assert "props" not in schemas and "user_id" not in schemas


def test_x117_pinned_never_perturbs_the_corpus_plan(spark):
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x117_pinned_query"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_match_phrase_counts_exact_adjacency(spark):
    from kafana_spark.operators.relevance import match_phrase
    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "b a x"), (2, "a x b")],
        "doc_id: long, text: string")
    got = {r.doc_id: r.n_occurrences
           for r in match_phrase(df, ["a", "b"]).collect()}
    assert got == {0: 2}            # "a b" twice; reversed/split don't count


def test_span_near_in_order_within_slop(spark):
    from kafana_spark.operators.relevance import span_near
    df = spark.createDataFrame(
        [(0, "x y z x"),     # y..x at distance 2 → within slop 2
         (1, "x w w w y"),   # no x AFTER the y → no in-order pair
         (2, "y x")],        # adjacent in order → matches
        "doc_id: long, text: string")
    got = {r.doc_id: r.n_pairs
           for r in span_near(df, "y", "x", 2).collect()}
    assert got == {0: 1, 2: 1}


def test_temperature_mixture_flattens_shares(spark):
    from kafana_spark.operators.sample import temperature_mixture
    rows = ([(i, "big") for i in range(900)]
            + [(900 + i, "small") for i in range(100)])
    df = spark.createDataFrame(rows, "doc_id: long, lang: string")
    kept = temperature_mixture(df, alpha=0.5, budget=200).collect()
    by = {}
    for r in kept:
        by[r.lang] = by.get(r.lang, 0) + 1
    # alpha=0.5 targets 3:1 (sqrt(900):sqrt(100)), not the natural 9:1
    assert by["small"] > 100 * (200 / 1000)   # upsampled vs natural share
    assert by["big"] / by["small"] < 5        # far below 9:1


def test_x118_phrase_filter_is_map_only(spark):
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x118_match_phrase"](spark, SF_SMOKE))
    assert "Join" not in plan and "CartesianProduct" not in plan
    schemas = " ".join(read_schemas(plan))
    assert "lang" not in schemas and "source" not in schemas


def test_x119_span_pairs_filter_terms_before_joining(spark):
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x119_span_near"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan


def test_x120_rate_table_is_broadcast(spark):
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(
        EXTENSION_QUERIES["x120_temperature_mixture"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_terms_set_minimum_should_match(spark):
    from kafana_spark.operators.relevance import terms_set
    df = spark.createDataFrame(
        [(0, "a b c"), (1, "a a a b"), (2, "a x y")],
        "doc_id: long, text: string")
    got = {r.doc_id: r.n_matched
           for r in terms_set(df, ["a", "b", "c"], 2).collect()}
    assert got == {0: 3, 1: 2}       # tf repetition doesn't inflate n


def test_dis_max_prefers_one_strong_clause(spark):
    from kafana_spark.operators.relevance import dis_max
    # equal idf (each term in 2 docs): doc 0's strong clause (tf=4)
    # must beat doc 1's two weak clauses under pure-max combine
    df = spark.createDataFrame(
        [(0, "a a a a x"), (1, "a b x x x"), (2, "b x x x x"),
         (3, "x y z w v")],
        "doc_id: long, text: string")
    out = {r.doc_id: r for r in
           dis_max(df, ["a", "b"], k=10, tie_breaker=0.0).collect()}
    assert 3 not in out
    # pure max (tie=0): the single-strong-clause doc must win
    assert out[0].score_u > out[1].score_u


def test_boosting_demotes_but_keeps_negative_matches(spark):
    from kafana_spark.operators.relevance import boosting
    df = spark.createDataFrame(
        [(0, "a a a x"), (1, "a a a bad"), (2, "x y z w")],
        "doc_id: long, text: string")
    out = {r.doc_id: r for r in
           boosting(df, ["a"], "bad", k=10).collect()}
    assert 2 not in out                       # no positive match
    assert out[1].demoted == 1 and out[0].demoted == 0
    # identical positive score, halved by the demotion (dl equal)
    assert out[1].score_u == out[0].score_u // 2


def test_dedup_eval_lsh_verify_means_no_false_positives(spark):
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    r = EXTENSION_QUERIES["x124_dedup_eval"](spark, SF_SMOKE).collect()[0]
    # the exact-Jaccard verify step makes FP structurally impossible;
    # the only loss channel is banding misses
    assert r.fp == 0
    if r.tp + r.fp > 0:
        assert r.precision_bp == 10000
    assert 0 <= r.recall_bp <= 10000


def test_ann_recall_report_bounds_and_keys(spark):
    from kafana_spark.operators.registry import (
        ANN_QUERY_MOD, EXTENSION_QUERIES)

    rows = EXTENSION_QUERIES["x125_ann_recall"](spark, SF_SMOKE).collect()
    assert rows and all(r.qid % ANN_QUERY_MOD == 0 for r in rows)
    assert all(0 <= r.recall_bp <= 10000 for r in rows)
    assert all(r.recall_bp == r.n_overlap * 1000 for r in rows)  # k=10


def test_corpus_report_internally_consistent(spark):
    from kafana_spark.operators.registry import EXTENSION_QUERIES
    from kafana_spark.sources.tables import load_table

    r = EXTENSION_QUERIES["x126_corpus_report"](spark, SF_SMOKE).collect()[0]
    d = load_table(spark, SF_SMOKE, "documents")
    assert r.n_docs == d.count()
    assert r.avg_tokens_per_doc == r.n_tokens_total // r.n_docs
    assert 0 <= r.exact_dup_bp <= 10000
    assert r.q25_quality_bp <= r.q50_quality_bp <= r.q75_quality_bp
    assert 10000 // r.n_langs <= r.top_lang_share_bp <= 10000


def test_x126_report_joins_are_all_broadcast(spark):
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x126_corpus_report"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan        # nothing corpus-sized joins


def test_pinned_query_honors_k_and_filters_before_broadcast(spark):
    from kafana_spark.operators.relevance import pinned_query
    df = spark.createDataFrame(
        [(i, "q x" if i % 2 else "x y") for i in range(8)],
        "doc_id: long, text: string")
    out = pinned_query(df, ["q"], [6, 4, 2, 0, 7], k=3).collect()
    assert len(out) == 3                       # pinned list truncated to k
    assert [r.doc_id for r in out] == [6, 4, 2]
    plan = plan_of(pinned_query(df, ["q"], [6, 4], k=3))
    # the broadcast side must be the pinned-filtered frame: the full
    # score table never appears unfiltered under a BroadcastExchange
    assert "CartesianProduct" not in plan


def test_explain_sums_to_the_ranking_score(spark):
    from kafana_spark.operators.relevance import bm25_scores, explain_score
    df = spark.createDataFrame(
        [(0, "a a b x"), (1, "a x y z"), (2, "x y z w")],
        "doc_id: long, text: string")
    terms_df = spark.createDataFrame([("a",), ("b",)], "term: string")
    score = {r.doc_id: r.score_u
             for r in bm25_scores(df, terms_df).collect()}
    parts = explain_score(df, ["a", "b"], 0).collect()
    assert {p.term for p in parts} == {"a", "b"}
    assert sum(p.c_u for p in parts) == score[0]   # breakdown == score


def test_completion_suggest_prefix_and_rank(spark):
    from kafana_spark.operators.relevance import completion_suggest
    df = spark.createDataFrame(
        [("sort sort stream apple",), ("sort stream x",)], "text: string")
    out = [(r.word, r.cnt) for r in
           completion_suggest(df, "s", size=5).collect()]
    assert out == [("sort", 3), ("stream", 2)]


def test_phrase_suggest_corrects_the_misspelled_token(spark):
    from kafana_spark.operators.relevance import phrase_suggest
    # corpus where "b c d" is the dominant bigram path; query
    # misspells the middle token
    rows = [("b c d b c d b c",), ("b c d x",), ("c e b",)]
    df = spark.createDataFrame(rows, "text: string")
    out = phrase_suggest(df, ["b", "cc", "d"], per_term=3,
                         topn=3).collect()
    assert out[0].suggestion == "b c d"       # the LM-preferred fix
    assert out[0].total_dist == 1             # one edit (cc → c)
    assert out[0].rank == 1
    assert all(out[i].cost_u <= out[i + 1].cost_u
               for i in range(len(out) - 1))


def test_x129_combination_space_is_bounded(spark):
    from kafana_spark.operators.registry import (
        EXTENSION_QUERIES, PHRASE_INPUT)
    from kafana_spark.operators.relevance import (
        _symspell_candidates, PHRASE_PER_TERM, PHRASE_TOPN)
    from kafana_spark.sources.tables import load_table

    rows = EXTENSION_QUERIES["x129_phrase_suggest"](spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= PHRASE_TOPN
    assert rows[0].suggestion == "spark slow merge"
    # the combination space is bounded BY CONSTRUCTION: the per-position
    # candidate frame is capped at per_term rows per position (this is
    # what keeps combos at per_term^W, not vocab^W)
    d = load_table(spark, SF_SMOKE, "documents")
    qdf = spark.createDataFrame(list(enumerate(PHRASE_INPUT)),
                                "pos int, q string")
    cand = _symspell_candidates(d, qdf, ["pos"], PHRASE_PER_TERM)
    per_pos = {r.pos: r.n for r in
               cand.groupBy("pos").agg(F.count("*").alias("n")).collect()}
    assert all(n <= PHRASE_PER_TERM for n in per_pos.values())


def test_term_vectors_stats_and_positions(spark):
    from kafana_spark.operators.relevance import term_vectors
    df = spark.createDataFrame(
        [(0, "a b a"), (1, "a c")], "doc_id: long, text: string")
    got = {r.term: r for r in term_vectors(df, 0).collect()}
    assert got["a"].tf == 2 and got["a"].positions == "0,2"
    assert got["a"].df == 2 and got["a"].ttf == 3
    assert got["b"].tf == 1 and got["b"].df == 1
    assert "c" not in got


def test_cumulative_cardinality_counts_first_seen_only(spark):
    rows = [(dt.datetime(2024, 1, 1), 1), (dt.datetime(2024, 1, 1), 2),
            (dt.datetime(2024, 1, 2), 1),  # returning — not new
            (dt.datetime(2024, 1, 2), 3)]
    df = spark.createDataFrame(rows, "ts: timestamp, u: long")
    out = {r.ds: (r.n_new, r.cum_distinct) for r in
           query.cumulative_cardinality(df, "ts", "u").collect()}
    assert out[dt.date(2024, 1, 1)] == (2, 2)
    assert out[dt.date(2024, 1, 2)] == (1, 3)


def test_normalize_agg_percent_and_rescale(spark):
    rows = [(dt.datetime(2024, 1, 1), 10.0), (dt.datetime(2024, 1, 2), 30.0)]
    df = spark.createDataFrame(rows, "ts: timestamp, v: double")
    out = {r.ds: r for r in query.normalize_agg(df, "ts", "v").collect()}
    assert out[dt.date(2024, 1, 1)].pct_of_sum == 25.0
    assert out[dt.date(2024, 1, 1)].rescaled == 0.0
    assert out[dt.date(2024, 1, 2)].rescaled == 100.0


def test_x132_shuffles_one_row_per_key_not_per_event(spark):
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(
        EXTENSION_QUERIES["x132_cumulative_cardinality"](spark, SF_SMOKE))
    # first-seen reduction: the per-key MIN aggregate is the only
    # corpus-shuffle; the cumulative window sits above the per-day agg
    assert plan.index("Window") < plan.index("HashAggregate")
    schemas = " ".join(read_schemas(plan))
    assert "props" not in schemas and "value" not in schemas


def test_stored_percolator_roundtrip_append_and_stream(spark, tmp_path):
    from kafana_spark.operators.relevance import (
        append_percolator_alerts, build_percolator_index, percolate,
        percolate_from_store, register_percolator_queries)
    from kafana_spark.store import read_table
    from kafana_spark.streaming.pipeline import batch_sink, stream_batch_id
    from tests.conftest import live_batches
    df = spark.createDataFrame(
        [(0, "a b c"), (1, "a b"), (2, "x y")],
        "doc_id: long, text: string")
    qs = {"q1": ["a", "b"], "q2": ["x"]}
    root = str(tmp_path / "perc")
    build_percolator_index(spark, qs, root)
    stored = {r.query_id: (r.n_hits, r.first_id)
              for r in percolate_from_store(df, root).collect()}
    inline = {r.query_id: (r.n_hits, r.first_id)
              for r in percolate(df, qs).collect()}
    assert stored == inline == {"q1": (2, 0), "q2": (1, 2)}
    # incremental registration: the new alert appears, old ones stay
    register_percolator_queries(spark, {"q3": ["c"]}, root, batch="1")
    got = {r.query_id: r.n_hits
           for r in percolate_from_store(df, root).collect()}
    assert got == {"q1": 2, "q2": 1, "q3": 1}
    # alert sink: per-batch digests, redelivery overwrites its batch
    out, ckpt = str(tmp_path / "alerts"), str(tmp_path / "ckpt")
    sink = batch_sink(ckpt, append_percolator_alerts, root, out)
    sink(df, 0)
    sink(df, 0)    # redelivery
    assert live_batches(out) == [stream_batch_id(ckpt, 0)]
    digests = {r.query_id: r.n_hits
               for r in read_table(spark, out).collect()}
    assert digests == {"q1": 2, "q2": 1, "q3": 1}


def test_graph_explore_lift_prefers_cooccurrence(spark):
    # 'b' always co-occurs with seed 'a'; 'c' appears everywhere
    df = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c"), (2, "c d"), (3, "c d")],
        "doc_id: long, text: string")
    out = {r.term: r for r in
           query.graph_explore(df, "a", min_fg=2, k=10).collect()}
    assert out["b"].lift_bp == 20000      # fg 2/2 vs bg 2/4 → 2× lift
    assert out["c"].lift_bp == 10000      # no lift (background rate)
    assert all(r.seed == "a" for r in out.values())


def test_graph_explore_absent_seed_is_empty(spark):
    # a seed term nowhere in the corpus must return an EMPTY frame
    # (never NULL-lift rows), even with min_fg=0; same for the
    # multi-hop variant
    df = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c")],
        "doc_id: long, text: string")
    assert query.graph_explore(df, "zz", min_fg=0, k=10).count() == 0
    assert query.graph_explore_hops(df, "zz", min_fg=0).count() == 0


def test_field_caps_bounds_and_nulls(spark):
    df = spark.createDataFrame(
        [(1, 2.0, dt.datetime(2024, 1, 1)),
         (5, None, dt.datetime(2024, 1, 2))],
        "k: long, v: double, ts: timestamp")
    got = {r.field: r for r in
           query.field_caps(df, ["k", "v"], ["ts"]).collect()}
    assert (got["k"].min_v, got["k"].max_v) == (1.0, 5.0)
    assert got["v"].n_nulls == 1 and got["v"].min_v == 2.0
    assert got["ts"].dtype == "timestamp"
    assert got["ts"].max_v - got["ts"].min_v == 86_400_000_000.0  # 1 day µs


def test_percolator_reregistration_replaces_definition(spark, tmp_path):
    from kafana_spark.operators.relevance import (
        build_percolator_index, percolate_from_store,
        register_percolator_queries)
    df = spark.createDataFrame(
        [(0, "a b c"), (1, "a b"), (2, "c d")],
        "doc_id: long, text: string")
    root = str(tmp_path / "perc2")
    build_percolator_index(spark, {"q1": ["a", "b"]}, root)
    # redefine q1 (latest registration must WIN, not accumulate terms)
    register_percolator_queries(spark, {"q1": ["c"]}, root, batch="1")
    got = {r.query_id: (r.n_hits, r.first_id)
           for r in percolate_from_store(df, root).collect()}
    assert got == {"q1": (2, 0)}     # docs 0 and 2 contain 'c'
    # identical re-registration stays idempotent too
    register_percolator_queries(spark, {"q1": ["c"]}, root, batch="2")
    got2 = {r.query_id: r.n_hits
            for r in percolate_from_store(df, root).collect()}
    assert got2 == {"q1": 2}


def test_phrase_suggest_rejects_single_word(spark):
    import pytest as _pytest
    from kafana_spark.operators.relevance import phrase_suggest
    df = spark.createDataFrame([("a b",)], "text: string")
    with _pytest.raises(ValueError):
        phrase_suggest(df, ["slwo"])


def test_phrase_suggest_matches_python_reference_incl_backoff(spark):
    """r12 bounded-collect rewrite pin: every suggestion's cost_u
    equals the Stupid-Backoff formula replayed in plain Python —
    including UNSEEN candidate pairs (the backoff branch), which the
    happy-path test never exercises."""
    import itertools
    import math

    from kafana_spark.operators.relevance import (
        PHRASE_EDIT_PENALTY_U, phrase_suggest)

    # "b c" is a seen bigram; "e d"/"b d"/"e c" never co-occur, so
    # half the combination space takes the backoff branch
    rows = [("b c a",), ("b c b",), ("e a d",), ("c d e",)]
    df = spark.createDataFrame(rows, "text: string")
    out = phrase_suggest(df, ["bb", "cc"], per_term=2, topn=10).collect()
    assert out, "expected candidates within edit distance 2"

    toks = [t for r, in rows for t in r.split()]
    c1 = {w: toks.count(w) for w in set(toks)}
    bigrams = [f"{a} {b}" for r, in rows
               for a, b in zip(r.split(), r.split()[1:])]
    c2 = {g: bigrams.count(g) for g in set(bigrams)}
    n1, nv = len(toks), len(c1)

    def lev(a, b):
        d = {(i, 0): i for i in range(len(a) + 1)}
        d.update({(0, j): j for j in range(len(b) + 1)})
        for i in range(1, len(a) + 1):
            for j in range(1, len(b) + 1):
                d[i, j] = min(d[i - 1, j] + 1, d[i, j - 1] + 1,
                              d[i - 1, j - 1] + (a[i - 1] != b[j - 1]))
        return d[len(a), len(b)]

    def pos_cands(q, per_term):
        scored = sorted((lev(q, w), -c1[w], w) for w in c1
                        if lev(q, w) <= 2)[:per_term]
        return [(w, d) for d, _, w in scored]

    expect = {}
    for (wa, da), (wb, db) in itertools.product(
            pos_cands("bb", 2), pos_cands("cc", 2)):
        g = f"{wa} {wb}"
        if g in c2:
            cost = math.log(c1[wa]) - math.log(c2[g])
        else:
            cost = (math.log(n1 + nv) - math.log(c1.get(wb, 0) + 1)
                    - math.log(0.4))
        expect[f"{wa} {wb}"] = (da + db, round(cost * 10000.0)
                                + PHRASE_EDIT_PENALTY_U * (da + db))
    got = {r.suggestion: (r.total_dist, r.cost_u) for r in out}
    assert got == {s: v for s, v in expect.items() if s in got}
    assert len(got) == len(expect)
    # seen-path suggestions must outrank backoff-path ones here
    assert out[0].suggestion in c2


def test_normalize_constant_series_has_no_nan(spark):
    rows = [(dt.datetime(2024, 1, 1), 5.0), (dt.datetime(2024, 1, 2), 5.0)]
    df = spark.createDataFrame(rows, "ts: timestamp, v: double")
    out = query.normalize_agg(df, "ts", "v").collect()
    assert all(r.rescaled == 0.0 for r in out)
    assert all(r.pct_of_sum == 50.0 for r in out)


def test_rank_eval_divides_by_retrieved_and_keeps_no_hit_terms(spark):
    # ES parity (r6): P@k denominator is the retrieved count, and a
    # query with zero hits reports zeroed metrics instead of vanishing
    from kafana_spark.operators.relevance import rank_eval
    df = spark.createDataFrame(
        [(0, "a a a"), (1, "a a b"), (2, "b c")],
        "doc_id: long, text: string")
    got = {r.term: r for r in
           rank_eval(df, ["a", "zzz"], k=10, rel_min_tf=2).collect()}
    assert set(got) == {"a", "zzz"}
    # 'a' retrieves 2 docs, both relevant → 2/2, not 2/k
    assert got["a"].p_at_k_bp == 10000
    z = got["zzz"]
    assert (z.n_rel, z.p_at_k_bp, z.mrr_u, z.dcg_u, z.idcg_u,
            z.ndcg_bp) == (0, 0, 0, 0, 0, 0)


def test_percolator_incremental_batch_zero_replaces_base(spark, tmp_path):
    # r6: batch="0" maps to seq 1 (> base's 0) — without the offset the
    # max-seq latest-wins filter would keep BOTH definitions
    from kafana_spark.operators.relevance import (
        build_percolator_index, percolate_from_store,
        register_percolator_queries)
    df = spark.createDataFrame(
        [(0, "a b c"), (1, "a b"), (2, "c d")],
        "doc_id: long, text: string")
    root = str(tmp_path / "perc3")
    build_percolator_index(spark, {"q1": ["a", "b"]}, root)
    register_percolator_queries(spark, {"q1": ["c"]}, root, batch="0")
    got = {r.query_id: (r.n_hits, r.first_id)
           for r in percolate_from_store(df, root).collect()}
    assert got == {"q1": (2, 0)}      # docs 0 and 2 contain 'c'


def test_percolator_rejects_negative_batch(spark, tmp_path):
    import pytest as _pytest
    from kafana_spark.operators.relevance import (
        build_percolator_index, register_percolator_queries)
    root = str(tmp_path / "perc4")
    build_percolator_index(spark, {"q1": ["a"]}, root)
    with _pytest.raises(ValueError):
        register_percolator_queries(spark, {"q1": ["b"]}, root,
                                    batch="-2")


def test_phrase_suggest_rejects_overlong_phrase(spark):
    # the combination frame is per_term^W — W > 6 must fail loudly
    import pytest as _pytest
    from kafana_spark.operators.relevance import phrase_suggest
    df = spark.createDataFrame([("a b",)], "text: string")
    with _pytest.raises(ValueError):
        phrase_suggest(df, ["w"] * 7)


def test_lsh_planes_limits_anchor_pool_before_window(spark):
    # r6 plan pin: the anchor pool is TakeOrdered down to
    # 2·n_tables·n_bits rows BEFORE the row_number window — no corpus
    # fraction ever flows through a single-partition window
    from kafana_spark.operators import similarity
    e = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    plan = plan_of(similarity.lsh_planes(e, 6, 4, 10))
    assert "TakeOrderedAndProject" in plan
    import re
    assert re.search(r"TakeOrderedAndProject[\s\S]*?Arguments: 48,", plan)
    # and the limit feeds the window, not the other way around
    tree = plan.split("(1)")[0]
    assert tree.index("Window") < tree.index("TakeOrderedAndProject")


def test_graph_explore_tokenizes_corpus_once(spark):
    # r6 plan pin: both consumers of the per-term stats frame read one
    # cached materialization — the corpus text column is tokenized once
    import re
    from kafana_spark.operators.registry import x_graph_explore
    plan = plan_of(x_graph_explore(spark, SF_SMOKE))
    # both stats consumers read the cache...
    assert len(re.findall(r"\(\d+\) InMemoryTableScan", plan)) == 2
    # ...and only ONE plan node scans the text column (the cached
    # tokenize pass); the only other parquet read is the column-pruned
    # count-star (ReadSchema: struct<>)
    schemas = read_schemas(plan)
    assert sum("text" in s for s in schemas) == 1


def test_bpe_merge_train_applies_top_merge_each_round(spark):
    from kafana_spark.operators.text import bpe_merge_train
    df = spark.createDataFrame([("a b a b c",), ("a b c",)],
                               "text: string")
    got = [(r.rnd, r.rk, r.pair, r.cnt)
           for r in bpe_merge_train(df, n_merges=3, topk=2).collect()]
    assert got == [
        (1, 1, "a b", 3), (1, 2, "b c", 2),      # merge a+b
        (2, 1, "a_b c", 2), (2, 2, "a_b a_b", 1),  # merge a_b+c
        (3, 1, "a_b a_b_c", 1),
    ]


def test_bpe_merge_is_greedy_left_to_right(spark):
    # 'b b b' merges as (b_b) b, not b (b_b) — matching BPE convention
    from kafana_spark.operators.text import bpe_merge_train
    df = spark.createDataFrame([("b b b",)], "text: string")
    got = [(r.rnd, r.pair, r.cnt)
           for r in bpe_merge_train(df, n_merges=2, topk=1).collect()]
    assert got == [(1, "b b", 2), (2, "b_b b", 1)]


def test_bpe_merge_empty_when_no_pairs(spark):
    from kafana_spark.operators.text import bpe_merge_train
    df = spark.createDataFrame([("a",), ("b",)], "text: string")
    out = bpe_merge_train(df, n_merges=2)
    assert out.collect() == []
    assert [f.name for f in out.schema] == ["rnd", "rk", "pair", "cnt"]


def test_graph_hops_expands_frontier_and_excludes_seen(spark):
    df = spark.createDataFrame(
        [(0, "s x p"), (1, "s x q"), (2, "x p"), (3, "y")],
        "doc_id: long, text: string")
    got = [(r.hop, r.src, r.term, r.fg, r.bg, r.lift_bp, r.rk)
           for r in query.graph_explore_hops(
               df, "s", min_fg=1, k1=1, k2=10).collect()]
    # hop 1: q has the top lift (1e4·(1/2)/(1/4) = 20000)
    # hop 2 from q: only x survives (q itself and seed s excluded)
    assert got == [
        (1, "s", "q", 1, 1, 20000, 1),
        (2, "q", "x", 1, 3, 13333, 1),
    ]


def test_graph_hops_frontier_joins_are_broadcast(spark):
    # r6 plan pin: the corpus never shuffles on doc id — the frontier
    # arrives as one broadcast array row, frontier exclusion is a
    # broadcast anti-join, and no sort-merge join touches the corpus
    from kafana_spark.operators.registry import x_graph_explore_hops
    plan = plan_of(x_graph_explore_hops(spark, SF_SMOKE))
    assert "BroadcastHashJoin LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_bpe_encode_compresses_with_learned_merges(spark):
    # merges learned on this corpus: a+b, a_b+c, a_b+a_b_c (see the
    # train test) — both docs collapse to ONE symbol after 3 merges
    from kafana_spark.operators.text import bpe_encode
    df = spark.createDataFrame([(0, "a b a b c"), (1, "a b c")],
                               "doc_id: long, text: string")
    got = [(r.doc_id, r.n_tokens, r.n_symbols, r.ratio_bp)
           for r in bpe_encode(df, n_merges=3).collect()]
    assert got == [(0, 5, 1, 2000), (1, 3, 1, 3333)]


def test_hybrid_rrf_fuses_integer_contributions(spark):
    from kafana_spark.operators.relevance import hybrid_rrf
    docs = spark.createDataFrame(
        [(1, "q a"), (2, "q q b"), (3, "c")],
        "doc_id: long, text: string")
    embs = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [1.0, 0.0], 0),
         (2, [0.0, 1.0], 1), (3, [6.0, 8.0], 1)],
        "vec_id: long, embedding: array<float>, label: int")
    got = [(r.doc_id, r.lex_rank, r.vec_rank, r.rrf_u, r.rank)
           for r in hybrid_rrf(docs, embs, ["q"], qvec_id=0,
                               k=10, pool=10).collect()]
    # lex: doc2 (tf 2) > doc1 (tf 1); vec (self excluded): 1, 3, 2
    # contributions: 1e6 div (60 + rank); absent list -> 0
    assert got == [
        (1, 2, 1, 1_000_000 // 62 + 1_000_000 // 61, 1),
        (2, 1, 3, 1_000_000 // 61 + 1_000_000 // 63, 2),
        (3, 0, 2, 1_000_000 // 62, 3),
    ]


def test_semantic_decontaminate_flags_cross_set_only(spark):
    from kafana_spark.operators.dedup import semantic_decontaminate
    # corpus vec 1 ~ bench vec 0 (same direction); corpus 2 and 40 are
    # orthogonal to the benchmark; 40 doubles as the (only) centroid
    mk = lambda *rows: spark.createDataFrame(  # noqa: E731
        list(rows), "vec_id: long, embedding: array<float>, label: int")
    corpus = mk((1, [1.0, 0.0], 0), (2, [0.0, 1.0], 0),
                (40, [0.7, 0.7], 0))
    bench = mk((0, [0.9, 0.1], 1))
    got = [(r.vec_id, r.n_bench_hits, r.max_cos)
           for r in semantic_decontaminate(
               corpus, bench, threshold=0.9, centroid_mod=40,
               n_assign=1).collect()]
    # cos(1, 0) = 0.9/sqrt(0.82) = 0.9939; corpus 2 at 0.1104 and the
    # centroid at 0.7809 stay below 0.9; corpus-corpus pairs never
    # surface (cross-set join by construction)
    assert got == [(1, 1, 0.9939)]


def test_nb_quality_classifier_learns_class_tokens(spark):
    from kafana_spark.operators.text import nb_quality_classifier
    # train split (doc_id % 2 == 0): doc 0 is long/diverse (high
    # quality), doc 2 is one repeated token (low). Held-out docs 1/3
    # mirror them — the classifier must separate them by token LLR.
    hi = " ".join(f"w{i}" for i in range(60)) + " the a of"
    lo = "zz " * 30
    df = spark.createDataFrame(
        [(0, hi), (2, lo.strip()), (1, hi), (3, lo.strip())],
        "doc_id: long, text: string")
    got = {r.doc_id: (r.nb_score_u, r.pred)
           for r in nb_quality_classifier(
               df, train_mod=2, vocab_k=100,
               quality_cut=4700).collect()}
    assert set(got) == {1, 3}
    assert got[1][0] > got[3][0]
    assert got[1][1] and not got[3][1]


def test_nb_eval_reports_perfect_split_when_tokens_separate(spark):
    from kafana_spark.operators import text as t
    # same frame as the classifier test: tokens fully determine class
    hi = " ".join(f"w{i}" for i in range(60)) + " the a of"
    lo = "zz " * 30
    df = spark.createDataFrame(
        [(0, hi), (2, lo.strip()), (1, hi), (3, lo.strip())],
        "doc_id: long, text: string")
    preds = t.nb_quality_classifier(df, train_mod=2, vocab_k=100,
                                    quality_cut=4700)
    truth = (t.quality_score(df)
             .where(F.col("doc_id") % 2 != 0)
             .select("doc_id",
                     (F.col("quality_bp") >= 4700).alias("yt")))
    j = preds.join(truth, "doc_id")
    r = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("pred") == F.col("yt"), 1).otherwise(0))
        .alias("correct")).collect()[0]
    assert (r.n, r.correct) == (2, 2)


def test_bpe_store_roundtrip_matches_direct_encode(spark, tmp_path):
    from kafana_spark.operators.text import (
        bpe_encode, bpe_encode_from_store, build_bpe_index)
    df = spark.createDataFrame(
        [(0, "a b a b c"), (1, "a b c"), (2, "x y")],
        "doc_id: long, text: string")
    root = str(tmp_path / "bpeidx")
    build_bpe_index(df, root, n_merges=3)
    direct = [tuple(r) for r in bpe_encode(df, n_merges=3).collect()]
    stored = [tuple(r) for r in bpe_encode_from_store(df, root).collect()]
    assert direct == stored
    # the store holds the ordered merge table itself
    from kafana_spark.store import read_table
    m = read_table(spark, root + "/bpe_merges")
    assert [r.pair for r in m.orderBy("rnd").collect()] \
        == ["a b", "a_b c", "a_b a_b_c"]


def test_hybrid_rrf_lsh_integer_contract_and_list_membership(spark):
    """x144: the fused score must equal the integer RRF recomputed
    from the row's own ranks, and every vec_rank must agree with the
    standalone LSH ranking (the fusion tail may not re-rank)."""
    from kafana_spark.operators import similarity
    from kafana_spark.operators.registry import (
        EXTENSION_QUERIES, RRF_POOL, RRF_QVEC, _embs)
    from kafana_spark.operators.relevance import RRF_FP, RRF_K0

    rows = EXTENSION_QUERIES["x144_hybrid_rrf_lsh"](
        spark, SF_SMOKE).collect()
    assert rows and len(rows) <= 10
    for r in rows:
        want = (RRF_FP // (RRF_K0 + r.lex_rank) if r.lex_rank else 0) \
            + (RRF_FP // (RRF_K0 + r.vec_rank) if r.vec_rank else 0)
        assert r.rrf_u == want
    e = _embs(spark, SF_SMOKE)
    q = (similarity._vectors(e)
         .where(F.col("vec_id") == RRF_QVEC)
         .select(F.col("vec_id").alias("qid"), "v"))
    lsh = {r.vec_id: r.rank
           for r in similarity.lsh_topk(e, q, k=RRF_POOL).collect()}
    for r in rows:
        if r.vec_rank:
            assert lsh[r.doc_id] == r.vec_rank


def test_kmeans_refine_closed_form_two_cells(spark):
    """Hand-computed 2-dim Lloyd walk: seeds 0/4, both cells keep
    their 3 members, centroids move to the rounded means, inertia
    drops 4.0e10 -> 26666666668 (exact integer-µunit arithmetic)."""
    from kafana_spark.operators.similarity import kmeans_refine
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [0.9, 1.0]),
         (3, [1.0, 0.9]), (4, [1.0, 1.0]), (5, [0.0, 0.1])],
        "vec_id: long, embedding: array<float>")
    got = [tuple(r) for r in kmeans_refine(
        df, centroid_mod=4, n_iters=2, dim=2).collect()]
    assert got == [(1, 2, 3, 40_000_000_000),
                   (2, 2, 3, 26_666_666_668)]


def test_kmeans_refine_inertia_monotone_on_corpus(spark):
    """The Lloyd invariant on real data: inertia never increases
    across the unrolled rounds (centroid rounding is <= 0.5 µunit per
    dimension — noise orders below the assignment distances)."""
    from kafana_spark.operators.registry import EXTENSION_QUERIES
    rows = EXTENSION_QUERIES["x145_kmeans_refine"](
        spark, SF_SMOKE).orderBy("it").collect()
    assert len(rows) == 3
    assert all(a.inertia_u >= b.inertia_u
               for a, b in zip(rows, rows[1:]))
    assert all(r.n_cells >= 2 for r in rows)


def test_nb_roc_perfect_separation_closed_form(spark):
    """Two held-out docs the classifier separates perfectly: AUC is
    10000 bp, the depth-5 bin holds the (1 ret, 1 rel) point and the
    depth-10 bin the full-retrieval point (f1 = 20000*1 div 3)."""
    from kafana_spark.operators.text import nb_roc
    hi = " ".join(f"w{i}" for i in range(60)) + " the a of"
    lo = "zz " * 30
    df = spark.createDataFrame(
        [(0, hi), (2, lo.strip()), (1, hi), (3, lo.strip())],
        "doc_id: long, text: string")
    got = [tuple(r) for r in nb_roc(
        df, train_mod=2, vocab_k=100, quality_cut=4700).collect()]
    assert got == [(5, 1, 1, 10000, 10000, 10000, 10000),
                   (10, 2, 1, 5000, 10000, 6666, 10000)]


def test_nb_roc_corpus_invariants(spark):
    """On real data: bins cumulate monotonically, every metric stays
    in [0, 10000] bp, the final bin retrieves the whole held-out
    split, and AUC is constant across rows."""
    from kafana_spark.operators.registry import (
        EXTENSION_QUERIES, NB_TRAIN_MOD, _docs)
    rows = EXTENSION_QUERIES["x146_nb_roc"](
        spark, SF_SMOKE).orderBy("dec").collect()
    assert rows and rows[-1].dec == 10
    held = (_docs(spark, SF_SMOKE)
            .where(F.col("doc_id") % NB_TRAIN_MOD != 0).count())
    assert rows[-1].n_ret == held
    assert all(a.n_ret < b.n_ret and a.tp <= b.tp
               for a, b in zip(rows, rows[1:]))
    assert len({r.auc_bp for r in rows}) == 1
    for r in rows:
        for v in (r.prec_bp, r.rec_bp, r.f1_bp, r.auc_bp):
            assert 0 <= v <= 10000


def test_knn_clusters_two_groups_closed_form(spark):
    """Two well-separated 2-dim groups, one IVF cell each: mutual
    k-NN keeps each group internal, CC labels each cluster by its min
    vec_id, csize counts members."""
    from kafana_spark.operators.dedup import knn_clusters
    rows = [(0, [1.0, 0.0]), (1, [0.99, 0.1]), (2, [0.98, 0.15]),
            (40, [0.0, 1.0]), (41, [0.1, 0.99]), (42, [0.15, 0.98])]
    df = spark.createDataFrame(rows,
                               "vec_id: long, embedding: array<float>")
    got = {r.vec_id: (r.cluster_id, r.csize)
           for r in knn_clusters(df, k=2, centroid_mod=40,
                                 n_probe=1).collect()}
    assert got == {0: (0, 3), 1: (0, 3), 2: (0, 3),
                   40: (40, 3), 41: (40, 3), 42: (40, 3)}


def test_knn_clusters_partition_the_corpus(spark):
    """Cluster labels must partition every vector: csize sums to n
    over distinct clusters, and each cluster_id is its own min
    member."""
    from kafana_spark.operators.registry import EXTENSION_QUERIES
    rows = EXTENSION_QUERIES["x151_knn_clusters"](
        spark, SF_SMOKE).collect()
    n = len(rows)
    by_c = {}
    for r in rows:
        by_c.setdefault(r.cluster_id, []).append(r)
    assert sum(len(v) for v in by_c.values()) == n
    for cid, members in by_c.items():
        assert min(m.vec_id for m in members) == cid
        assert all(m.csize == len(members) for m in members)


def test_cluster_sample_quota_is_ceil_sqrt(spark):
    """Every cluster keeps exactly min(csize, ceil(sqrt(csize)))
    members, ranks are 1..kept, and kept rows agree with x151's
    cluster partition."""
    import math
    from kafana_spark.operators.registry import EXTENSION_QUERIES
    cl = {r.vec_id: r.cluster_id
          for r in EXTENSION_QUERIES["x151_knn_clusters"](
              spark, SF_SMOKE).collect()}
    rows = EXTENSION_QUERIES["x152_cluster_sample"](
        spark, SF_SMOKE).collect()
    by_c = {}
    for r in rows:
        assert cl[r.vec_id] == r.cluster_id
        by_c.setdefault(r.cluster_id, []).append(r)
    sizes = {}
    for v, c in cl.items():
        sizes[c] = sizes.get(c, 0) + 1
    for cid, kept in by_c.items():
        want = math.ceil(math.sqrt(sizes[cid]))
        assert len(kept) == min(sizes[cid], want)
        assert sorted(r.rk for r in kept) == list(
            range(1, len(kept) + 1))
        assert all(r.csize == sizes[cid] for r in kept)
    # every cluster is represented
    assert set(by_c) == set(sizes)


def test_cluster_terms_distinctive_tokens_closed_form(spark):
    """Two density clusters; each cluster's private token doubles the
    lift of the shared one (10000*df_c*n_docs div (csize*df_all)),
    singleton tokens fall under the min_df floor."""
    from kafana_spark.operators.dedup import cluster_terms
    embs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.99, 0.1]), (2, [0.98, 0.15]),
         (40, [0.0, 1.0]), (41, [0.1, 0.99]), (42, [0.15, 0.98])],
        "vec_id: long, embedding: array<float>")
    docs = spark.createDataFrame(
        [(i, f"alpha common x{i}") for i in (0, 1, 2)]
        + [(i, f"beta common y{i}") for i in (40, 41, 42)],
        "doc_id: long, text: string")
    got = [(r.cluster_id, r.token, r.df_c, r.lift_bp, r.rank)
           for r in cluster_terms(embs, docs, k=2, centroid_mod=40,
                                  n_probe=1, top_clusters=2,
                                  terms_k=2, min_df=2).collect()]
    assert got == [(0, "alpha", 3, 20000, 1),
                   (0, "common", 3, 10000, 2),
                   (40, "beta", 3, 20000, 1),
                   (40, "common", 3, 10000, 2)]


def test_bpe_fertility_weighs_by_token_mass(spark):
    """fert_bp is the integer corpus ratio, not a mean of per-doc
    ratios: lang 'a' (one long doc that fully merges + one tiny doc)
    must aggregate 10000*(1+3) div (5+3)."""
    from kafana_spark.operators.text import bpe_fertility
    df = spark.createDataFrame(
        [(0, "a b a b c", "a"), (1, "a b c", "b"), (2, "x y z", "a")],
        "doc_id: long, text: string, lang: string")
    got = [tuple(r) for r in bpe_fertility(df, n_merges=3).collect()]
    # merges learned corpus-wide: a+b, a_b+c, a_b+a_b_c (train test)
    # lang a: doc0 5 toks -> 1 symbol, doc2 3 toks -> 3 symbols
    assert got == [("a", 2, 8, 4, 5000), ("b", 1, 3, 1, 3333)]


def test_length_histogram_bins_and_cumulative_share(spark):
    """Bins at div 20; cumulative token share reaches exactly 10000
    at the last bin."""
    from kafana_spark.operators.text import length_histogram
    mk = lambda n: " ".join(f"t{i}" for i in range(n))  # noqa: E731
    df = spark.createDataFrame(
        [(0, mk(5)), (1, mk(25)), (2, mk(30)), (3, mk(45))],
        "doc_id: long, text: string")
    got = [tuple(r) for r in length_histogram(df, bin_w=20).collect()]
    # bins: 0 (5 toks), 1 (25+30), 2 (45); total 105
    assert got == [(0, 0, 1, 5, 10000 * 5 // 105),
                   (1, 20, 2, 55, 10000 * 60 // 105),
                   (2, 40, 1, 45, 10000)]


def test_source_dup_matrix_counts_canonical_pairs(spark):
    """Matrix cells equal the independently recomputed per-(source,
    source) pair counts from x02's pair list, with canonical
    src_a <= src_b ordering."""
    from kafana_spark.operators.dedup import (
        minhash_near_dup, source_dup_matrix)
    from kafana_spark.operators.registry import (
        NEAR_DUP_THRESHOLD, _docs)
    d = _docs(spark, SF_SMOKE)
    src = {r.doc_id: r.source for r in d.select("doc_id", "source")
           .collect()}
    want = {}
    for r in minhash_near_dup(d, NEAR_DUP_THRESHOLD).collect():
        key = tuple(sorted((src[r.da], src[r.db])))
        want[key] = want.get(key, 0) + 1
    got = {(r.src_a, r.src_b): r.n_pairs
           for r in source_dup_matrix(d, NEAR_DUP_THRESHOLD).collect()}
    assert got == want and got


def test_lang_fair_gate_keeps_top_half_per_language(spark):
    """Each language independently keeps its upper percentile half;
    a singleton language sits at pct 0 (conservatively dropped at
    the 5000 cut); ties rank deterministically by doc_id."""
    from kafana_spark.operators.text import lang_fair_gate
    mk = lambda n: " ".join(f"w{i}" for i in range(n))  # noqa: E731
    df = spark.createDataFrame(
        [(0, mk(10), "a"), (1, mk(40), "a"), (2, mk(80), "a"),
         (3, mk(120), "a"), (4, mk(10), "b"), (5, mk(120), "b"),
         (6, mk(50), "c")],
        "doc_id: long, text: string, lang: string")
    got = {r.doc_id: (r.pct_bp, r.keep)
           for r in lang_fair_gate(df, keep_pct_bp=5000).collect()}
    # lang a: quality order 0<1<2<3 -> pct 0,3333,6666,10000
    assert [got[i][0] for i in range(4)] == [0, 3333, 6666, 10000]
    assert [got[i][1] for i in range(4)] == [False, False, True, True]
    # lang b: two docs -> 0 and 10000
    assert (got[4], got[5]) == ((0, False), (10000, True))
    # singleton lang c: pct 0, dropped at the 5000 cut
    assert got[6] == (0, False)


def test_lang_card_integer_datasheet_closed_form(spark):
    """Two languages with one exact duplicate in 'a': shares split
    the token mass, dup_bp catches the repeated text, uniq counts
    distinct tokens per lang."""
    from kafana_spark.operators.text import lang_corpus_card
    df = spark.createDataFrame(
        [(0, "x y z", "a"), (1, "x y z", "a"), (2, "p q", "b")],
        "doc_id: long, text: string, lang: string")
    got = {r.lang: (r.n_docs, r.toks, r.uniq_tokens, r.share_bp,
                    r.dup_bp)
           for r in lang_corpus_card(df).collect()}
    assert got["a"] == (2, 6, 3, 10000 * 6 // 8, 5000)
    assert got["b"] == (1, 2, 2, 10000 * 2 // 8, 0)


def test_skew_report_salt_recommendation(spark):
    """A key holding 3 partitions' worth of rows gets salts=3; a
    tiny key gets 1; shares are exact integer bp."""
    from kafana_spark.operators.skew import skew_report
    rows = [(i, "hot") for i in range(96)] + [(96, "cold")]
    df = spark.createDataFrame(rows, "id: long, k: string")
    got = {r.key: (r.n, r.share_bp, r.salts)
           for r in skew_report(df, "k", parts=32, top_k=10).collect()}
    assert got["hot"] == (96, 10000 * 96 // 97, (96 * 32 + 96) // 97)
    assert got["cold"] == (1, 10000 // 97, 1)
    assert got["hot"][2] == 32 * 96 // 97 + 1  # ~32 partitions' worth


def test_curation_v4_funnel_is_monotone(spark):
    """Each v4 stage can only shrink the kept set; the funnel ends
    non-empty and stage labels are the documented five."""
    from kafana_spark.operators.registry import EXTENSION_QUERIES
    rows = EXTENSION_QUERIES["x161_curation_v4"](
        spark, SF_SMOKE).collect()
    got = {r.stage: r.n_kept for r in rows}
    assert list(got) == ["s0_all", "s1_lang_fair", "s2_nb_filter",
                         "s3_exact_dedup", "s4_cluster_quota"]
    vals = list(got.values())
    assert all(a >= b for a, b in zip(vals, vals[1:]))
    assert vals[-1] >= 1


def test_curation_v5_funnel_is_monotone(spark):
    """Each v5 stage can only shrink the kept set; the Gopher and
    outlier stages actually bite on the smoke corpus; the funnel
    ends non-empty with the documented seven labels."""
    from kafana_spark.operators.registry import EXTENSION_QUERIES
    rows = EXTENSION_QUERIES["x168_curation_v5"](
        spark, SF_SMOKE).collect()
    got = {r.stage: r.n_kept for r in rows}
    assert list(got) == ["s0_all", "s1_gopher", "s2_lang_fair",
                         "s3_nb_filter", "s4_exact_dedup",
                         "s5_outlier_drop", "s6_cluster_quota"]
    vals = list(got.values())
    assert all(a >= b for a, b in zip(vals, vals[1:]))
    assert got["s1_gopher"] < got["s0_all"]
    assert got["s5_outlier_drop"] < got["s4_exact_dedup"]
    assert vals[-1] >= 1


def test_rejection_report_partitions_corpus(spark):
    """The 2x2x2 cross-tab partitions the corpus; shares are valid
    bp; every gate is non-constant on the smoke corpus (both True
    and False appear in its margin)."""
    from kafana_spark.operators.registry import EXTENSION_QUERIES
    from kafana_spark.sources.tables import load_table

    rows = EXTENSION_QUERIES["x169_rejection_report"](
        spark, SF_SMOKE).collect()
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert sum(r.n for r in rows) == n_docs
    for g in ("g_gopher", "g_fair", "g_nb"):
        vals = {getattr(r, g) for r in rows}
        assert vals == {True, False}
    for r in rows:
        assert r.share_bp == 10000 * r.n // n_docs


def test_source_gate_matrix_rates_are_weighted_means(spark):
    """Per-source rates reconcile with the x169 cross-tab totals:
    sum over sources of n_docs equals the corpus, and each rate is a
    valid bp with at least one source below 10000 for each gate."""
    from kafana_spark.operators.registry import EXTENSION_QUERIES
    from kafana_spark.sources.tables import load_table

    rows = EXTENSION_QUERIES["x170_source_gate_matrix"](
        spark, SF_SMOKE).collect()
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    for g in ("gopher_bp", "fair_bp", "nb_bp"):
        vals = [getattr(r, g) for r in rows]
        assert all(0 <= v <= 10000 for v in vals)
        assert min(vals) < 10000  # the gate bites somewhere


def test_dup_quality_bands_partition_and_reconcile(spark):
    """Bands partition the corpus; group counts reconcile with the
    docs count (band '1' has n_docs == n_groups, band '2' has
    n_docs == 2·n_groups); the banding is non-degenerate."""
    from kafana_spark.operators.registry import EXTENSION_QUERIES
    from kafana_spark.sources.tables import load_table

    rows = {r.csize_band: r for r in EXTENSION_QUERIES[
        "x171_dup_quality"](spark, SF_SMOKE).collect()}
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert sum(r.n_docs for r in rows.values()) == n_docs
    assert len(rows) >= 2
    if "1" in rows:
        assert rows["1"].n_docs == rows["1"].n_groups
    if "2" in rows:
        assert rows["2"].n_docs == 2 * rows["2"].n_groups


def test_curation_impact_shares_reconcile(spark):
    """Before-counts cover the corpus; after-counts equal the v5
    funnel's final stage; deltas are exactly share_after −
    share_before and sum to ~0 (integer-division slack < n_langs)."""
    from kafana_spark.operators.registry import EXTENSION_QUERIES
    from kafana_spark.sources.tables import load_table

    rows = EXTENSION_QUERIES["x176_curation_impact"](
        spark, SF_SMOKE).collect()
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert sum(r.n_before for r in rows) == n_docs
    funnel = {r.stage: r.n_kept for r in EXTENSION_QUERIES[
        "x168_curation_v5"](spark, SF_SMOKE).collect()}
    assert sum(r.n_after for r in rows) == funnel["s6_cluster_quota"]
    for r in rows:
        assert r.delta_bp == r.share_after_bp - r.share_before_bp
    assert abs(sum(r.delta_bp for r in rows)) < len(rows)
