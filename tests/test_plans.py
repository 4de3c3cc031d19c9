"""Physical-plan quality gates — the 100 TB design checks.

Correctness tests prove the operators compute the right answer at small
scale; these tests pin the *physical plans* that make them viable at
1000-executor scale: broadcast joins for small dims (no shuffle of the
fact table's join key), predicate pushdown into the parquet scan
(row-group skipping), column pruning (no full-width reads), and no
accidental cartesian products. A regression here is invisible to the
oracle checks but catastrophic at scale — so it fails CI instead.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from kafana_spark.plans import declared
from tests.conftest import SF_SMOKE, aggregating_requests


def plan_of(df) -> str:
    """Formatted explain output (full scan metadata — the plain plan
    string truncates PushedFilters/ReadSchema)."""
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def pushed_filters(plan: str) -> str:
    return " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", plan))


def read_schemas(plan: str) -> list[str]:
    return re.findall(r"ReadSchema: ([^\n]*)", plan)


# ------------------------------------------------------------ join strategy

def test_q14_broadcasts_all_dims(spark):
    """lineitem is the only big side; orders/customer/nation must arrive
    broadcast so the fact table is never shuffled for the join."""
    plan = plan_of(declared.q14_revenue(spark, SF_SMOKE))
    assert len(re.findall(r"BroadcastHashJoin Inner", plan)) == 3
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q13_broadcasts_nation(spark):
    plan = plan_of(declared.q13_join(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q16_theta_join_is_equi_hash_not_nested_loop(spark):
    """The range predicate must ride as a residual condition on the
    partkey equi-join — a BroadcastNestedLoopJoin here would be O(n*m)
    at scale."""
    plan = plan_of(declared.q16_theta_join(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) \
        or ("ShuffledHashJoin" in plan)


def test_q15_uses_semi_anti_joins(spark):
    plan = plan_of(declared.q15_semi_anti(spark, SF_SMOKE))
    assert "LeftSemi" in plan and "LeftAnti" in plan


# --------------------------------------------------------------- pushdown

def test_q01_time_bounds_reach_parquet_scan(spark):
    """ts is stored as TIMESTAMP(NANOS); the derived timestamp column is
    opaque to pushdown, so ts_bounds adds the sargable raw-long twin.
    Without it this is a full scan of the events table."""
    plan = plan_of(declared.q1_discover(spark, SF_SMOKE))
    pf = pushed_filters(plan)
    assert "GreaterThanOrEqual(ts," in pf and "LessThan(ts," in pf


def test_q04_filters_pushed(spark):
    plan = plan_of(declared.q4_field_range(spark, SF_SMOKE))
    pf = pushed_filters(plan)
    assert "GreaterThan(l_quantity,45" in pf
    assert "EqualTo(l_returnflag,R)" in pf


def test_q02_key_filter_pushed(spark):
    pf = pushed_filters(plan_of(declared.q2_key_lookup(spark, SF_SMOKE)))
    assert "EqualTo(user_id,13)" in pf


# ---------------------------------------------------------- column pruning

def test_q14_scans_only_needed_columns(spark):
    """A scan reading all 16 lineitem columns for a 3-column need is the
    classic 100 TB mistake; ReadSchema must be pruned."""
    plan = plan_of(declared.q14_revenue(spark, SF_SMOKE))
    li_schemas = [s for s in read_schemas(plan) if "l_orderkey" in s]
    assert li_schemas, plan
    for s in li_schemas:
        assert "l_comment" not in s and "l_shipdate" not in s
        assert set(re.findall(r"l_\w+", s)) == {
            "l_orderkey", "l_extendedprice", "l_discount"}


def test_q01_scans_only_needed_columns(spark):
    plan = plan_of(declared.q1_discover(spark, SF_SMOKE))
    schemas = read_schemas(plan)
    assert schemas and all("props" not in s and "value" not in s
                           for s in schemas)


# ------------------------------------------------- store partition pruning

def _two_topic_store(spark, path):
    """The same 100 events under topics ``foo`` and ``bar``, compacted:
    a cold tier of a few small ``topic=/ds=`` files."""
    from kafana_spark.ingest import enrich, events_as_kafka_records
    from kafana_spark.sources.tables import load_table
    from kafana_spark.store import compact, write_store

    recs = events_as_kafka_records(
        load_table(spark, SF_SMOKE, "events").limit(100))
    for t in ("foo", "bar"):
        write_store(enrich(recs.withColumn("topic", F.lit(t))), path)
    compact(spark, path)


def test_store_prunes_topic_partitions(spark, tmp_path, monkeypatch):
    """topic is a partition column of the compacted store (= per-topic
    ES index); a single-topic query must prune at the metadata level,
    visible as a PartitionFilters entry. That is the plan of a store
    whose cold tier exceeds the serving cache's budget (0 here); below
    it the cached tier prunes its in-memory batches on the same
    predicate, to the same answer."""
    from kafana_spark import store as store_mod
    from kafana_spark.store import read_store

    _two_topic_store(spark, str(tmp_path / "store"))

    def foo():
        return (read_store(spark, str(tmp_path / "store"))
                .where(F.col("topic") == "foo"))

    with monkeypatch.context() as mp:
        mp.setattr(store_mod, "SERVE_CACHE_BYTES", 0)
        scanned = foo()
        plan = plan_of(scanned)
        scan_ids = sorted(r._id for r in scanned.select("_id").collect())
    m = re.search(r"PartitionFilters: \[[^\]]*topic[^\]]*\]", plan)
    assert m, plan

    cached = foo()
    plan = plan_of(cached)
    m = re.search(r"\(\d+\) InMemoryTableScan\n(?:.*\n)*?Arguments: (.*)",
                  plan)
    assert m and re.search(r"\(topic#\d+ = foo\)", m.group(1)), plan
    assert "PartitionFilters" not in plan, plan
    assert sorted(r._id for r in cached.select("_id").collect()) == scan_ids
    assert len(scan_ids) == 100


def test_small_served_tier_plans_no_exchange(spark, tmp_path):
    """A cold tier within ``spark.sql.files.openCostInBytes`` is cached
    as one partition, so a group-by, a global sort and a window over it
    read the in-memory relation with no Exchange. Under a 1-byte open
    cost the same files (copied to a store path the cache has not seen)
    are a larger tier: its cached scan keeps several partitions, the
    requests plan their Exchange, and the answers are the same."""
    import shutil

    from kafana_spark.store import read_store

    store, wide = str(tmp_path / "store"), str(tmp_path / "wide")
    _two_topic_store(spark, store)
    shutil.copytree(store, wide)
    served = aggregating_requests(read_store(spark, store))
    for kind, df in served.items():
        plan = plan_of(df)
        assert "InMemoryTableScan" in plan, (kind, plan)
        assert "Exchange" not in plan, (kind, plan)

    conf = "spark.sql.files.openCostInBytes"
    cost = spark.conf.get(conf)
    spark.conf.set(conf, "1b")
    try:
        scanned = aggregating_requests(read_store(spark, wide))
    finally:
        spark.conf.set(conf, cost)
    for kind, df in scanned.items():
        plan = plan_of(df)
        assert "InMemoryTableScan" in plan, (kind, plan)
        assert "Exchange" in plan, (kind, plan)
        assert sorted(df.collect(), key=str) \
            == sorted(served[kind].collect(), key=str), kind


def _jobs_and_tasks(spark, group: str, action) -> tuple[int, int]:
    """The jobs and tasks ``action()`` runs, read from the status
    tracker through job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    return len(jobs), sum(tracker.getStageInfo(s).numTasks for j in jobs
                          for s in tracker.getJobInfo(j).stageIds)


def test_small_served_tier_runs_one_task_per_request(spark, tmp_path):
    """Over a one-partition cold tier a request is one job of one task,
    read through the status tracker as perfbench counts it: no shuffle
    map stage, no range-partition sampling job for the global sort."""
    from kafana_spark.store import read_store

    store = str(tmp_path / "store")
    _two_topic_store(spark, store)
    read_store(spark, store).count()    # fills the serving cache

    for kind in ("date_histogram", "latest_state"):
        def request():
            return aggregating_requests(read_store(spark, store))[kind] \
                .collect()
        got = _jobs_and_tasks(spark, f"{kind}-{tmp_path.name}", request)
        assert got == (1, 1), kind


def _redelivered_store(spark, path):
    from kafana_spark.ingest import enrich, events_as_kafka_records
    from kafana_spark.sources.tables import load_table
    from kafana_spark.store import write_store

    docs = enrich(events_as_kafka_records(
        load_table(spark, SF_SMOKE, "events").limit(100)))
    for _ in range(2):      # every record delivered twice
        write_store(docs, path)


def test_compacted_store_reads_without_dedup_shuffle(spark, tmp_path):
    """compact leaves one row per _id and its log entry says so, so a
    deduplicating read of the compacted store is a bare file scan."""
    from kafana_spark.store import compact, read_store

    store = str(tmp_path / "store")
    _redelivered_store(spark, store)
    assert "Exchange" in plan_of(read_store(spark, store))

    compact(spark, store)

    plan = plan_of(read_store(spark, store))
    assert "Exchange" not in plan, plan
    assert "Aggregate" not in plan, plan


def test_compacted_store_reads_as_one_scan(spark, tmp_path):
    """A compacted snapshot has no hot files, so read_store plans one
    FileScan and no Union, as before the hot tier; a batch appended
    after the compact adds the hot tier's scan under a Union."""
    from kafana_spark.ingest import enrich, events_as_kafka_records
    from kafana_spark.sources.tables import load_table
    from kafana_spark.store import compact, read_store, write_store

    store = str(tmp_path / "store")
    _redelivered_store(spark, store)
    compact(spark, store)

    plan = plan_of(read_store(spark, store))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Union" not in plan, plan

    write_store(enrich(events_as_kafka_records(
        load_table(spark, SF_SMOKE, "events").limit(10))), store)
    plan = plan_of(read_store(spark, store, dedup=False))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan
    assert "Union" in plan, plan


def test_compact_dedups_inside_its_one_shuffle(spark, tmp_path,
                                               monkeypatch):
    """compact's dedup on (topic, ds, _id) is satisfied by the
    repartition on (topic, ds): the write plans exactly one Exchange."""
    import kafana_spark.store as store_mod

    store = str(tmp_path / "store")
    _redelivered_store(spark, store)
    written, writer = [], store_mod._writer
    monkeypatch.setattr(store_mod, "_writer",
                        lambda df, *a: written.append(df) or writer(df, *a))

    store_mod.compact(spark, store)

    (df,) = written
    plan = plan_of(df)
    assert "Aggregate" in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


# ----------------------------------------------------- whole-stage codegen

def test_q09_metrics_is_codegen_hash_agg(spark):
    """Metric aggs must stay JVM-side: HashAggregate inside a codegen'd
    stage, no Python evals in the hot path. Codegen ids only appear in
    the final adaptive plan, so execute first."""
    df = declared.q9_metrics(spark, SF_SMOKE)
    df.collect()
    plan = plan_of(df)
    assert "HashAggregate" in plan
    assert "codegen id" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ----------------------------------------------------- predicate exactness

def test_ts_bounds_subsecond_upper_bound_keeps_fractional_rows(spark):
    """The sargable ts_ns twin must not be stricter than the exact
    timestamp predicate: a sub-second upper bound t1 must keep rows in
    [floor(t1), t1) (regression: int(timestamp()) truncation)."""
    from kafana_spark.sources.tables import ts_bounds

    rows = [
        ("2024-01-05 00:00:00.200",),   # inside [t0, t1)
        ("2024-01-05 00:00:00.499",),   # inside, fractional < t1
        ("2024-01-05 00:00:00.500",),   # == t1, excluded
        ("2024-01-04 23:59:59.900",),   # before t0
    ]
    df = (spark.createDataFrame(rows, ["s"])
          .withColumn("ts", F.col("s").cast("timestamp"))
          .withColumn("ts_ns", F.unix_micros("ts") * F.lit(1000)))
    got = sorted(r.s for r in df.where(
        ts_bounds("2024-01-05 00:00:00", "2024-01-05 00:00:00.5"))
        .collect())
    assert got == ["2024-01-05 00:00:00.200", "2024-01-05 00:00:00.499"]


def test_salted_join_rejects_outer_howtypes(spark):
    import pytest

    from kafana_spark.operators.skew import salted_join

    df = spark.range(5).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="inner"):
        salted_join(df, df, ["k"], "k", how="full")


def test_extracted_json_key_pushes_down_to_store_scan(spark, tmp_path):
    """Hot JSON keys materialized at ingest (enrich extract_json) must
    reach the parquet scan as PushedFilters — the get_json_object
    equivalent is opaque to pushdown and parses every row."""
    from kafana_spark.ingest import enrich, events_as_kafka_records
    from kafana_spark.sources.tables import load_table
    from kafana_spark.store import read_store, write_store

    ev = load_table(spark, SF_SMOKE, "events").limit(200)
    recs = events_as_kafka_records(ev)
    docs = enrich(recs, extract_json={"props_k": ("props", "$.k", "int")})
    write_store(docs, str(tmp_path / "store"))

    stored = read_store(spark, str(tmp_path / "store"), dedup=False)
    df = stored.where(F.col("props_k") > 80).select("_id", "props_k")
    plan = plan_of(df)
    assert re.search(r"PushedFilters: \[[^\]]*props_k[^\]]*\]", plan), plan

    # extracted values match the on-the-fly parse
    onfly = stored.select(
        "_id",
        F.get_json_object(F.col("message.props"), "$.k").cast("int")
        .alias("k"))
    got = {r._id: r.props_k for r in stored.select("_id", "props_k").collect()}
    want = {r._id: r.k for r in onfly.collect()}
    assert got == want


def test_x31_decontaminate_broadcasts_benchmark_shingles(spark):
    """The benchmark side must arrive broadcast — the corpus shingle
    index is the 100 TB side and may never shuffle for this probe."""
    from kafana_spark.operators.registry import x_decontaminate

    plan = plan_of(x_decontaminate(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_x34_mixture_rebalance_broadcasts_rate_table(spark):
    """Rates (|strata| rows) broadcast; the corpus is scanned once and
    only filtered — no shuffle of the sampled frame."""
    from kafana_spark.operators.registry import x_mixture_rebalance

    plan = plan_of(x_mixture_rebalance(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    # the corpus side contributes no exchange beyond the final orderBy
    # + the tiny rate aggregation; a SortMergeJoin would mean the
    # corpus shuffled on lang
    assert "SortMergeJoin" not in plan


def test_x32_repetition_aggs_are_partial(spark):
    """Both n-gram aggregations must be hash aggs with map-side partial
    combine (explode output collapses before the exchange)."""
    from kafana_spark.operators.registry import x_repetition

    plan = plan_of(x_repetition(spark, SF_SMOKE))
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_x40_window_runs_over_bucket_frame(spark):
    """Pipeline aggs: the (unpartitioned) window must consume the
    AGGREGATED bucket frame, not raw rows — the aggregate sits below
    the window in the plan."""
    from kafana_spark.operators.registry import x_pipeline_aggs

    plan = plan_of(x_pipeline_aggs(spark, SF_SMOKE))
    # formatted explain numbers nodes bottom-up: a smaller id is deeper
    # in the tree, so the aggregate must carry a smaller id than the
    # window that consumes its buckets
    agg_ids = [int(m) for m in re.findall(r"\((\d+)\) HashAggregate", plan)]
    win_ids = [int(m) for m in re.findall(r"\((\d+)\) Window", plan)]
    assert agg_ids and win_ids, plan[:1500]
    assert min(agg_ids) < min(win_ids), plan[:2000]


def test_x42_range_agg_is_single_scan(spark):
    """Range agg: one parquet scan, no join — bucket labels are a CASE
    projection."""
    from kafana_spark.operators.registry import x_range_agg

    plan = plan_of(x_range_agg(spark, SF_SMOKE))
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1, plan[:1500]
    assert "Join" not in plan, plan[:1500]


def test_x55_oov_vocab_join_is_broadcast(spark):
    """OOV scoring: the top-k vocabulary must broadcast — the exploded
    token stream never shuffles on token."""
    from kafana_spark.operators import text as t
    from kafana_spark.sources.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    plan = plan_of(t.oov_rate(d, vocab_k=25))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan
    assert "BroadcastHashJoin" in plan, plan[:1500]


def test_x51_gapfill_spine_joins_after_aggregation(spark):
    """Gap-fill: the spine joins the AGGREGATED bucket frame (join
    above the aggregate in the plan), so raw rows never re-shuffle."""
    from kafana_spark.operators.registry import x_gapfill_histogram

    plan = plan_of(x_gapfill_histogram(spark, SF_SMOKE))
    assert "Join" in plan
    # every scan feeding the join is below a HashAggregate already
    first_join = plan.index("Join")
    assert "HashAggregate" in plan[first_join:] or \
        plan[:first_join].count("HashAggregate") >= 1, plan[:2000]


# ------------------------------------------------ round-4 operator plans

def test_x62_sampler_is_take_ordered_not_full_sort(spark):
    """The sampler's top-N must be a TakeOrdered (per-partition heaps +
    bounded merge), never a global Sort — at 100 TB the full sort IS
    the job."""
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x62_sampler_agg"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_x60_global_agg_single_scan(spark):
    """global agg = one scan with conditional aggregates — never two
    scans + self-join for the filtered/global contexts."""
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x60_global_agg"](spark, SF_SMOKE))
    # formatted explain repeats each node in the details section —
    # count numbered tree nodes only
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan


def test_pq_encode_broadcasts_codebooks_and_shuffles_codes_only(spark):
    """PQ encoding: codebooks broadcast (never shuffled against the
    corpus), and the argmin is a partial-aggregated groupBy — the
    exchange carries code rows, not the corpus×ksub expansion."""
    from kafana_spark.operators import similarity
    from kafana_spark.sources.tables import load_table

    e = load_table(spark, SF_SMOKE, "embeddings")
    cb = similarity.pq_codebooks(e, dim=64, m_total=16, ksub=32,
                                 train_mod=3)
    codes = similarity.pq_encode(e, cb, 16, 4)
    plan = plan_of(codes)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_min" in plan          # map-side combine of the argmin


def test_pq_refine_broadcasts_candidates_not_corpus(spark):
    """The refine stage broadcasts the fixed-size candidate list against
    ONE corpus scan; the corpus itself must never be the broadcast or
    shuffle side of that join."""
    from kafana_spark.operators import similarity
    from kafana_spark.sources.tables import load_table

    e = load_table(spark, SF_SMOKE, "embeddings")
    q = similarity.modulo_queries(e, 100)
    plan = plan_of(similarity.pq_topk_refined(e, q, k=10, pool=100,
                                              m_total=16, ksub=32,
                                              train_mod=3))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_x64_chunk_windows_is_map_only_before_sort(spark):
    """Chunking is a map-only explode: no aggregate, no join; the only
    exchange allowed is the final output-determinism sort."""
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(
        EXTENSION_QUERIES["x64_chunk_windows"](spark, SF_SMOKE))
    assert "Join" not in plan and "HashAggregate" not in plan
    # one numbered Exchange node: rangepartitioning for the orderBy
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1


def test_x68_block_pair_join_is_cell_local(spark):
    """The SemDeDup default's pair fan-out must stay cell-local AND
    pack-once (the r10 shape, commit 7ea1c74): the pre-r10 self-join
    of the packed frame re-ran the whole scan+pack pipeline for the
    second join side (PythonUDF stages never canonicalize equal, so
    ReusedExchange cannot dedup them) and let the planner broadcast
    the packed corpus — matrix BYTES — as a build side. Pins:
    exactly one _pack run and one _pair_kern run; the only join is a
    broadcast EQUI join on the cell id whose build side is the tiny
    per-cell block list (never the packed matrices); pair tasks come
    from the pair-key explode, so the pair space is the sum of
    per-cell squares, not the corpus square."""
    from kafana_spark.operators import dedup
    from kafana_spark.sources.tables import load_table

    e = load_table(spark, SF_SMOKE, "embeddings")
    plan = plan_of(dedup.embedding_near_dup_bucketed(e, 0.45))
    assert "CartesianProduct" not in plan
    # pack-once: one _pack node, one _pair_kern node, nothing else
    assert len(re.findall(r"_pack\(", plan)) == 1
    assert len(re.findall(r"_pair_kern\(", plan)) == 1
    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas", plan)) == 2
    # the pair join: broadcast equi on cell, both sides
    assert re.search(r"Left keys \[1\]: \[cell#", plan)
    assert re.search(r"Right keys \[1\]: \[cell#", plan)
    # no broadcast may carry the packed matrix bytes
    for node in re.split(r"\n\n", plan):
        if re.match(r"\(\d+\) BroadcastExchange", node.strip()):
            assert "mat#" not in node, node


def test_stored_serve_plans_stay_materialized(spark, tmp_path):
    """The stored/incremental near-dup serves must NOT re-embed their
    candidate subplan per jaccard_verify reference: pre-fix the lazy
    pair frame was referenced from four places, blowing the plans to
    44 / 126 parquet scans (bucket join paid ~4x, wall varying 17-128
    s run-to-run at the sf10 index). The eager localCheckpoint of the
    LSH-pruned edge list pins them to a handful of scans; this test
    fails if someone drops the materialization."""
    from kafana_spark import dedup_index
    from kafana_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    root = str(tmp_path / "ndidx")
    dedup_index.build_dedup_index(docs.where("doc_id % 2 = 0"), root)
    plan = plan_of(dedup_index.near_dup_from_index(spark, root, 0.5))
    assert len(re.findall(r"Scan parquet", plan)) <= 12, plan
    plan = plan_of(dedup_index.incremental_from_index(
        docs.where("doc_id % 2 = 1"), root, 0.5))
    assert len(re.findall(r"Scan parquet", plan)) <= 28, plan


def test_x69_exact_substr_shuffles_hashes_not_text(spark):
    """The gram index must hash at explode time: no exchange may carry
    the gram STRING — only 8-byte hashes, ids and positions."""
    from kafana_spark.operators import dedup
    from kafana_spark.sources.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    plan = plan_of(dedup.exact_substr_spans(d))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "g#" not in m.group(1)      # gram string never a shuffle key


def test_x79_snm_adjacency_is_equi_join(spark):
    """SNM's rank-adjacency must be the offset-explode EQUI join —
    a range/nested-loop join here is O(n²) per bucket at scale."""
    from kafana_spark.operators import dedup
    from kafana_spark.sources.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    plan = plan_of(dedup.sorted_neighborhood_dup(d, 0.5))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_x80_weighted_sample_is_take_ordered(spark):
    """orderBy().limit() must plan as TakeOrderedAndProject — a full
    global sort before the limit is the complete-mode anti-pattern."""
    from kafana_spark.operators import sample
    from kafana_spark.operators.text import quality_score
    from kafana_spark.sources.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    q = quality_score(d).select("doc_id", "quality_bp")
    plan = plan_of(sample.weighted_sample(q, "quality_bp", 100))
    assert "TakeOrderedAndProject" in plan


def test_x81_lsh_bucket_join_is_equi_on_table_and_code(spark):
    """The LSH candidate join must be an EQUI join keyed on
    (t, code) — per-query work O(L * bucket), never O(N). The only
    nested-loop joins allowed are the broadcast plane expansions
    (24-row build side, same shape as x08's centroid broadcast)."""
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x81_ann_lsh"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert re.search(r"keys \[2\]: \[t#\d+, code#\d+L\]", plan)
    # exactly the two tiny plane broadcasts may be nested-loop
    assert len(re.findall(r"BroadcastNestedLoopJoin", plan)) <= 4


def test_x85_bucket_sort_is_take_ordered_after_partial_agg(spark):
    """bucket_sort must plan as TakeOrdered over the aggregated bucket
    frame (never a full sort), and the bucket aggregation itself must
    have a map-side partial before its exchange."""
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x85_bucket_pipeline"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert re.search(r"HashAggregate .*partial_count|partial_sum", plan) \
        or "partial" in plan


def test_x86_matrix_stats_is_one_scan(spark):
    """All pairwise moments must come from ONE lineitem scan (map-side
    partial moments, 1-row combine) — a per-pair rescan is the O(k²)
    mistake matrix_stats exists to avoid."""
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x86_matrix_stats"](spark, SF_SMOKE))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_x87_diversified_sampler_has_no_global_sort_of_raw_rows(spark):
    """Both stages must be bounded: the per-user cap plans as a
    rank-limit window (never materializing per-user full sorts beyond
    the window shuffle) and the sample is TakeOrdered — a global Sort
    node over the raw events frame is the scale mistake."""
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(
        EXTENSION_QUERIES["x87_diversified_sampler"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "WindowGroupLimit" in plan or "RunningWindowFunction" in plan


def test_x88_bm25_query_side_tables_are_broadcast(spark):
    """BM25's per-term stats (df) and corpus stats (N, avgdl) must
    join the matched-tf frame as broadcasts — the only corpus-sized
    shuffle is the (doc, term) tf aggregation itself."""
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x88_bm25_topk"](spark, SF_SMOKE))
    assert plan.count("BroadcastExchange") >= 3  # terms, dfreq, stats
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_x92_suggester_never_cross_joins_vocab(spark):
    """The SymSpell deletion join must be an equi-join on the variant
    string with the (tiny) query side broadcast — never vocab × query
    cartesian."""
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x92_term_suggest"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert re.search(r"BroadcastHashJoin \[v#?\d*", plan) or \
        "BroadcastHashJoin" in plan


def test_x93_auto_hist_interval_choice_stays_in_plan(spark):
    """auto_date_histogram picks the interval via a broadcast 1-row
    join — no collect round-trip; the events scan prunes to ts only."""
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    df = EXTENSION_QUERIES["x93_auto_date_histogram"](spark, SF_SMOKE)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    schemas = " ".join(read_schemas(plan))
    assert "props" not in schemas and "event_id" not in schemas


def test_x94_dsir_bucket_tables_are_broadcast(spark):
    """Both DSIR distributions are ≤ n_buckets rows; the corpus-side
    feature stream must join them broadcast — the per-doc sum is the
    only corpus shuffle."""
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x94_dsir_weights"](spark, SF_SMOKE))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_x96_bigram_count_joins_are_on_hashes_not_grams(spark):
    """The bigram/unigram count joins must key on the 8-byte portable
    hash (conv(md5)) — gram STRINGS never become shuffle keys."""
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x96_bigram_logprob"](spark, SF_SMOKE))
    assert "conv(substring(md5" in plan.replace(", ", ",") or \
        "conv" in plan
    assert "CartesianProduct" not in plan


def test_x97_mmr_corpus_is_not_shuffled_for_candidates(spark):
    """Stage 1's candidate scan must broadcast the query side against
    the corpus (x07's shape); the pandas MMR kernel only ever groups
    the tiny candidate/pair frame."""
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x97_mmr_rerank"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan  # queries x corpus, pruned
    assert "FlatMapGroupsInPandas" in plan or "ArrowEvalPython" in plan
    assert "CartesianProduct" not in plan


def test_x144_hybrid_lsh_candidates_are_equi_join(spark):
    """x144's vector leg must keep x81's plan shape: candidates from
    an equi-join keyed on (t, code), never a corpus cross join; the
    fusion tail joins two bounded rank lists."""
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x144_hybrid_rrf_lsh"](
        spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert re.search(r"keys \[2\]: \[t#\d+, code#\d+L\]", plan)


def test_x145_kmeans_assign_is_map_only_kernel(spark):
    """The Lloyd assignment (r9) is one exact-int64 Arrow kernel:
    every vector stays on its partition — NO join of any kind, NO
    aggregate, NO exchange anywhere on the assign leg (the pre-r9
    shape broadcast-joined the corpus×centroids expansion and paid a
    groupBy-argmin exchange)."""
    from kafana_spark.operators import similarity
    from kafana_spark.operators.registry import _embs, KM_MOD, EMB_DIM

    e = _embs(spark, SF_SMOKE)
    corpus = similarity._km_corpus(e, EMB_DIM)
    cents = (corpus.where(F.col("vec_id") % KM_MOD == 0)
             .select(F.col("vec_id").alias("cid"),
                     F.col("vu").alias("cu")))
    plan = plan_of(similarity._km_assign(corpus, cents, EMB_DIM))
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange" not in plan
    assert "Aggregate" not in plan


def test_x149_knn_member_join_is_equi_on_cell(spark):
    """x149's candidate meeting must stay keyed on cell id even with
    the whole corpus as queries — the n² pair frame must never
    appear. r9 shape: probes and members cogroup on cid into the
    per-cell top-k kernel (two cid exchanges feeding
    FlatMapCoGroupsInPandas), the rank window rides the PRUNED frame
    (WindowGroupLimit before its exchange), and no join node of any
    kind exists in the plan."""
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x149_knn_graph"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    assert "FlatMapCoGroupsInPandas" in plan
    # both cogroup inputs exchange on the cell id
    assert len(re.findall(r"hashpartitioning\((?:m_)?cid#\d+", plan)) >= 2
    # the rank window's qid exchange sees the per-cell-top-k-pruned
    # frame: a partial WindowGroupLimit must sit BELOW the qid
    # exchange (formatted node ids grow outward: child < parent)
    wgl = [int(n) for n in re.findall(r"\((\d+)\) WindowGroupLimit",
                                      plan)]
    qex = [int(n) for n, args in re.findall(
        r"\((\d+)\) Exchange\nInput[^\n]*\nArguments: ([^\n]*)", plan)
        if "hashpartitioning(qid#" in args]
    assert wgl and qex and min(wgl) < min(qex), (wgl, qex)


# ------------------------------------------------- r6 s3 additions


def test_gopher_rules_plan_no_window_no_cartesian(spark):
    """x162 is two combinable aggregate passes joined on doc_id —
    no window function and no cartesian product may appear."""
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x162_gopher_rules"](
        spark, SF_SMOKE))
    body = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in body
    assert "Window" not in body


def test_pca_power_gram_is_equi_join(spark):
    """x167's projection/histogram plan must never widen past the
    broadcast literal vector — no cartesian pair frame, no nested
    loop join."""
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x167_pca_power"](
        spark, SF_SMOKE))
    body = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in body
    assert "BroadcastNestedLoopJoin" not in body


def test_pca_moments_pass_is_map_only(spark):
    """The PCA sufficient-statistics job (r11) must be ONE
    MapInPandas kernel reduced by a combinable groupBy — NO join of
    any kind may reappear (the pre-r11 shape self-joined the
    posexploded frame on vec_id, pushing n·d² rows through an
    exchange before the reduce)."""
    from kafana_spark.operators import similarity
    from kafana_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    corpus = similarity._km_corpus(emb, 64)
    frame = similarity._pca_moments_frame(corpus, 64)
    body = plan_of(frame).split("== Physical Plan ==")[-1]
    assert "MapInPandas" in body
    assert "Join" not in body
    assert "Generate" not in body  # no posexplode leg either


def test_knn_outliers_plan_is_take_ordered(spark):
    """x166's bottom-k must be a TakeOrdered (no global sort, no
    rank window over the corpus)."""
    from kafana_spark.operators.registry import EXTENSION_QUERIES

    plan = plan_of(EXTENSION_QUERIES["x166_emb_outliers"](
        spark, SF_SMOKE))
    body = plan.split("== Physical Plan ==")[-1]
    assert "TakeOrderedAndProject" in body


def test_fixed_k_centroids_no_global_sort(spark):
    """The fixed-k seed pick must compile to TakeOrdered over the
    corpus, not a full Sort + Limit."""
    from kafana_spark.operators.similarity import _ivf_centroids, \
        _vectors, _with_norm
    from kafana_spark.sources.tables import load_table

    e = load_table(spark, SF_SMOKE, "embeddings")
    corpus = _with_norm(_vectors(e))
    plan = plan_of(_ivf_centroids(e, corpus, "fixed", 0,
                                  centroid_k=20))
    body = plan.split("== Physical Plan ==")[-1]
    assert "TakeOrderedAndProject" in body
