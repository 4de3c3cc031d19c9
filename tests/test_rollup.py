"""Rollup (continuous-aggregate) correctness: exact partials merge
losslessly, HLL sketches merge within tolerance, and incremental
(union-of-builds) maintenance equals a one-shot build."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafana_spark.rollup import (
    append_rollup, build_rollup, rollup_from_store, rollup_range,
)
from kafana_spark.session import tune_session
from kafana_spark.sources.tables import load_table
from kafana_spark.streaming.pipeline import batch_sink
from tests.conftest import SF_SMOKE

DS0, DS1 = "2024-01-05", "2024-01-20"


def events(spark):
    tune_session(spark)
    ev = load_table(spark, SF_SMOKE, "events")
    return ev.select("event_type", F.to_date("ts").alias("ds"),
                     "value", "user_id")


def exact(spark):
    ev = events(spark)
    return (ev.where((F.col("ds") >= DS0) & (F.col("ds") <= DS1))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("value").alias("sum_value"),
                 F.countDistinct("user_id").alias("ndv")))


def test_rollup_range_exact_metrics_match_raw(spark):
    ev = events(spark)
    ru = build_rollup(ev, by=("event_type",), value_col="value",
                      distinct_cols=("user_id",))
    got = rollup_range(ru, DS0, DS1, by=("event_type",),
                       value_col="value", distinct_cols=("user_id",))
    g = {r.event_type: r for r in got.collect()}
    e = {r.event_type: r for r in exact(spark).collect()}
    assert set(g) == set(e)
    for et, er in e.items():
        assert g[et].cnt == er.cnt
        assert abs(g[et].sum_value - er.sum_value) < 1e-6
        # HLL at lgK=12: ~1.6% rse; allow 5%
        assert abs(g[et].ndv_user_id - er.ndv) <= max(3, 0.05 * er.ndv)


def test_incremental_builds_merge_like_one_shot(spark):
    """Rollup maintenance: build over two disjoint slices, union, and
    the range query answers identically (partials + sketches merge
    associatively)."""
    ev = events(spark)
    a = build_rollup(ev.where(F.col("user_id") % 2 == 0),
                     by=("event_type",), value_col="value",
                     distinct_cols=("user_id",))
    b = build_rollup(ev.where(F.col("user_id") % 2 == 1),
                     by=("event_type",), value_col="value",
                     distinct_cols=("user_id",))
    merged = rollup_range(a.unionByName(b), DS0, DS1, by=("event_type",),
                          value_col="value", distinct_cols=("user_id",))
    one = build_rollup(ev, by=("event_type",), value_col="value",
                       distinct_cols=("user_id",))
    oneshot = rollup_range(one, DS0, DS1, by=("event_type",),
                           value_col="value", distinct_cols=("user_id",))
    m = {r.event_type: r for r in merged.collect()}
    o = {r.event_type: r for r in oneshot.collect()}
    assert set(m) == set(o)
    for et in o:
        assert m[et].cnt == o[et].cnt
        assert abs(m[et].sum_value - o[et].sum_value) < 1e-6
        # sketch union is exact over the SAME underlying values
        assert m[et].ndv_user_id == o[et].ndv_user_id


def test_appended_rollup_equals_full_rebuild(spark, tmp_path):
    """Incremental maintenance with OVERLAPPING days: two appended
    batches that share 5 days merge, at read time, into exactly the
    one-shot build over the full history."""
    tune_session(spark)
    ev = load_table(spark, SF_SMOKE, "events") \
        .select("event_type", "ts", "value", "user_id")
    first = ev.where(F.to_date("ts") <= "2024-01-15")
    late = ev.where(F.to_date("ts") > "2024-01-10")    # overlaps 5 days
    out = str(tmp_path / "rollup")
    for bid, b in (("first", first), ("late", late)):
        append_rollup(b, out, bid, by=("event_type",), time_col="ts",
                      value_col="value", distinct_cols=("user_id",))
    merged = rollup_from_store(spark, out, by=("event_type",),
                               value_col="value", distinct_cols=("user_id",))
    expect = build_rollup(
        first.unionByName(late).withColumn("ds", F.to_date("ts")),
        by=("event_type",), value_col="value", distinct_cols=("user_id",))

    got = {(r.event_type, r.ds): r for r in merged.collect()}
    exp = {(r.event_type, r.ds): r for r in expect.collect()}
    assert set(got) == set(exp)
    for k, er in exp.items():
        assert got[k].cnt == er.cnt
        assert abs(got[k].sum_value - er.sum_value) < 1e-6
        assert got[k].min_value == er.min_value
        assert got[k].max_value == er.max_value


def test_rollup_stream_sink_maintains_parquet(spark, tmp_path):
    """foreachBatch sink: two manual batch invocations leave a rollup
    equal to a one-shot build over both batches."""
    tune_session(spark)
    ev = load_table(spark, SF_SMOKE, "events") \
        .select("event_type", "ts", "value")
    b1 = ev.where(F.to_date("ts") <= "2024-01-10")
    b2 = ev.where(F.to_date("ts") > "2024-01-08")
    out = str(tmp_path / "rollup")
    sink = batch_sink(str(tmp_path / "ckpt"), append_rollup, out,
                      by=("event_type",), time_col="ts", value_col="value")
    sink(b1, 0)
    sink(b2, 1)
    got = {(r.event_type, r.ds): (r.cnt, round(r.sum_value, 6))
           for r in rollup_from_store(spark, out, by=("event_type",),
                                      value_col="value").collect()}
    expect_df = build_rollup(
        b1.unionByName(b2).withColumn("ds", F.to_date("ts")),
        by=("event_type",), value_col="value")
    exp = {(r.event_type, r.ds): (r.cnt, round(r.sum_value, 6))
           for r in expect_df.collect()}
    assert got == exp


def test_rollup_sink_counts_a_redelivered_epoch_once(spark, tmp_path):
    """At-least-once delivery hands the sink one committed epoch
    twice; the redelivery replaces that batch's partials, so its rows
    count once (cnt 3, not 6)."""
    import datetime

    b = spark.createDataFrame(
        [("click", datetime.datetime(2024, 1, 5, h), 1.0)
         for h in (1, 2, 3)], "event_type string, ts timestamp, value double")
    out = str(tmp_path / "rollup")
    sink = batch_sink(str(tmp_path / "ckpt"), append_rollup, out,
                      by=("event_type",), time_col="ts", value_col="value")
    sink(b, 0)
    sink(b, 0)    # redelivery of the committed epoch
    got = [(r.event_type, str(r.ds), r.cnt, r.sum_value) for r in
           rollup_from_store(spark, out, by=("event_type",),
                             value_col="value").collect()]
    assert got == [("click", "2024-01-05", 3, 3.0)]


@pytest.mark.parametrize("failure", ["compute", "write"])
def test_rollup_stream_sink_failed_batch_keeps_prior_rollup(
        spark, tmp_path, failure):
    """A micro-batch whose job fails must leave the prior rollup
    intact, so its redelivery merges into it and the rollup equals a
    one-shot build over both batches. ``compute``: a UDF raises on one
    row. ``write``: the parquet writer rejects a row part-way through
    the write (a pre-1582 date under the EXCEPTION rebase mode), after
    every row was computed."""
    import datetime

    from tests.conftest import INJECTED_FAILURE, fail_on

    tune_session(spark)
    ev = load_table(spark, SF_SMOKE, "events") \
        .select("event_type", "ts", "value")
    b1 = ev.where(F.to_date("ts") <= "2024-01-10")
    b2 = ev.where(F.to_date("ts") > "2024-01-08")
    out = str(tmp_path / "rollup")
    sink = batch_sink(str(tmp_path / "ckpt"), append_rollup, out,
                      by=("event_type",), time_col="ts", value_col="value")

    def rollup_rows():
        return {(r.event_type, r.ds): (r.cnt, round(r.sum_value, 6))
                for r in rollup_from_store(spark, out, by=("event_type",),
                                           value_col="value").collect()}

    sink(b1, 0)
    before = rollup_rows()
    if failure == "compute":
        last = b2.agg(F.max("ts")).first()[0]
        bad, conf = fail_on(b2, "value", F.col("ts") == last), {}
        raised = INJECTED_FAILURE
    else:
        ancient = F.lit(datetime.datetime(1000, 1, 1)) \
            .cast(b2.schema["ts"].dataType)
        bad = b2.unionByName(b2.limit(1).withColumn("ts", ancient))
        conf = {"spark.sql.parquet.datetimeRebaseModeInWrite": "EXCEPTION"}
        raised = "TASK_WRITE_FAILED"
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        with pytest.raises(Exception, match=raised):
            sink(bad, 1)
    finally:
        for k in conf:
            spark.conf.unset(k)
    assert rollup_rows() == before
    sink(b2, 1)    # the redelivery
    expect_df = build_rollup(
        b1.unionByName(b2).withColumn("ds", F.to_date("ts")),
        by=("event_type",), value_col="value")
    assert rollup_rows() == {
        (r.event_type, r.ds): (r.cnt, round(r.sum_value, 6))
        for r in expect_df.collect()}


def test_date_histogram_gapfill_zero_buckets(spark):
    from kafana_spark import query
    import datetime

    df = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1, 5),),
         (datetime.datetime(2024, 1, 1, 7),),
         (datetime.datetime(2024, 1, 4, 2),)], "ts timestamp")
    out = [(r["bucket"].day, r["cnt"])
           for r in query.date_histogram_gapfill(df, "ts").collect()]
    assert out == [(1, 2), (2, 0), (3, 0), (4, 1)]


def test_streaming_topk_from_rollup(spark, tmp_path):
    """Continuous top-k: after N micro-batches through the rollup sink,
    the rollup-served top-k equals the exact top-k over the full raw
    history — the streaming-top-k contract without complete-mode sorts."""
    from kafana_spark.rollup import topk_from_rollup

    tune_session(spark)
    ev = load_table(spark, SF_SMOKE, "events") \
        .select("event_type", "ts", "value")
    batches = [ev.where(F.dayofmonth("ts") % 3 == i) for i in range(3)]
    out = str(tmp_path / "rollup")
    sink = batch_sink(str(tmp_path / "ckpt"), append_rollup, out,
                      by=("event_type",), time_col="ts", value_col="value")
    for i, b in enumerate(batches):
        sink(b, i)

    got = [(r.event_type, r.cnt) for r in
           topk_from_rollup(rollup_from_store(spark, out,
                                              by=("event_type",),
                                              value_col="value"),
                            k=3, by=("event_type",)).collect()]
    exp = [(r.event_type, r.cnt) for r in
           ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
           .orderBy(F.col("cnt").desc(), "event_type").limit(3).collect()]
    assert got == exp


# --------------------------------------------------- count-min sketch

def test_cms_never_undercounts_and_tight_on_top_terms(spark):
    from kafana_spark.rollup import cms_estimate, cms_sketch

    d = load_table(spark, SF_SMOKE, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("t"))
    exact = {r.t: r.n for r in
             toks.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
             .orderBy(F.col("n").desc(), "t").limit(50).collect()}
    terms = spark.createDataFrame([(t,) for t in exact], ["t"])
    est = {r.t: r.cms_cnt for r in
           cms_estimate(cms_sketch(d, "text"), terms).collect()}
    assert set(est) == set(exact)
    assert all(est[t] >= exact[t] for t in exact)   # CM never undercounts
    # point error bound is e·N/w per row; on this fixture the top-term
    # estimates should be near-exact — allow 5% slack
    assert sum(est[t] == exact[t] for t in exact) >= 0.8 * len(exact)


def test_cms_merge_equals_one_shot_sketch(spark):
    from kafana_spark.rollup import cms_merge, cms_sketch

    d = load_table(spark, SF_SMOKE, "documents")
    a = cms_sketch(d.where(F.col("doc_id") % 2 == 0), "text")
    b = cms_sketch(d.where(F.col("doc_id") % 2 != 0), "text")
    merged = {(r.j, r.b): r.cnt for r in cms_merge(a, b).collect()}
    full = {(r.j, r.b): r.cnt for r in cms_sketch(d, "text").collect()}
    assert merged == full


def test_cms_stream_sink_redelivery_equals_one_shot(spark, tmp_path):
    from kafana_spark.rollup import (
        append_cms_sketch, cms_from_store, cms_sketch,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    root = str(tmp_path / "cms")
    sink = batch_sink(str(tmp_path / "ckpt"), append_cms_sketch, root)
    batches = [d.where(F.col("doc_id") % 3 == i) for i in range(3)]
    sink(batches[0], 0)
    sink(batches[1], 1)
    sink(batches[1], 1)          # at-least-once redelivery
    sink(batches[2], 2)
    got = {(r.j, r.b): r.cnt for r in cms_from_store(spark, root).collect()}
    full = {(r.j, r.b): r.cnt for r in cms_sketch(d, "text").collect()}
    assert got == full
