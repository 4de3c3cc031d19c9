"""Query-string compiler: the four canonical reference searches
(README.md:26-42 screenshots) plus the standard Kibana operators, each
checked against the equivalent hand-written Column predicate on an
enriched store frame."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafana_spark import query
from kafana_spark.ingest import enrich, events_as_kafka_records
from kafana_spark.query_string import QueryStringError, compile_query_string
from kafana_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    ev = load_table(spark, SF_SMOKE, "events").limit(300)
    recs = events_as_kafka_records(ev)
    foo = enrich(recs.withColumn("topic", F.lit("foo")))
    bar = enrich(recs.withColumn("topic", F.lit("bar")))
    return foo.unionByName(bar).cache()


def ids(df):
    return sorted((r.topic, r._id) for r in df.select("topic", "_id").collect())


def test_screenshot_key_across_topics(docs):
    got = query.search(docs, 'key: "1"')
    want = docs.where(F.col("key") == "1")
    assert ids(got) == ids(want) and got.count() > 0


def test_screenshot_key_and_topic(docs):
    got = query.search(docs, 'key: "1" and topic: "bar"')
    want = docs.where((F.col("key") == "1") & (F.col("topic") == "bar"))
    assert ids(got) == ids(want) and got.count() > 0


def test_screenshot_message_field_numeric(docs):
    got = query.search(docs, "message.value: TOMBSTONE")
    want = docs.where(F.col("message.value") == "TOMBSTONE")
    assert ids(got) == ids(want)  # may be empty; shapes must agree
    got2 = query.search(docs, 'message.event_type: "purchase"')
    want2 = docs.where(F.col("message.event_type") == "purchase")
    assert ids(got2) == ids(want2) and got2.count() > 0


def test_boolean_combinators_and_parens(docs):
    qs = '(message.event_type: "error" OR message.event_type: "signup") ' \
         'AND NOT key: "13"'
    got = query.search(docs, qs)
    want = docs.where(
        ((F.col("message.event_type") == "error")
         | (F.col("message.event_type") == "signup"))
        & ~(F.col("key") == "13"))
    assert ids(got) == ids(want) and got.count() > 0


def test_range_operators(docs):
    got = query.search(docs, "offset >= 100 AND offset < 150")
    want = docs.where((F.col("offset") >= 100) & (F.col("offset") < 150))
    assert ids(got) == ids(want) and got.count() > 0


def test_exists_and_prefix_and_fulltext(docs):
    got = query.search(docs, "_exists_: message.value")
    assert got.count() == docs.count()

    pfx = query.search(docs, "key: 1*")
    want = docs.where(F.col("key").startswith("1"))
    assert ids(pfx) == ids(want)

    ft = query.search(docs, '"purchase"')
    want_ft = docs.where(F.col("message.value").contains("purchase"))
    assert ids(ft) == ids(want_ft) and ft.count() > 0


def test_implicit_and_adjacency(docs):
    got = query.search(docs, 'key: "1" topic: "foo"')
    want = docs.where((F.col("key") == "1") & (F.col("topic") == "foo"))
    assert ids(got) == ids(want)


def test_numeric_vs_quoted_literal(docs):
    # offset is numeric: bare 100 compares numerically
    assert query.search(docs, "offset: 100").count() \
        == docs.where(F.col("offset") == 100).count()


def test_pushdown_of_compiled_predicate(spark, docs, tmp_path):
    """The compiled predicate must reach the parquet scan like a
    hand-written filter."""
    from kafana_spark.store import read_store, write_store

    write_store(docs, str(tmp_path / "s"))
    df = read_store(spark, str(tmp_path / "s"), dedup=False)
    plan = (df.where(compile_query_string("offset >= 100"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "GreaterThanOrEqual(offset,100)" in plan


def test_syntax_errors(docs):
    for bad in ("(key: 1", "key:", "key >", "key: 1 )"):
        with pytest.raises(QueryStringError):
            compile_query_string(bad)


def test_wildcard_question_and_midstar(docs):
    # key is a numeric string; '1?' matches two-digit keys starting 1
    got = query.search(docs, 'key: 1?')
    want = docs.where(F.col("key").rlike("^1.$"))
    assert ids(got) == ids(want)
    got2 = query.search(docs, 'key: 1*0')
    want2 = docs.where(F.col("key").rlike("^1.*0$"))
    assert ids(got2) == ids(want2)


def test_regex_clause(docs):
    got = query.search(docs, 'message.event_type: /err.*/')
    want = docs.where(F.col("message.event_type").rlike("err.*"))
    assert ids(got) == ids(want)


def test_fuzzy_field_and_fulltext(docs):
    # field fuzzy: 'clck~1' is one edit from 'click'
    got = query.search(docs, 'message.event_type: clck~1')
    want = docs.where(
        F.levenshtein(F.col("message.event_type"), F.lit("clck")) <= 1)
    assert ids(got) == ids(want)
    assert got.count() > 0
    # default fuzziness is Lucene's 2
    got2 = query.search(docs, 'message.event_type: clik~')
    want2 = docs.where(
        F.levenshtein(F.col("message.event_type"), F.lit("clik")) <= 2)
    assert ids(got2) == ids(want2)


def test_quoted_values_are_never_special(docs):
    got = query.search(docs, 'key: "1?"')
    assert got.count() == docs.where(F.col("key") == "1?").count() == 0


def test_prefix_star_stays_sargable(spark, docs, tmp_path):
    from kafana_spark.store import read_store, write_store

    write_store(docs, str(tmp_path / "s"))
    df = read_store(spark, str(tmp_path / "s"), dedup=False)
    plan = (df.where(compile_query_string("key: 12*"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "StringStartsWith(key,12)" in plan
