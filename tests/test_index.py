"""Inverted token index: exactness vs direct scan + one-bucket pruning."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafana_spark import query
from kafana_spark.index import (
    N_BUCKETS,
    append_token_index,
    lookup_ids,
    search_via_index,
    tokenize_field,
)
from kafana_spark.ingest import enrich, events_as_kafka_records
from kafana_spark.sources.tables import load_table
from kafana_spark.store import read_table
from tests.conftest import SF_SMOKE


def _store_docs(spark):
    ev = load_table(spark, SF_SMOKE, "events").limit(300)
    return enrich(events_as_kafka_records(ev)).cache()


def test_index_search_equals_direct_scan(spark, tmp_path):
    """The index and the token scan share one tokenizer, so they answer
    every term alike — including the field names of the JSON render:
    ``event_type`` is the two tokens ``event`` and ``type`` to both."""
    docs = _store_docs(spark)
    idx = str(tmp_path / "idx")
    append_token_index(docs, idx, batch="b0")

    term = "error"
    via_index = search_via_index(spark, idx, docs, term)
    direct = docs.where(F.array_contains(
        tokenize_field(F.col("message.value")), term))
    assert sorted(r._id for r in via_index.collect()) \
        == sorted(r._id for r in direct.collect())
    assert via_index.count() > 0

    # "" and "a-b" are no token: both paths answer nothing
    for term in ("error", "type", "event_type", "", "a-b"):
        got = sorted(r._id for r in
                     search_via_index(spark, idx, docs, term).collect())
        scan = sorted(r._id for r in query.search_text(
            docs, term, token=True).collect())
        assert got == scan, (term, len(got), len(scan))


def test_lookup_prunes_to_one_bucket(spark, tmp_path):
    docs = _store_docs(spark)
    idx = str(tmp_path / "idx")
    append_token_index(docs, idx, batch="b0")

    import re

    df = lookup_ids(spark, idx, "error")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the literal bucket must appear as a PARTITION filter (pruned at
    # planning, before any file is opened), not a data filter
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and re.search(r"\(bucket#\d+ = \d+\)", m.group(1)), plan
    # and the scan's file count metric confirms one directory's worth
    df.collect()
    scan = [s for s in plan.splitlines() if "Scan parquet" in s]
    assert scan


def test_index_append_only_maintenance(spark, tmp_path):
    """Appending a new batch's postings requires no rewrite and the
    union answers for both batches."""
    docs = _store_docs(spark)
    half1 = docs.limit(150)
    half2 = docs.subtract(half1)
    idx = str(tmp_path / "idx")
    append_token_index(half1, idx, batch="half1")
    append_token_index(half2, idx, batch="half2")  # append

    term = "purchase"
    got = sorted(r._id for r in
                 search_via_index(spark, idx, docs, term).collect())
    want = sorted(r._id for r in docs.where(F.array_contains(
        tokenize_field(F.col("message.value")), term)).collect())
    assert got == want


def test_stream_sink_builds_index_redelivery_safe(spark, tmp_path):
    """Epoch-partitioned sink: micro-batches (incl. a redelivered
    epoch) must yield exactly the one-shot index's postings — the
    overwrite-per-epoch discipline shared with the dedup/ANN appends."""
    from kafana_spark.streaming.pipeline import batch_sink

    docs = _store_docs(spark)
    idx = str(tmp_path / "sidx")
    sink = batch_sink(str(tmp_path / "ckpt"), append_token_index, idx)
    batches = [docs.where(F.col("offset") % 3 == i) for i in range(3)]
    sink(batches[0], 0)
    sink(batches[1], 1)
    sink(batches[1], 1)          # at-least-once redelivery
    sink(batches[2], 2)

    term = "error"
    via_index = search_via_index(spark, idx, docs, term)
    direct = docs.where(F.array_contains(
        tokenize_field(F.col("message.value")), term))
    assert sorted(r._id for r in via_index.collect()) \
        == sorted(r._id for r in direct.collect())
    # no duplicate postings from the replay
    postings = read_table(spark, idx)
    assert postings.count() == postings.dropDuplicates(
        ["_id", "token"]).count()
