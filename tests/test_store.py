"""Store layout + latest-state view tests (SURVEY.md §1.1 changelog model)."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from kafana_spark.ingest import enrich
from kafana_spark.store import (
    compact, latest_state, read_store, table_files, write_store,
)
from tests.test_ingest import BAR_VALUE, bar_records

TS1 = dt.datetime(2024, 1, 1, 10, 0)
TS2 = dt.datetime(2024, 1, 2, 10, 0)


def docs(spark):
    return enrich(bar_records(spark, [
        ("1", (10, "a"), "bar", 0, 1, TS1),
        ("1", (11, "b"), "bar", 0, 2, TS1),   # update of key 1
        ("2", (20, "c"), "bar", 0, 3, TS2),
        ("2", None, "bar", 0, 4, TS2),        # tombstone deletes key 2
        ("3", (30, "d"), "bar", 1, 1, TS2),   # other partition
    ]))


def test_store_roundtrip_and_partition_layout(spark, tmp_path):
    path = str(tmp_path / "store")
    # a micro-batch of one input partition (one source file or Kafka
    # topic-partition) → one hot file at the store root, logged with its
    # day range and topics
    write_store(docs(spark).coalesce(1), path)
    (value,) = table_files(path).values()
    assert value == {"ds_min": "2024-01-01", "ds_max": "2024-01-02",
                     "topics": ["bar"]}
    assert [f for f in os.listdir(path) if f.endswith(".parquet")] \
        == [os.path.basename(f) for f in table_files(path)]
    # compact moves it into topic/ds dirs → pruning-friendly layout
    compact(spark, path)
    assert os.path.isdir(os.path.join(path, "topic=bar", "ds=2024-01-01"))
    assert os.path.isdir(os.path.join(path, "topic=bar", "ds=2024-01-02"))
    assert [f for f in os.listdir(path) if f.endswith(".parquet")] == []
    out = read_store(spark, path)
    assert out.count() == 5
    assert set(out.columns) >= {"message", "timestamp", "topic", "partition",
                                "offset", "key", "_id"}


def test_store_replay_dedup(spark, tmp_path):
    path = str(tmp_path / "store")
    write_store(docs(spark), path)
    write_store(docs(spark), path)  # replay the whole batch
    assert read_store(spark, path, dedup=False).count() == 10
    assert read_store(spark, path).count() == 5  # _id dedup-on-read


def test_latest_state_picks_max_offset_and_drops_tombstones(spark):
    state = {r.key: r for r in latest_state(docs(spark)).collect()}
    assert set(state) == {"1", "3"}          # key 2 deleted by tombstone
    assert state["1"].offset == 2            # latest update wins
    assert state["1"].message.bar == 11


def test_latest_state_keep_tombstones(spark):
    state = latest_state(docs(spark), drop_tombstones=False)
    rows = {r.key: r for r in state.collect()}
    assert set(rows) == {"1", "2", "3"}
    assert rows["2"].message.value == "TOMBSTONE"


def test_delete_by_query_tombstones_live_matches(spark):
    """Keys whose LIVE record matches get a tombstone appended after
    the partition max offset; survivors keep their records; a key
    whose OLD version matched but live doesn't is untouched."""
    from kafana_spark.store import delete_by_query

    d = docs(spark)
    # live state: key 1 -> bar=11, key 3 -> bar=30 (key 2 tombstoned)
    after = delete_by_query(d, F.col("message.bar") == 11)
    assert after.count() == 6                      # one appended row
    tomb = after.where(F.col("offset") > 4).collect()
    assert len(tomb) == 1
    assert tomb[0].key == "1" and tomb[0].partition == 0
    assert tomb[0].offset == 5                     # max(p0)=4, +1
    assert tomb[0].message.value == "TOMBSTONE"
    assert tomb[0]._id == "bar+0+5"
    state = {r.key for r in latest_state(after).collect()}
    assert state == {"3"}


def test_delete_by_query_old_version_match_is_ignored(spark):
    """bar=10 only matches key 1's SUPERSEDED version — ES evaluates
    the query against current docs, so nothing is deleted."""
    from kafana_spark.store import delete_by_query

    d = docs(spark)
    after = delete_by_query(d, F.col("message.bar") == 10)
    assert after.count() == d.count()
    assert {r.key for r in latest_state(after).collect()} == {"1", "3"}


def test_update_by_query_appends_new_version(spark):
    """The updated key surfaces the rewritten field at an appended
    offset; the prior version stays replayable below it."""
    from kafana_spark.store import update_by_query

    d = docs(spark)
    after = update_by_query(d, F.col("message.bar") == 30,
                            {"baz": F.lit("archived")})
    assert after.count() == 6
    state = {r.key: r for r in latest_state(after).collect()}
    assert state["3"].message.baz == "archived"
    assert state["3"].offset == 2                  # max(p1)=1, +1
    assert state["1"].message.baz == "b"           # untouched
    # prior version of key 3 still present in the changelog
    assert after.where((F.col("key") == "3")
                       & (F.col("offset") == 1)).count() == 1


def test_delete_by_query_second_pass_is_noop_on_state(spark):
    """Re-running the same delete appends nothing new: the victims'
    live records are already tombstones (dropped from the live view),
    so the predicate matches nothing."""
    from kafana_spark.store import delete_by_query

    d = docs(spark)
    once = delete_by_query(d, F.col("message.bar") == 11)
    twice = delete_by_query(once, F.col("message.bar") == 11)
    assert twice.count() == once.count()
    assert {r.key for r in latest_state(twice).collect()} == {"3"}
