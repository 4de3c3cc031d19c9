"""Store lifecycle (compaction, retention, crashes and races on the commit
log) and skew utilities."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from kafana_spark.ingest import enrich, events_as_kafka_records
from kafana_spark.operators.skew import salted_agg, salted_join
from kafana_spark.sources.tables import load_table
from kafana_spark.store import (
    append_table, batch_meta, compact, read_store,
    read_table, replace_table, retention, table_files, write_store,
)
from tests.conftest import SF_SMOKE, aggregating_requests


def _build_store(spark, path, appends=4):
    ev = load_table(spark, SF_SMOKE, "events").limit(200)
    recs = events_as_kafka_records(ev)
    for _ in range(appends):  # each append = small files per partition
        write_store(enrich(recs), str(path))
    return recs


def parquet_files(path):
    return glob.glob(f"{path}/**/*.parquet", recursive=True)


def _by_id(df):
    return sorted(df.collect(), key=lambda r: r._id)


def test_compact_reduces_files_preserves_rows(spark, tmp_path):
    """Compaction keeps one row per ``_id`` (the 4 appends are full
    redeliveries), changes no deduplicated read, and moves the hot
    files into the cold layout: one file per (topic, ds) dir."""
    store = tmp_path / "store"
    _build_store(spark, store, appends=4)
    before = read_store(spark, str(store), dedup=False)
    before_ids = set(r._id for r in before.select("_id").distinct().collect())
    before_rows = _by_id(read_store(spark, str(store)))

    compact(spark, str(store))

    after = read_store(spark, str(store), dedup=False)
    assert after.count() == len(before_ids)
    assert set(r._id for r in after.select("_id").distinct().collect()) \
        == before_ids
    assert _by_id(read_store(spark, str(store))) == before_rows
    dirs = [os.path.relpath(os.path.dirname(f), store)
            for f in table_files(str(store))]
    assert sorted(dirs) == sorted(
        os.path.join(f"topic={r.topic}", f"ds={r.ds}")
        for r in after.select("topic", "ds").distinct().collect())


def test_retention_drops_old_ds_partitions(spark, tmp_path):
    store = tmp_path / "store"
    _build_store(spark, store, appends=1)
    ds_vals = sorted(r.ds for r in read_store(spark, str(store), dedup=False)
                     .select("ds").distinct().collect())
    assert len(ds_vals) >= 2, "fixture needs multiple days"
    cutoff = str(ds_vals[1])

    removed = retention(str(store), cutoff)

    assert removed, "should remove at least one partition"
    left = read_store(spark, str(store), dedup=False)
    assert left.where(F.col("ds") < cutoff).count() == 0
    assert left.where(F.col("ds") >= cutoff).count() > 0


def test_salted_join_matches_plain_join(spark):
    ev = load_table(spark, SF_SMOKE, "events").limit(500)
    dim = spark.createDataFrame(
        [(t, i) for i, t in enumerate(
            ["click", "view", "purchase", "error", "signup"])],
        ["event_type", "type_id"])
    plain = (ev.join(dim, "event_type")
             .select("event_id", "type_id"))
    salted = (salted_join(ev, dim, on=["event_type"],
                          unique_col="event_id", buckets=8)
              .select("event_id", "type_id"))
    assert sorted(map(tuple, plain.collect())) \
        == sorted(map(tuple, salted.collect()))


def test_salted_agg_matches_plain_agg(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    plain = {(r.event_type): (r.cnt, r.sv)
             for r in ev.groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("cnt"),
                  F.round(F.sum("value"), 2).alias("sv")).collect()}
    salted = salted_agg(ev, keys=["event_type"], unique_col="event_id",
                        aggs={"value": "sum", "event_id": "count"},
                        buckets=8)
    got = {r.event_type: (r.count_event_id, round(r.sum_value, 2))
           for r in salted.collect()}
    assert got == plain


def test_compacted_store_is_plain_parquet_size(spark, tmp_path):
    """A compacted store's live files take no more than twice the bytes
    of a plain ``partitionBy(topic, ds)`` write of the same rows: its
    files carry no per-file index that outweighs their data (row order
    alone moves a file's size by a few percent)."""
    from kafana_spark.store import PARTITION_COLS, with_store_partitions

    ev = load_table(spark, SF_SMOKE, "events").limit(500)
    docs = enrich(events_as_kafka_records(ev))

    write_store(docs, str(tmp_path / "store"))
    compact(spark, str(tmp_path / "store"))
    (with_store_partitions(docs).repartition(*PARTITION_COLS).write
     .partitionBy(*PARTITION_COLS).parquet(str(tmp_path / "plain")))

    stored = sum(map(os.path.getsize, table_files(str(tmp_path / "store"))))
    plain = sum(map(os.path.getsize, parquet_files(tmp_path / "plain")))
    assert stored <= 2 * plain, (stored, plain)


@pytest.fixture(scope="module")
def guarded_tables(spark, tmp_path_factory):
    """A compacted store and a rebuilt table holding one appended batch,
    both of ``docs``: the targets an unsafe batch id would clobber."""
    root = tmp_path_factory.mktemp("guarded")
    docs = enrich(events_as_kafka_records(
        load_table(spark, SF_SMOKE, "events").limit(100)))
    store, table = str(root / "store"), str(root / "table")
    write_store(docs, store, "b0")
    compact(spark, store)
    replace_table(docs.select("_id"), table)
    append_table(docs.select("_id"), table, "b0")
    return root, store, table, docs


@pytest.mark.parametrize("bad", [
    "", "a/b", "../../escaped", "_x", ".x", "b0-part-1",
    "base", "compact", "merge", "retention"])
def test_unsafe_batch_id_is_rejected_before_any_write(spark, guarded_tables,
                                                      bad):
    """A batch id names its files and its ``_staging/<id>`` dir. An id
    with a path separator would stage (and garbage-collect) outside the
    table; an owner name or a ``-part-`` id owns other writers' files,
    so appending under it would replace them (``compact`` then an
    append as ``"compact"`` drops the whole cold tier). Both appenders
    raise before writing, and every table reads as before."""
    root, store, table, docs = guarded_tables
    before = table_files(store), table_files(table)

    with pytest.raises(ValueError):
        write_store(docs, store, bad)
    with pytest.raises(ValueError):
        append_table(docs.select("_id"), table, bad)

    assert (table_files(store), table_files(table)) == before
    assert read_store(spark, store).count() == 100
    assert read_table(spark, table).count() == 200
    assert sorted(os.listdir(root)) == ["store", "table"]


def _rows(spark, store):
    """(_id, key, ds) of every row in the store's snapshot, sorted."""
    return sorted((r._id, r.key, str(r.ds)) for r in
                  read_store(spark, store, dedup=False)
                  .select("_id", "key", "ds").collect())


def _live_files(store):
    """Local paths of the snapshot's files (from the log: a cold tier
    ``read_store`` serves from memory has no input files)."""
    return {os.path.realpath(f) for f in table_files(store)}


def _assert_no_leftovers(spark, store):
    """Every parquet file on disk is a snapshot file, and no staged
    write is left behind."""
    on_disk = {os.path.realpath(f) for f in parquet_files(store)}
    assert on_disk == _live_files(store)
    assert glob.glob(os.path.join(store, "_staging", "*")) == []


def _events_docs(spark, n=200):
    return enrich(events_as_kafka_records(
        load_table(spark, SF_SMOKE, "events").limit(n)))


def _replay_setup(spark, store):
    """A committed batch of two files replayed whole: same rows, fresh
    files."""
    docs = _events_docs(spark).repartition(2)
    write_store(docs, store, "b0")
    return lambda: write_store(docs, store, "b0"), lambda pre: pre


def _compact_setup(spark, store):
    docs = _events_docs(spark)
    write_store(docs, store, "b0")
    write_store(docs, store, "b1")   # several small files per partition
    return lambda: compact(spark, store), lambda pre: sorted(set(pre))


def _retention_setup(spark, store):
    """Two hot files whose days straddle the cutoff: retention rewrites
    both."""
    write_store(_events_docs(spark).repartition(2), store)
    cutoff = sorted({d for _, _, d in _rows(spark, store)})[1]
    return (lambda: retention(store, cutoff),
            lambda pre: [r for r in pre if r[2] >= cutoff])


#: op → setup(spark, store): builds the store, returns the call and
#: the post-call rows as a function of the pre-call rows
SETUPS = {"write_store": _replay_setup, "compact": _compact_setup,
          "retention": _retention_setup}


@pytest.mark.parametrize("op,step", [
    (op, step) for op in SETUPS for step in ("rename", "commit", "delete")])
def test_crash_shows_one_snapshot_and_retry_lands(spark, tmp_path, crash,
                                                  op, step):
    """A crash before the commit (mid-move or at the log link) leaves
    exactly the pre-call rows readable — no half-moved batch, no
    missing store; a crash in the post-commit delete leaves exactly the
    post-call rows. Re-running the call lands the post-call rows and
    deletes everything the crashed attempt left behind."""
    store = str(tmp_path / "store")
    call, expect = SETUPS[op](spark, store)
    pre = _rows(spark, store)
    pre_files = _live_files(store)
    crash.arm(step, n=2 if step == "rename" else 1)
    with pytest.raises(crash.Crash):
        call()
    assert _rows(spark, store) == (expect(pre) if step == "delete" else pre)

    call()

    assert _rows(spark, store) == expect(pre)
    assert _live_files(store) != pre_files   # the retry committed
    _assert_no_leftovers(spark, store)


def test_compact_recovers_interrupted_swap(spark, tmp_path, crash):
    """A compact that crashed between moving its files into the
    partitions leaves the pre-compact snapshot readable; the next
    compact lands the compacted rows and deletes the crashed one's
    moved files and the junk it abandoned in its staging dir."""
    store = str(tmp_path / "store")
    call, expect = _compact_setup(spark, store)
    pre = _rows(spark, store)

    crash.arm("rename", n=2)
    with pytest.raises(crash.Crash):
        call()
    assert _rows(spark, store) == pre
    junk = os.path.join(store, "_staging", "compact", "part-junk.parquet")
    os.makedirs(os.path.dirname(junk), exist_ok=True)
    with open(junk, "wb") as fh:
        fh.write(b"not a parquet file")

    call()

    assert _rows(spark, store) == expect(pre)
    _assert_no_leftovers(spark, store)


def test_append_during_compact_survives(spark, tmp_path, crash):
    """A batch committed between compact's snapshot read and its commit
    stays in the store, beside the rewritten files — so the compact
    entry cannot mark the snapshot's ``_id``s unique."""
    store = str(tmp_path / "store")
    docs = _events_docs(spark)
    even = F.col("offset") % 2 == 0
    write_store(docs.where(even), store, "even")
    crash.arm("rename", action=lambda: write_store(
        docs.where(~even), store, "odd"))

    compact(spark, store)

    got = _rows(spark, store)
    assert len(got) == 200
    assert {i for i, _, _ in got} \
        == {r._id for r in docs.select("_id").collect()}
    assert not _unique_ids(store)
    _assert_no_leftovers(spark, store)


def test_replace_drops_a_batch_appended_during_it(spark, tmp_path,
                                                  crash):
    """Unlike compact, a rebuild defines the whole table: a batch
    committed between replace_table's write and its commit is dropped
    with the rest, its meta forgotten and its files deleted."""
    t = str(tmp_path / "t")
    append_table(spark.range(10), t, "a", meta={"n": 10})
    crash.arm("rename", action=lambda: append_table(
        spark.range(10, 15), t, "b", meta={"n": 5}))

    replace_table(spark.range(100, 103), t)

    assert sorted(r.id for r in read_table(spark, t).collect()) == \
        [100, 101, 102]
    assert batch_meta(t) == {"base": None}
    assert {os.path.realpath(f) for f in parquet_files(t)} == \
        {os.path.realpath(f) for f in table_files(t)}


def test_table_batches_partitions_and_skip_batch(spark, tmp_path):
    """append_table lands a batch under its partition dirs with its
    meta; a redelivered id replaces its own files; read_table can
    leave one batch's files out."""
    t = str(tmp_path / "t")
    df = spark.range(6).withColumn("bucket", (F.col("id") % 2).cast("int"))
    append_table(df.where("id < 3"), t, "a", ("bucket",), meta={"k": 1})
    append_table(df.where("id >= 3"), t, "b", ("bucket",))
    append_table(df.where("id >= 4"), t, "b", ("bucket",))  # redelivery

    assert batch_meta(t) == {"a": {"k": 1}, "b": None}
    assert {v["bucket"] for v in table_files(t).values()} == {"0", "1"}
    assert read_table(spark, t).columns == ["id", "bucket"]
    assert sorted(r.id for r in read_table(spark, t).collect()) == \
        [0, 1, 2, 4, 5]
    assert sorted(r.id for r in
                  read_table(spark, t, skip_batch="a").collect()) == [4, 5]


def test_racing_commits_both_land(spark, tmp_path, crash):
    """Two appends that read the same snapshot race for one log version:
    the loser replays the winner's entry and commits the next one."""
    store = str(tmp_path / "store")
    docs = _events_docs(spark)
    even = F.col("offset") % 2 == 0
    crash.arm("commit", action=lambda: write_store(
        docs.where(even), store, "even"))

    write_store(docs.where(~even), store, "odd")

    assert len(glob.glob(os.path.join(store, "_log", "*.json"))) == 2
    assert len(_rows(spark, store)) == 200
    _assert_no_leftovers(spark, store)


def test_compact_conflicts_when_its_files_were_removed(spark, tmp_path,
                                                       crash):
    """A maintenance commit whose removed files a newer commit already
    removed raises instead of resurrecting rows; a retry then lands on
    the newer snapshot and clears the loser's files."""
    from kafana_spark.store import CommitConflict

    store = str(tmp_path / "store")
    write_store(_events_docs(spark), store)
    crash.arm("rename", action=lambda: retention(store, "9999-12-31"))

    with pytest.raises(CommitConflict):
        compact(spark, store)

    assert _rows(spark, store) == []
    compact(spark, store)
    assert _rows(spark, store) == []
    _assert_no_leftovers(spark, store)

def test_read_store_ignores_files_no_commit_lists(spark, tmp_path):
    store = str(tmp_path / "store")
    write_store(_events_docs(spark), store)
    f = parquet_files(store)[0]
    shutil.copy(f, os.path.join(os.path.dirname(f), "part-stray.parquet"))
    assert read_store(spark, store, dedup=False).count() == 200


def test_empty_snapshot_reads_empty_with_stored_schema(spark, tmp_path):
    store = str(tmp_path / "store")
    write_store(_events_docs(spark), store)
    schema = read_store(spark, store).schema

    assert retention(store, "9999-12-31")     # every day goes

    got = read_store(spark, store)
    assert got.count() == 0
    assert got.schema == schema
    assert parquet_files(store) == []


def test_retention_rejects_non_iso_cutoff(spark, tmp_path):
    """A cutoff compared as a string must be a canonical ISO day:
    "2026-1-5" and "20260105" sort after every 2020s day."""
    store = str(tmp_path / "store")
    write_store(_events_docs(spark), store)
    pre = _rows(spark, store)
    for cutoff in ("2026-1-5", "20260105", "2026-02-30", "today"):
        with pytest.raises(ValueError):
            retention(store, cutoff)
    assert _rows(spark, store) == pre


# ------------------------------------------- the log's unique_ids flag

def _unique_ids(store):
    from kafana_spark.store import _snapshot

    return _snapshot(store).unique_ids


def _assert_dedup_read_exact(spark, store):
    """``read_store(dedup=True)`` holds the rows of the same snapshot
    passed through ``dropDuplicates(["_id"])``: same ``_id``s, same
    count, so no ``_id`` appears twice."""
    got = read_store(spark, store)
    want = read_store(spark, store, dedup=False).dropDuplicates(["_id"])
    ids = lambda df: sorted(r._id for r in df.select("_id").collect())
    assert ids(got) == ids(want)
    assert got.count() == want.count()


def _redelivered_store(spark, store):
    """200 docs, then a replay of their first 50 under a new batch id:
    50 ``_id``s are stored twice."""
    docs = _events_docs(spark)
    write_store(docs, store, "b0")
    write_store(docs.orderBy("_id").limit(50), store, "redelivery")
    return docs


def test_compact_marks_snapshot_ids_unique(spark, tmp_path):
    store = str(tmp_path / "store")
    _redelivered_store(spark, store)
    assert read_store(spark, store, dedup=False).count() == 250
    assert not _unique_ids(store)
    _assert_dedup_read_exact(spark, store)

    compact(spark, store)

    assert _unique_ids(store)
    assert read_store(spark, store, dedup=False).count() == 200
    _assert_dedup_read_exact(spark, store)


def test_append_after_compact_clears_unique_flag(spark, tmp_path):
    """A replay appended after compaction repeats compacted ``_id``s, so
    reads dedup again."""
    store = str(tmp_path / "store")
    docs = _redelivered_store(spark, store)
    compact(spark, store)

    write_store(docs.limit(30), store, "late-replay")

    assert not _unique_ids(store)
    assert read_store(spark, store, dedup=False).count() == 230
    assert read_store(spark, store).count() == 200
    _assert_dedup_read_exact(spark, store)


def test_retention_keeps_unique_flag(spark, tmp_path):
    store = str(tmp_path / "store")
    _redelivered_store(spark, store)
    compact(spark, store)
    cutoff = sorted({d for _, _, d in _rows(spark, store)})[1]

    assert retention(store, cutoff)

    assert _unique_ids(store)
    _assert_dedup_read_exact(spark, store)


def test_unflagged_compact_entry_still_dedups_on_read(spark, tmp_path):
    """A ``compact`` entry with no ``unique_ids`` field — as written
    before the flag, when compaction kept duplicates — promises
    nothing: reads of its snapshot dedup."""
    import json

    from kafana_spark.store import _entry_path, _snapshot

    store = str(tmp_path / "store")
    _redelivered_store(spark, store)
    snap = _snapshot(store)
    with open(_entry_path(store, snap.version + 1), "w") as fh:
        json.dump({"version": snap.version + 1, "op": "compact",
                   "batch": None, "schema": snap.schema,
                   "add": snap.files, "remove": []}, fh)

    assert not _unique_ids(store)
    assert read_store(spark, store, dedup=False).count() == 250
    assert read_store(spark, store).count() == 200
    _assert_dedup_read_exact(spark, store)


# ------------------------------------------------- the hot and cold tiers

def _hot_files(store):
    """The snapshot's hot files: path → logged stats."""
    from kafana_spark.store import _is_hot, _snapshot

    return {p: v for p, v in _snapshot(store).files.items() if _is_hot(v)}


def _full_rows(df):
    """(_id, key, topic, ds, offset) of every row, sorted."""
    return sorted((r._id, r.key, r.topic, str(r.ds), r.offset) for r in
                  df.select("_id", "key", "topic", "ds", "offset").collect())


def test_mixed_snapshot_reads_both_tiers(spark, tmp_path):
    """A compacted store plus one hot batch that repeats 30 compacted
    ``_id``s: the plain read holds the rows of both tiers, the
    deduplicated read one row per ``_id``."""
    from kafana_spark.store import with_store_partitions

    store = str(tmp_path / "store")
    docs = with_store_partitions(_events_docs(spark, 300))
    cold = docs.orderBy("_id").limit(200)
    hot = docs.orderBy(F.col("_id").desc()).limit(130)
    write_store(cold.drop("ds"), store, "b0")
    compact(spark, store)
    write_store(hot.drop("ds"), store, "b1")
    assert _hot_files(store) and len(_hot_files(store)) \
        < len(table_files(store))

    assert _full_rows(read_store(spark, store, dedup=False)) \
        == sorted(_full_rows(cold) + _full_rows(hot))
    assert _full_rows(read_store(spark, store)) == _full_rows(docs)
    _assert_dedup_read_exact(spark, store)


def test_retention_drops_and_rewrites_hot_files(spark, tmp_path):
    """A hot file whose days all precede the cutoff is dropped; one that
    straddles it is rewritten without its older rows and logged with
    the rewrite's stats, in the same commit. Both are returned."""
    from kafana_spark.store import _snapshot, with_store_partitions

    store = str(tmp_path / "store")
    docs = with_store_partitions(_events_docs(spark))
    days = sorted(str(r.ds) for r in docs.select("ds").distinct().collect())
    cutoff = days[2]
    write_store(docs.where(F.col("ds") < cutoff).drop("ds").coalesce(1),
                store, "old")
    write_store(docs.drop("ds").coalesce(1), store, "all")
    files = _hot_files(store)
    (old,) = [p for p in files if p.startswith("old-part-")]
    (straddling,) = [p for p in files if p.startswith("all-part-")]
    stats = files[straddling]
    assert files[old]["ds_max"] < cutoff
    assert (stats["ds_min"], stats["ds_max"]) == (days[0], days[-1])
    pre, version = _rows(spark, store), _snapshot(store).version

    removed = retention(store, cutoff)

    assert removed == sorted(os.path.join(store, p)
                             for p in (old, straddling))
    assert _snapshot(store).version == version + 1
    assert _rows(spark, store) == [r for r in pre if r[2] >= cutoff]
    assert list(_hot_files(store).values()) == [
        {"ds_min": cutoff, "ds_max": days[-1], "topics": stats["topics"]}]
    _assert_no_leftovers(spark, store)


def test_write_store_runs_as_many_jobs_as_the_partitioned_write(spark,
                                                                tmp_path):
    """The hot file's stats come from ``observe`` inside its write job:
    one ``write_store`` of the limit-fed fixture runs two jobs (the
    limit's shuffle stage and the write), as the ``partitionBy`` write
    it replaced did."""
    store = str(tmp_path / "store")
    docs = _events_docs(spark)
    sc = spark.sparkContext
    group = f"write-store-{os.path.basename(tmp_path)}"
    sc.setJobGroup(group, group)
    try:
        write_store(docs, store)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2


# ------------------------------------------- serving the cold tier from memory

def _answer(df):
    """Sorted ``_id``s and ``count()`` of a frame."""
    return sorted(r._id for r in df.select("_id").collect()), df.count()


def _aggregations(df):
    """Sorted rows of each aggregating request kind over ``df``."""
    return [sorted(a.collect(), key=str)
            for a in aggregating_requests(df).values()]


def _assert_fresh(spark, store, monkeypatch):
    """A deduplicated read equals a read that bypasses the serving
    cache (budget 0) in its ``_id``s, count and aggregations (a small
    served tier is one partition, the bypass a multi-partition scan);
    returns its answer."""
    import kafana_spark.store as store_mod

    served = read_store(spark, store)
    got, aggs = _answer(served), _aggregations(served)
    with monkeypatch.context() as m:
        m.setattr(store_mod, "SERVE_CACHE_BYTES", 0)
        scanned = read_store(spark, store)
        assert _answer(scanned) == got
        assert _aggregations(scanned) == aggs
    return got


def _served_store(spark, store, n=70):
    """The first ``n`` of 100 docs, compacted and read once, so the
    serving cache holds the store's cold tier; returns all 100 docs."""
    docs = _events_docs(spark, 100)
    write_store(docs.orderBy("_id").limit(n), store, "b0")
    compact(spark, store)
    assert read_store(spark, store) is read_store(spark, store)
    assert read_store(spark, store).is_cached
    return docs


def test_served_store_shows_an_append_after_compact(spark, tmp_path,
                                                    monkeypatch):
    """The hot tier is scanned on every read: an append after the
    cached read shows at once, and its 70 redelivered ``_id``s are still
    deduplicated."""
    store = str(tmp_path / "store")
    docs = _served_store(spark, store)

    write_store(docs, store, "b1")

    ids, n = _assert_fresh(spark, store, monkeypatch)
    assert ids == sorted(r._id for r in docs.select("_id").collect())
    assert n == 100


def test_served_store_shows_a_second_compact(spark, tmp_path,
                                             monkeypatch):
    store = str(tmp_path / "store")
    docs = _served_store(spark, store)
    write_store(docs, store, "b1")

    compact(spark, store)

    ids, n = _assert_fresh(spark, store, monkeypatch)
    assert (len(set(ids)), n) == (100, 100)


def test_served_store_shows_retention(spark, tmp_path, monkeypatch):
    store = str(tmp_path / "store")
    _served_store(spark, store, n=100)
    pre = _rows(spark, store)
    cutoff = sorted({d for _, _, d in pre})[1]

    assert retention(store, cutoff)

    ids, n = _assert_fresh(spark, store, monkeypatch)
    assert ids == [i for i, _, d in pre if d >= cutoff]
    assert 0 < n < 100


def test_retention_of_every_cold_day_drops_the_served_tier(spark, tmp_path):
    """A log left with no cold files drops the store's cached cold tier
    at the next read instead of keeping it pinned until eviction."""
    import kafana_spark.store as store_mod

    store = str(tmp_path / "store")
    _served_store(spark, store, n=100)
    served = read_store(spark, store)

    assert retention(store, "9999-12-31")

    assert read_store(spark, store).count() == 0
    assert not served.is_cached
    assert store not in store_mod._served


def test_served_store_shows_a_widened_schema(spark, tmp_path, monkeypatch):
    """An append that adds a column changes the logged schema, so the
    cold tier is read again with it: the new column is readable."""
    store = str(tmp_path / "store")
    _served_store(spark, store)
    wide = enrich(events_as_kafka_records(
        load_table(spark, SF_SMOKE, "events").limit(100)),
        extract_json={"props_k": ("props", "$.k", "int")})

    write_store(wide, store, "b1")

    _assert_fresh(spark, store, monkeypatch)
    has_k = F.col("props_k").isNotNull()
    assert read_store(spark, store, dedup=False).where(has_k).count() \
        == wide.where(has_k).count() > 0


@pytest.fixture(scope="module")
def three_stores(spark, tmp_path_factory):
    """Three compacted stores of the same 100 docs, and the bytes of
    each one's cold tier."""
    root = tmp_path_factory.mktemp("served")
    docs = _events_docs(spark, 100)
    stores = [str(root / s) for s in "abc"]
    for s in stores:
        write_store(docs, s, "b0")
        compact(spark, s)
    return stores, [sum(map(os.path.getsize, table_files(s)))
                    for s in stores]


def test_serving_cache_evicts_least_recently_served(spark, three_stores,
                                                    monkeypatch):
    """Under a budget that holds two of three stores' cold tiers,
    serving the third evicts the least recently served; a cold tier
    over the budget is a plain scan; another session's entries are
    dropped."""
    import kafana_spark.store as store_mod

    stores, (a, b, c) = three_stores
    monkeypatch.setattr(store_mod, "SERVE_CACHE_BYTES", a + max(b, c))
    fa, fb = (read_store(spark, s) for s in stores[:2])
    assert read_store(spark, stores[0]) is fa    # a is now the newest

    fc = read_store(spark, stores[2])

    assert (fa.is_cached, fb.is_cached, fc.is_cached) == (True, False, True)

    monkeypatch.setattr(store_mod, "SERVE_CACHE_BYTES", a - 1)
    over = read_store(spark, stores[0])
    assert not over.is_cached and not fa.is_cached
    assert over.count() == 100

    monkeypatch.setattr(store_mod, "SERVE_CACHE_BYTES", a)
    fa = read_store(spark, stores[0])
    assert fa.is_cached
    assert read_store(spark.newSession(), stores[0]).count() == 100
    assert not fa.is_cached


def test_serving_cache_holds_under_racing_readers(spark, three_stores,
                                                  monkeypatch):
    """Eight threads read three stores through a cache that holds two:
    every miss evicts, yet the cache stays within its budget and no
    cached frame escapes it (a lost update would leak one)."""
    import sys
    import threading

    import kafana_spark.store as store_mod

    stores, (a, b, c) = three_stores
    monkeypatch.setattr(store_mod, "SERVE_CACHE_BYTES", a + max(b, c))
    got, errors = [], []

    def reader(i):
        try:
            for j in range(12):
                got.append(read_store(spark, stores[(i + j) % 3]))
        except Exception as exc:     # reported below, with the thread's
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader, args=(i,))
                   for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and len(got) == 96
    served = [s.frame for s in store_mod._served.values()]
    assert sum(s.nbytes for s in store_mod._served.values()) \
        <= store_mod.SERVE_CACHE_BYTES
    assert {id(f) for f in got if f.is_cached} <= {id(f) for f in served}
