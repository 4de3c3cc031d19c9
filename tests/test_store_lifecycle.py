"""Store lifecycle (compaction + retention) and skew utilities."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from kafana_spark.ingest import enrich, events_as_kafka_records
from kafana_spark.operators.skew import salted_agg, salted_join
from kafana_spark.sources.tables import load_table
from kafana_spark.store import compact, read_store, retention, write_store
from tests.conftest import SF_SMOKE


def _build_store(spark, path, appends=4):
    ev = load_table(spark, SF_SMOKE, "events").limit(200)
    recs = events_as_kafka_records(ev)
    for _ in range(appends):  # each append = small files per partition
        write_store(enrich(recs), str(path))
    return recs


def parquet_files(path):
    return glob.glob(f"{path}/**/*.parquet", recursive=True)


def test_compact_reduces_files_preserves_rows(spark, tmp_path):
    store = tmp_path / "store"
    _build_store(spark, store, appends=4)
    before_files = len(parquet_files(store))
    before = read_store(spark, str(store), dedup=False)
    before_count = before.count()
    before_ids = set(r._id for r in before.select("_id").distinct().collect())

    compact(spark, str(store))

    after = read_store(spark, str(store), dedup=False)
    assert after.count() == before_count
    assert set(r._id for r in after.select("_id").distinct().collect()) \
        == before_ids
    assert len(parquet_files(store)) < before_files


def test_retention_drops_old_ds_partitions(spark, tmp_path):
    store = tmp_path / "store"
    _build_store(spark, store, appends=1)
    ds_vals = sorted(r.ds for r in spark.read.parquet(str(store))
                     .select("ds").distinct().collect())
    assert len(ds_vals) >= 2, "fixture needs multiple days"
    cutoff = str(ds_vals[1])

    removed = retention(str(store), cutoff)

    assert removed, "should remove at least one partition"
    left = spark.read.parquet(str(store))
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


def test_store_writes_bloom_filters_on_needle_columns(spark, tmp_path):
    """compact attaches parquet bloom filters to key/_id — verified by
    the byte overhead vs a bloom-less write of identical data in the
    same layout (the pyarrow in this env doesn't expose bloom offsets
    directly). A ~1M-NDV filter outweighs a small file's data many
    times over, while row order alone moves its size by a few percent."""
    import os

    from kafana_spark.store import PARTITION_COLS, with_store_partitions

    ev = load_table(spark, SF_SMOKE, "events").limit(500)
    docs = enrich(events_as_kafka_records(ev))

    write_store(docs, str(tmp_path / "with_bloom"))
    compact(spark, str(tmp_path / "with_bloom"))
    (with_store_partitions(docs).repartition(*PARTITION_COLS).write
     .partitionBy(*PARTITION_COLS).parquet(str(tmp_path / "no_bloom")))

    size = lambda p: sum(os.path.getsize(f) for f in parquet_files(p))
    assert size(tmp_path / "with_bloom") > 2 * size(tmp_path / "no_bloom")


def test_merge_upsert_updates_inserts_and_leaves_rest_untouched(
        spark, tmp_path):
    import os

    from kafana_spark.store import merge_upsert, with_store_partitions

    store = str(tmp_path / "store")
    ev = load_table(spark, SF_SMOKE, "events").limit(400)
    docs = enrich(events_as_kafka_records(ev))
    write_store(docs, store)

    full = with_store_partitions(docs)
    parts = [tuple(r) for r in
             full.select("topic", "ds").distinct().orderBy("ds").collect()]
    assert len(parts) >= 2, "fixture must span several ds partitions"
    touched_ds = str(parts[0][1])

    # one UPDATE of an existing _id (new key value) + one INSERT with a
    # fresh _id, both landing in the oldest ds partition
    victim = (full.where(F.col("ds") == touched_ds).limit(1)
              .drop("ds").collect()[0])
    upd = (docs.where(F.col("_id") == victim._id)
           .withColumn("key", F.lit("UPDATED")))
    ins = (docs.where(F.col("_id") == victim._id)
           .withColumn("_id", F.lit("synthetic+0+999999"))
           .withColumn("offset", F.lit(999999).cast("long")))
    before = {f: os.path.getmtime(f) for f in parquet_files(store)}

    n = merge_upsert(spark, store, upd.unionByName(ins))
    assert n == 1                       # exactly one partition rewritten

    got = read_store(spark, store)
    assert got.where(F.col("_id") == victim._id).collect()[0].key \
        == "UPDATED"
    assert got.where(F.col("_id") == "synthetic+0+999999").count() == 1
    assert got.count() == full.count() + 1     # no dup of the updated _id
    # untouched partitions keep byte-identical files
    untouched = {f: m for f, m in before.items()
                 if f"ds={touched_ds}" not in f}
    after = {f: os.path.getmtime(f) for f in parquet_files(store)
             if f"ds={touched_ds}" not in f}
    assert after == untouched


def test_merge_recovers_interrupted_swap(spark, tmp_path):
    """A crash between the two swap renames parks a partition under the
    hidden .merge-old.<ds> name; the next merge restores it before
    staging anything. Covers the legacy suffix park name and a stale
    .merge-tmp staging dir from the crashed merge too."""
    import os
    import shutil

    from kafana_spark.store import merge_upsert, with_store_partitions

    store = str(tmp_path / "store")
    ev = load_table(spark, SF_SMOKE, "events").limit(400)
    docs = enrich(events_as_kafka_records(ev))
    write_store(docs, store)
    total = docs.count()

    # simulate the crash window: live dir parked away, staged dir lost
    full = with_store_partitions(docs)
    topic, ds = full.select("topic", "ds").distinct().orderBy("ds") \
        .collect()[0]
    tdir = os.path.join(store, f"topic={topic}")
    os.rename(os.path.join(tdir, f"ds={ds}"),
              os.path.join(tdir, f".merge-old.ds={ds}"))

    # also leave a completed-swap leftover on another partition, under
    # the legacy (pre-hidden) suffix name a crashed old version wrote
    other = full.select("topic", "ds").distinct().orderBy("ds") \
        .collect()[-1]
    done = os.path.join(store, f"topic={other.topic}", f"ds={other.ds}")
    shutil.copytree(done, done + ".merge-old")

    # and the staging dir the crashed merge abandoned mid-write
    stale_tmp = store + ".merge-tmp"
    os.makedirs(os.path.join(stale_tmp, f"topic={topic}", f"ds={ds}"))
    with open(os.path.join(stale_tmp, f"topic={topic}", f"ds={ds}",
                           "part-junk.parquet"), "wb") as fh:
        fh.write(b"not a parquet file")

    upd = (docs.limit(1).withColumn("key", F.lit("RECOVERED")))
    merge_upsert(spark, store, upd)

    leftovers = [p for t in os.listdir(store) if t.startswith("topic=")
                 for p in os.listdir(os.path.join(store, t))
                 if "merge-old" in p]
    assert leftovers == []
    assert not os.path.isdir(stale_tmp)    # stale staging dir replaced
    got = read_store(spark, store)
    assert got.count() == total            # parked partition restored
    assert got.where(F.col("key") == "RECOVERED").count() == 1


def test_read_store_recovers_and_hides_crash_artifacts(spark, tmp_path):
    """Between a crash and the next merge, read_store must neither see
    the parked copy as a partition (hidden dot-prefix) nor miss the
    partition whose swap was interrupted (read-time recovery)."""
    import os
    import shutil

    from kafana_spark.store import with_store_partitions

    store = str(tmp_path / "store")
    ev = load_table(spark, SF_SMOKE, "events").limit(400)
    docs = enrich(events_as_kafka_records(ev))
    write_store(docs, store)
    total = docs.count()

    full = with_store_partitions(docs)
    parts = full.select("topic", "ds").distinct().orderBy("ds").collect()
    assert len(parts) >= 2

    # completed-swap crash: live dir + parked stale copy side by side —
    # the hidden name keeps the duplicate rows out of partition discovery
    t0, d0 = parts[0]
    live0 = os.path.join(store, f"topic={t0}", f"ds={d0}")
    shutil.copytree(live0,
                    os.path.join(store, f"topic={t0}", f".merge-old.ds={d0}"))

    # interrupted-swap crash on another partition: only the parked copy
    # exists — read-time recovery must restore it before the scan
    t1, d1 = parts[-1]
    tdir1 = os.path.join(store, f"topic={t1}")
    os.rename(os.path.join(tdir1, f"ds={d1}"),
              os.path.join(tdir1, f".merge-old.ds={d1}"))

    got = read_store(spark, store, dedup=False)
    assert got.count() == total
    assert got.where(F.col("ds") == d1).count() > 0
    assert dict(got.groupBy("_id").count()
                .where(F.col("count") > 1).collect()) == {}


def test_reader_skips_recovery_while_merge_marker_fresh(spark, tmp_path):
    """A reader racing a LIVE merge must not mistake the in-flight
    park/rename window for a crash: with a fresh .merge-inprogress
    marker, _recover_merge stands down and leaves parked dirs alone;
    once the marker goes stale (crashed merge), recovery proceeds."""
    import os
    import time

    from kafana_spark.store import (
        MERGE_MARKER, _recover_merge, with_store_partitions,
    )

    store = str(tmp_path / "store")
    ev = load_table(spark, SF_SMOKE, "events").limit(200)
    docs = enrich(events_as_kafka_records(ev))
    write_store(docs, store)

    full = with_store_partitions(docs)
    topic, ds = full.select("topic", "ds").distinct().orderBy("ds") \
        .collect()[0]
    tdir = os.path.join(store, f"topic={topic}")
    parked = os.path.join(tdir, f".merge-old.ds={ds}")
    os.rename(os.path.join(tdir, f"ds={ds}"), parked)

    marker = os.path.join(store, MERGE_MARKER)
    with open(marker, "w") as fh:
        fh.write("test")

    # fresh marker → no recovery, parked dir untouched
    assert _recover_merge(store) == []
    assert os.path.isdir(parked)

    # stale marker → treated as crash debris: cleared, swap rolled back
    old = time.time() - 7200
    os.utime(marker, (old, old))
    rolled = _recover_merge(store)
    assert rolled and not os.path.exists(marker)
    assert not os.path.isdir(parked)
    assert os.path.isdir(os.path.join(tdir, f"ds={ds}"))


def test_merge_upsert_clears_its_marker(spark, tmp_path):
    """A completed merge leaves no marker behind (readers must not be
    blind to genuine crashes for the staleness window)."""
    import os

    from kafana_spark.store import MERGE_MARKER, merge_upsert

    store = str(tmp_path / "store")
    ev = load_table(spark, SF_SMOKE, "events").limit(200)
    docs = enrich(events_as_kafka_records(ev))
    write_store(docs, store)
    merge_upsert(spark, store, docs.limit(1).withColumn(
        "key", F.lit("UPD")))
    assert not os.path.exists(os.path.join(store, MERGE_MARKER))
