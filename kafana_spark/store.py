"""The indexed store: partitioned append-only Parquet changelog.

Replaces the reference's Elasticsearch index (ES 6.8, one index per
topic, dynamic mapping — /root/reference/kafana.http:72-78,
docker-compose.yml:72-78). Design:

- append-only Parquet partitioned by ``topic`` (≈ per-topic index) and
  ``ds`` (UTC date of record timestamp, ≈ rollover/retention boundary,
  /root/reference/README.md:14). Partition pruning replaces ES shard
  routing; parquet min/max + dictionary stats replace the skip index.
- one writer, one layout: ``write_store`` appends every batch, loaded
  or streamed, as ``<batch_id>-part-*`` files under ``topic=/ds=``;
  re-writing a batch id replaces its files. Bloom filters on
  ``key``/``_id`` go only on the files ``compact``/``merge_upsert``
  rewrite; small appended files carry none.
- idempotency on replay (ES upsert by _id, kafana.http:76) is provided
  by dedup-on-read over ``_id`` — observably identical to the ES
  behavior and needs no table format beyond Parquet.
- "latest state per key" is a VIEW over the changelog (README.md:11:
  "rather a change log than a table"), ordered by (partition, offset)
  within key — Kafka ordering is per-partition, so offset, not
  timestamp, is the changelog order.
"""

from __future__ import annotations

import glob
import logging
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafana_spark.ingest import TOMBSTONE, doc_id

_LOG = logging.getLogger(__name__)

PARTITION_COLS = ("topic", "ds")


def with_store_partitions(docs: DataFrame) -> DataFrame:
    """Add the store partition column ``ds`` (UTC date of timestamp)."""
    return docs.withColumn("ds", F.to_date("timestamp"))


#: needle-query columns that get parquet bloom filters in the files
#: ``compact`` and ``merge_upsert`` rewrite: `key = X` / `_id = Y`
#: lookups skip row groups whose bloom excludes the value — the ES
#: exact-term index stand-in (expected-ndv sized for ~1M keys per file).
BLOOM_COLS = ("key", "_id")
BLOOM_NDV = 1_000_000


def _bloomed(writer):
    """Attach the store's parquet bloom-filter options to a writer."""
    for c in BLOOM_COLS:
        writer = (writer
                  .option(f"parquet.bloom.filter.enabled#{c}", "true")
                  .option(f"parquet.bloom.filter.expected.ndv#{c}",
                          str(BLOOM_NDV)))
    return writer


def _partition_dirs(root: str) -> list[str]:
    """The ``topic=/ds=`` partition dirs under ``root``."""
    return glob.glob(os.path.join(glob.escape(root), "topic=*", "ds=*"))


def write_store(docs: DataFrame, path: str,
                batch_id: str | None = None) -> None:
    """Append enriched documents to the store — its only writer — as
    batch ``batch_id`` (a fresh uuid when omitted).

    Stages the batch in ``<path>/_staging/<batch_id>`` (hidden from
    partition discovery), deletes the files an earlier attempt of that
    batch left, moves each staged file into ``topic=/ds=`` as
    ``<batch_id>-<name>`` and drops the staging dir, so a replayed or
    half-moved batch replaces its own files instead of duplicating.
    """
    bid = batch_id or uuid.uuid4().hex
    base = path.rstrip("/")
    stage = os.path.join(base, "_staging", bid)
    (with_store_partitions(docs).write.mode("overwrite")
     .partitionBy(*PARTITION_COLS).parquet(stage))
    for part in _partition_dirs(base):
        for name in os.listdir(part):
            if name.startswith(f"{bid}-part-"):
                os.remove(os.path.join(part, name))
    for part in _partition_dirs(stage):
        dst = os.path.join(base, os.path.relpath(part, stage))
        os.makedirs(dst, exist_ok=True)
        for name in os.listdir(part):
            if name.endswith(".parquet"):
                os.rename(os.path.join(part, name),
                          os.path.join(dst, f"{bid}-{name}"))
    shutil.rmtree(stage)


#: merge-in-progress marker: while present and fresh, readers skip
#: crash recovery so a reader racing a LIVE merge's park/rename window
#: cannot mistake an in-flight swap for a crash and rename a parked
#: dir back over the merge's staged result (ADVICE.md r5). A marker
#: older than this is a crash leftover and recovery proceeds.
MERGE_MARKER = ".merge-inprogress"
MERGE_MARKER_STALE_SEC = 600


def _recover_merge(path: str, ignore_marker: bool = False) -> list[str]:
    """Finish or roll back a partition swap interrupted by a crash.

    ``merge_upsert``'s per-partition swap has a window between parking
    the live dir as ``.merge-old.ds=<date>`` and renaming the staged
    dir in, during which the partition exists only under its parked
    name. This pass (run at the start of every merge AND by
    ``read_store`` before reading) repairs either outcome: a parked
    copy next to a live dir means the swap completed and the copy is
    garbage — drop it; a parked copy with no live dir means the swap
    was interrupted — rename it back (a rollback: the interrupted
    merge's staged result for that partition is discarded, so the
    caller must re-run the same merge to land those updates).

    The parked name is dot-prefixed ON PURPOSE: Spark/Hadoop partition
    discovery only hides ``_``/``.``-prefixed paths, so a plain
    ``ds=<date>.merge-old`` sibling would be read as a partition
    between a crash and the next merge (duplicate _ids + a string ds
    value). Returns the partition dirs that were rolled back (restored
    from the parked copy) and logs them, so operators know the prior
    merge must be retried.
    """
    rolled_back: list[str] = []
    base = path.rstrip("/")
    if not os.path.isdir(base):
        return rolled_back
    marker = os.path.join(base, MERGE_MARKER)

    def _merge_live() -> bool:
        if ignore_marker or not os.path.exists(marker):
            return False
        try:
            age = time.time() - os.path.getmtime(marker)
        except OSError:       # marker vanished between check and stat
            return False
        if age < MERGE_MARKER_STALE_SEC:
            return True
        try:                  # crash leftover: clear, recover normally
            os.remove(marker)
        except FileNotFoundError:
            pass              # a concurrent reader already cleared it
        return False

    if _merge_live():
        # a merge is (very likely) live right now — parked dirs are
        # its in-flight swap state, not crash debris; leave them
        return rolled_back
    for topic_dir in os.listdir(base):
        tdir = os.path.join(base, topic_dir)
        if not (os.path.isdir(tdir) and topic_dir.startswith("topic=")):
            continue
        for name in os.listdir(tdir):
            # current parked form ".merge-old.ds=<date>" plus the legacy
            # "ds=<date>.merge-old" suffix form, repaired identically
            if name.startswith(".merge-old."):
                dst_name = name[len(".merge-old."):]
            elif name.endswith(".merge-old"):
                dst_name = name[: -len(".merge-old")]
            else:
                continue
            old = os.path.join(tdir, name)
            dst = os.path.join(tdir, dst_name)
            if os.path.isdir(dst):
                shutil.rmtree(old)
            else:
                # re-check the marker at the last instant: a merge that
                # started AFTER the entry check parks dirs mid-scan, and
                # rolling one back here would fight its swap (the writer
                # also re-parks on a lost race — see merge_upsert — so
                # this check narrows the window rather than carrying the
                # whole guarantee)
                if _merge_live():
                    return rolled_back
                os.rename(old, dst)
                rolled_back.append(dst)
    if rolled_back:
        _LOG.warning(
            "merge recovery rolled back %d partition(s) (%s): the "
            "interrupted merge's updates for these partitions were "
            "discarded — re-run the same merge to apply them",
            len(rolled_back), ", ".join(rolled_back))
    return rolled_back


def merge_upsert(spark: SparkSession, path: str, updates: DataFrame) -> int:
    """MERGE (upsert on ``_id``) into the plain-parquet store: the
    Delta/Iceberg ``MERGE WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT``
    contract, implemented as partition-granular copy-on-write — the
    env hosts no table format, and at 100 TB this is exactly what those
    formats do underneath (rewrite affected files, commit atomically),
    just at partition rather than file granularity.

    Plan shape: only partitions named by the updates are READ (the
    touched-set semi-join prunes the scan to those directories), rows
    whose ``_id`` is being replaced are anti-joined out (updates
    broadcast — an update batch is small next to the store), and the
    union is staged to a sibling directory, then swapped in with
    per-partition renames. Untouched partitions are never read, never
    written, and keep their files byte-identical. A crash mid-swap
    leaves at most one partition parked under its ``.merge-old`` name
    (no partition is ever half-written); ``_recover_merge`` runs at the
    start of every merge and restores or garbage-collects that copy, so
    the store self-heals on the next merge after a crash.

    Assumes updates keep each record's original ``ds`` (true by
    construction: ``ds`` derives from the record timestamp, which is
    part of the record identity in the changelog model). Returns the
    number of partitions rewritten.
    """
    # single-writer contract (local-FS store): the merging process owns
    # the store, so a marker left by a PRIOR crashed merge must not
    # block ITS recovery — ignore_marker, then take the marker for the
    # duration of the swap so concurrent readers stand down.
    _recover_merge(path, ignore_marker=True)
    up = with_store_partitions(updates) if "ds" not in updates.columns \
        else updates
    touched = up.select(*PARTITION_COLS).distinct()
    existing = (spark.read.parquet(path)
                .join(F.broadcast(touched), list(PARTITION_COLS),
                      "left_semi"))
    keep = existing.join(F.broadcast(up.select("_id").distinct()),
                         "_id", "left_anti")
    merged = keep.unionByName(up.select(*existing.columns))

    base = path.rstrip("/")
    tmp = base + ".merge-tmp"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    _bloomed(merged.write.mode("overwrite")
             .partitionBy(*PARTITION_COLS)).parquet(tmp)

    marker = os.path.join(base, MERGE_MARKER)
    os.makedirs(base, exist_ok=True)
    with open(marker, "w") as fh:
        fh.write(str(os.getpid()))
    swapped = 0
    try:
        for topic_dir in os.listdir(tmp):
            tsrc = os.path.join(tmp, topic_dir)
            if not (os.path.isdir(tsrc) and topic_dir.startswith("topic=")):
                continue
            os.makedirs(os.path.join(base, topic_dir), exist_ok=True)
            for ds_dir in os.listdir(tsrc):
                src = os.path.join(tsrc, ds_dir)
                dst = os.path.join(base, topic_dir, ds_dir)
                # dot-prefixed park name: hidden from Spark/Hadoop
                # partition discovery, so a crash mid-swap never exposes
                # stale rows as a readable partition (see _recover_merge)
                old = os.path.join(base, topic_dir, ".merge-old." + ds_dir)
                if os.path.isdir(old):
                    shutil.rmtree(old)
                if os.path.isdir(dst):
                    os.rename(dst, old)
                try:
                    os.rename(src, dst)
                except OSError:
                    # a reader that entered _recover_merge before this
                    # merge took the marker may have rolled the parked
                    # dir back into dst mid-swap; re-park it and retry
                    # once — the marker is held now, so no second
                    # rollback can race this window
                    if os.path.isdir(dst):
                        shutil.rmtree(old, ignore_errors=True)
                        os.rename(dst, old)
                        os.rename(src, dst)
                    else:
                        raise
                if os.path.isdir(old):
                    shutil.rmtree(old)
                swapped += 1
    finally:
        # remove the marker on success AND on failure: a surviving
        # process that caught the error must let readers recover; a
        # hard crash leaves the marker, which goes stale after
        # MERGE_MARKER_STALE_SEC and recovery proceeds
        if os.path.exists(marker):
            os.remove(marker)
    shutil.rmtree(tmp)
    return swapped


def read_store(spark: SparkSession, path: str, dedup: bool = True) -> DataFrame:
    """Read the changelog; optionally dedup replayed records by _id.

    Dedup-on-read mirrors the ES sink's idempotent upsert (same _id ⇒
    one logical document). All replays of an _id are byte-identical by
    construction, so any winner is correct.

    Runs merge-crash recovery first so a read between a crash and the
    next merge never sees a partition parked mid-swap (local-FS only;
    the check is a directory listing, negligible next to the scan).
    """
    _recover_merge(path)
    df = spark.read.parquet(path)
    if not dedup:
        return df
    return df.dropDuplicates(["_id"])


def compact(spark: SparkSession, path: str,
            max_records_per_file: int = 1_000_000,
            cluster_by: tuple[str, ...] = ("key", "offset")) -> None:
    """Rewrite the store so each (topic, ds) partition holds few,
    full-size files — the OPTIMIZE twin of the reference's "define some
    rollover conditions" advice (/root/reference/README.md:14).

    Streaming ingest leaves one small file per micro-batch per
    partition; at 100 TB that's death by file listing. One shuffle
    keyed on the partition columns lands each partition in one task;
    ``maxRecordsPerFile`` re-splits partitions that exceed the target
    so file size stays bounded on the high side too.

    ``cluster_by`` sorts rows within each rewritten partition (a
    Z-ORDER-lite): parquet row-group min/max stats on the sort columns
    become disjoint ranges, so needle queries (`key = X`) skip most
    row groups instead of scanning the day.

    Staged rewrite: the compacted copy is written to a sibling temp
    directory and swapped in with two renames, so a failure mid-write
    never touches the live store (the in-place overwrite it replaces
    could lose committed partitions on plain parquet). A crash between
    the renames leaves the previous store at ``<path>.compact-old``.
    """
    df = spark.read.parquet(path)
    out = df.repartition(*PARTITION_COLS)
    if cluster_by:
        out = out.sortWithinPartitions(*PARTITION_COLS, *cluster_by)
    base = path.rstrip("/")
    tmp, old = base + ".compact-tmp", base + ".compact-old"
    for d in (tmp, old):
        if os.path.isdir(d):
            shutil.rmtree(d)
    _bloomed(out.write.mode("overwrite")
             .option("maxRecordsPerFile", str(max_records_per_file))
             .partitionBy(*PARTITION_COLS)).parquet(tmp)
    os.rename(base, old)
    os.rename(tmp, base)
    shutil.rmtree(old)


def retention(path: str, cutoff_ds: str) -> list[str]:
    """Drop ds partitions strictly older than ``cutoff_ds`` (ISO date).

    Metadata-only: removes partition directories, no data rewrite —
    the retention/rollover-deletion half of the reference's index-size
    bound. Returns the removed partition paths. (Local-FS walk; on an
    object store the same loop runs over the FileSystem API.)
    """
    removed: list[str] = []
    for part in _partition_dirs(path):
        ds = os.path.basename(part)[len("ds="):]
        if re.fullmatch(r"\d{4}-\d{2}-\d{2}", ds) and ds < cutoff_ds:
            shutil.rmtree(part)
            removed.append(part)
    return removed


def latest_state(docs: DataFrame, drop_tombstones: bool = True) -> DataFrame:
    """Current state per key: last record per (topic, key) by changelog order.

    Changelog order within a key is (partition, offset) — Kafka only
    orders within a partition; a key lives in one partition, so offset
    ordering is the true record order (SURVEY.md §7.3.2). Keys whose
    latest record is a tombstone are deleted from the state view.
    """
    w = (Window.partitionBy("topic", "key")
         .orderBy(F.col("partition").desc(), F.col("offset").desc()))
    state = (docs.withColumn("__rn", F.row_number().over(w))
             .where(F.col("__rn") == 1)
             .drop("__rn"))
    if drop_tombstones:
        state = state.where(F.col("message.value") != TOMBSTONE)
    return state


def delete_by_query(docs: DataFrame, predicate) -> DataFrame:
    """ES ``_delete_by_query`` in the changelog model: append one
    TOMBSTONE record per LIVE matching key instead of rewriting data
    files. A delete is then an ordinary ordered write — idempotent on
    replay, time-travelable through offsets, reclaimed by compaction —
    exactly how a deletion flows through the reference's Kafka→ES
    path (a null-value record; TombstoneAwareAvroConverter.java:26-31).

    ``predicate`` is evaluated against the LIVE state (latest record
    per key), matching ES semantics where the query sees current
    documents. Appended tombstones take offsets AFTER each
    partition's current max (row_number over the per-partition victim
    set — bounded by the delete-batch size, never the corpus), so
    ``latest_state``'s (partition, offset) ordering picks them as the
    newest record per key. Returns the appended changelog frame.

    Scale note: the rank window partitions by (topic, partition) —
    offset assignment within one Kafka partition is inherently
    sequential (the broker's own serialization point), so this is the
    minimal serial section, parallel across partitions. On the
    single-literal-partition fixture Catalyst constant-folds the
    partition spec empty (the plan shows an unpartitioned window over
    the victim batch); with a real multi-partition topic the spec is
    non-trivial.
    """
    victims = latest_state(docs).where(predicate)
    maxoff = (docs.groupBy("topic", "partition")
              .agg(F.max("offset").alias("__mo")))
    w = Window.partitionBy("topic", "partition").orderBy("key")
    tomb = (victims.join(maxoff, ["topic", "partition"])
            .withColumn("offset", F.col("__mo") + F.row_number().over(w))
            .drop("__mo")
            .withColumn("message", F.col("message")
                        .withField("value", F.lit(TOMBSTONE)))
            .withColumn("_id", doc_id())
            .select(*docs.columns))
    return docs.unionByName(tomb)


def update_by_query(docs: DataFrame, predicate,
                    set_fields: dict) -> DataFrame:
    """ES ``_update_by_query``: append a NEW VERSION of every live
    matching record with the given ``message`` fields replaced
    ({field: Column}) — same append-after-max-offset discipline as
    delete_by_query, so the update wins the latest-state view while
    the prior version stays replayable below it.

    ``message.value`` (the rendered JSON string) is NOT re-rendered
    automatically — the raw decoded value is not recoverable from the
    enriched frame; callers that need it in sync include it in
    ``set_fields`` explicitly. Returns the appended changelog frame.
    """
    victims = latest_state(docs).where(predicate)
    maxoff = (docs.groupBy("topic", "partition")
              .agg(F.max("offset").alias("__mo")))
    w = Window.partitionBy("topic", "partition").orderBy("key")
    upd = victims.join(maxoff, ["topic", "partition"]) \
        .withColumn("offset", F.col("__mo") + F.row_number().over(w)) \
        .drop("__mo")
    msg = F.col("message")
    for field, col in set_fields.items():
        msg = msg.withField(field, col)
    upd = (upd.withColumn("message", msg)
           .withColumn("_id", doc_id())
           .select(*docs.columns))
    return docs.unionByName(upd)
