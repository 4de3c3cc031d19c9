"""The indexed store: partitioned append-only Parquet changelog.

Replaces the reference's Elasticsearch index (ES 6.8, one index per
topic, dynamic mapping — /root/reference/kafana.http:72-78,
docker-compose.yml:72-78). Design:

- two tiers of append-only Parquet. The HOT tier is what ingest
  writes: each micro-batch lands as one file per input partition at
  the store root, unpartitioned and sorted by ``topic``/``timestamp``
  (``HOT_SORT_BY``), so a batch's cost does not grow with the days and
  topics it spans. The COLD tier is what ``compact`` writes: files
  partitioned by ``topic`` (≈ per-topic index) and ``ds`` (UTC date of
  record timestamp, ≈ rollover/retention boundary, the reference's
  README.md:14). Partition pruning replaces ES shard routing; parquet
  min/max + dictionary stats replace the skip index. A file's
  ``_log/`` value, not its directory, names its tier: a cold file's
  is its ``{topic, ds}``, a hot file's its stats
  ``{ds_min, ds_max, topics}``. ``read_store`` reads the two tiers
  apart and unions them by name. Do not read the store with
  ``spark.read.parquet(<root>)``: on a store that holds both tiers it
  silently reads only the ``topic=`` dirs and skips the hot files.
- one commit log: every writer lands ``<owner>-part-*`` files in its
  tier and publishes them as one atomically created
  ``_log/<version>.json`` entry of added and removed files; deletes
  happen only after it. Readers read the latest snapshot's files with
  the logged schema, so a crash at any step leaves the old or the new
  snapshot visible (Structured Streaming's file-sink log, SIGMOD 2018).
  The same log backs every table the library persists (the index
  families, rollups, model tables): ``append_table`` commits one batch
  (redelivery replaces it; optional per-batch ``meta`` in its entry),
  ``replace_table`` one rebuild that drops every live file, and
  ``read_table`` reads the snapshot — with whatever partition columns
  the caller passes (the token index ``bucket``, the rest none). The
  store's own writers and ``read_store`` use the same commit.
  Appends may race each other and one maintenance call
  (``compact``/``retention``) at a time. A batch id names files, so
  it must be a safe token (``_check_batch``).
- idempotency on replay (ES upsert by _id, kafana.http:76): a replayed
  batch id replaces its own files, and ``compact`` moves every hot
  file into the cold tier keeping one row per ``_id``. Its log entry
  marks the snapshot's ``_id``s unique, and ``read_store(dedup=True)``
  runs ``dropDuplicates("_id")`` only on a snapshot that is not so
  marked (appended to since the last compact). No writer rewrites a
  stored ``_id``: an update appends a new record at a new offset
  (``update_by_query``), so every replay of an ``_id`` is the same
  bytes and either dedup may keep any of them.
- serving from memory: ``read_store`` keeps each store's cold tier
  cached, keyed by (session, store path, logged schema, sorted cold
  files), and reuses it until a commit changes that key. Logged files
  never change, so the log makes invalidation exact: only ``compact``,
  ``retention`` and a schema change move the key, and streaming appends
  (hot files, scanned on every read) do not churn it. The cache holds
  at most ``SERVE_CACHE_BYTES`` of cold files over all stores, least
  recently served evicted first; a larger cold tier reads as a file
  scan. A cold tier of at most ``spark.sql.files.openCostInBytes`` is
  cached as one partition, so a request over it alone plans no
  Exchange and runs one task; a larger tier, or one unioned with hot
  files, plans its shuffles as a scan would. A cached tier prunes
  in-memory batches by their column stats instead of parquet
  partitions and row groups, and its rows carry no input file name.
- "latest state per key" is a VIEW over the changelog (README.md:11:
  "rather a change log than a table"), ordered by (partition, offset)
  within key — Kafka ordering is per-partition, so offset, not
  timestamp, is the changelog order.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import json
import os
import shutil
import threading
import uuid
from collections import OrderedDict
from dataclasses import dataclass, field
from urllib.parse import unquote

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from kafana_spark.ingest import TOMBSTONE, doc_id

PARTITION_COLS = ("topic", "ds")
LOG_DIR = "_log"
#: ops whose entry lists the whole live set: replay starts at the newest
_BASE_OPS = ("compact", "replace")
#: the batch id of a ``replace`` commit's files
BASE = "base"
#: a cold write re-splits a partition's output past this many rows
COMPACT_MAX_RECORDS = 1_000_000
#: ``compact`` sorts each rewritten partition by these columns
COMPACT_CLUSTER_BY = ("key", "offset")
#: a hot file's rows are sorted by these columns
HOT_SORT_BY = ("topic", "timestamp")
#: on-disk parquet bytes of cold tiers ``read_store`` may keep cached,
#: summed over every store. Spark's local-mode default heap is 1 GiB,
#: of which unified (storage + execution) memory is about 430 MB; a
#: decoded in-memory columnar copy of parquet runs a few times its
#: file size, so 64 MiB of files leaves most of that pool to execution
#: (a cached block that does not fit spills to local disk).
SERVE_CACHE_BYTES = 64 << 20


def with_store_partitions(docs: DataFrame) -> DataFrame:
    """Add the store partition column ``ds`` (UTC date of timestamp)."""
    return docs.withColumn("ds", F.to_date("timestamp"))


def _writer(df: DataFrame, partition_by=()):
    """``df``'s writer into a stage dir, partitioned by ``partition_by``."""
    return df.write.mode("overwrite").partitionBy(*partition_by)


def _data_files(root: str):
    """Root-relative paths of the parquet files under ``root``, outside
    the ``_``/``.`` dirs readers ignore (``_log``, ``_staging``)."""
    for d, dirs, names in os.walk(root):
        dirs[:] = [n for n in dirs if not n.startswith(("_", "."))]
        for n in names:
            if n.endswith(".parquet"):
                yield os.path.relpath(os.path.join(d, n), root)


def _partition_values(rel_dir: str) -> dict:
    """``{column: value}`` of a ``col=value/…`` partition dir."""
    return {k: unquote(v) for k, v in
            (d.split("=", 1) for d in rel_dir.split(os.sep) if d)}


def _is_hot(value: dict) -> bool:
    """Whether a store file's log value is a hot file's stats."""
    return "topics" in value


def _span(value: dict) -> tuple[list, str | None, str | None]:
    """(topics, first ds, last ds) a store file's rows may hold; the days
    are ``None`` for a hot file without rows."""
    if _is_hot(value):
        return value["topics"], value["ds_min"], value["ds_max"]
    return [value["topic"]], value["ds"], value["ds"]


def _owned(rel: str, batch: str) -> bool:
    """Whether a table file belongs to batch ``batch``."""
    return os.path.basename(rel).startswith(f"{batch}-part-")


def _check_batch(batch: str) -> str:
    """``batch`` if it is one file-name token (``_staging/<batch>``
    stays in the table) that owns no other batch's or maintenance
    call's ``-part-`` files; else ``ValueError``."""
    if (not batch or "/" in batch or os.sep in batch
            or batch.startswith(("_", ".")) or "-part-" in batch
            # "merge": older stores may still hold ``merge-part-*`` files
            or batch in (BASE, "compact", "merge", "retention")):
        raise ValueError(f"unsafe batch id {batch!r}")
    return batch


class CommitConflict(RuntimeError):
    """A file this commit removes was already removed by a newer one."""


@dataclass
class _Snapshot:
    """The table at ``version``: live files (table-relative path → its
    log value: partition values, or a hot store file's stats), stored
    schema, whether its ``_id``s are unique, and the entries replayed."""
    version: int = -1
    files: dict = field(default_factory=dict)
    schema: str | None = None
    unique_ids: bool = False
    entries: list = field(default_factory=list)

    def apply(self, entry: dict) -> None:
        for p in entry["remove"]:
            self.files.pop(p, None)
        self.files.update(entry["add"])
        self.version, self.schema = entry["version"], entry["schema"]
        # entries written before the flag existed promise nothing
        self.unique_ids = entry.get("unique_ids", False)
        self.entries.append(entry)


def _entry_path(base: str, version: int) -> str:
    return os.path.join(base, LOG_DIR, f"{version:020d}.json")


def _load(base: str, version: int) -> dict:
    with open(_entry_path(base, version)) as fh:
        return json.load(fh)


def _snapshot(base: str) -> _Snapshot:
    """The latest snapshot, replayed from the newest ``compact`` or
    ``replace`` entry (which lists every live file) onward."""
    try:
        names = os.listdir(os.path.join(base, LOG_DIR))
    except FileNotFoundError:
        names = []
    chain = []
    for v in sorted((int(n[:-5]) for n in names if n.endswith(".json")),
                    reverse=True):
        chain.append(_load(base, v))
        if chain[-1]["op"] in _BASE_OPS:
            break
    snap = _Snapshot()
    for entry in reversed(chain):
        snap.apply(entry)
    return snap


def _commit(base: str, snap: _Snapshot, op: str, add: dict,
            remove: list[str] = (), schema: str | None = None,
            batch: str | None = None, meta: dict | None = None) -> None:
    """Publish ``add``/``remove`` as the next version after ``snap``
    (a temp file hard-linked to the version name: whole or absent) and
    advance ``snap`` to it. On a lost race the newer entries are
    replayed and the commit retried: an ``append`` re-derives the files
    of its batch it replaces and a ``replace`` every live file, so
    neither conflicts; other commits raise ``CommitConflict`` if a file
    they remove is already gone.

    The entry's ``unique_ids`` says no two live rows share an ``_id``:
    true after a ``compact`` that rewrote every live file, inherited
    through a ``retention`` (removing files keeps ids unique), false
    after an append."""
    remove = set(remove)
    os.makedirs(os.path.join(base, LOG_DIR), exist_ok=True)
    tmp = os.path.join(base, LOG_DIR, f".{uuid.uuid4().hex}.tmp")
    try:
        while True:
            if op == "append":      # a replayed batch replaces its own
                remove = {p for p in snap.files if _owned(p, batch)}
            elif op == "replace":   # a rebuild defines the whole table
                remove = set(snap.files)
            elif not remove <= snap.files.keys():
                raise CommitConflict(
                    f"{op} on {base}: a newer commit removed its files")
            entry = {"version": snap.version + 1, "op": op, "batch": batch,
                     "schema": schema or snap.schema, "add": add,
                     "remove": sorted(remove),
                     "unique_ids": op == "retention" and snap.unique_ids}
            if meta is not None:
                entry["meta"] = meta
            if op in _BASE_OPS:     # the whole live set: replay starts here
                kept = {p: v for p, v in snap.files.items()
                        if p not in remove}
                entry["add"] = kept | add
                # a batch appended during the rewrite may repeat its ids
                entry["unique_ids"] = op == "compact" and not kept
            with open(tmp, "w") as fh:
                json.dump(entry, fh)
                fh.flush()
                os.fsync(fh.fileno())
            try:
                os.link(tmp, _entry_path(base, entry["version"]))
            except FileExistsError:     # another writer won this version
                while os.path.exists(_entry_path(base, snap.version + 1)):
                    snap.apply(_load(base, snap.version + 1))
                continue
            snap.apply(entry)
            return
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)


def _collect_garbage(base: str, snap: _Snapshot,
                     owner: str | None = None) -> None:
    """Delete files ``snap`` does not hold that a replayed entry removed
    or a crashed attempt of ``owner`` left uncommitted, then ``owner``'s
    staging dir — never another writer's in-flight files. Emptied
    partition dirs stay: a concurrent writer may be moving a file into
    one."""
    dead = {p for e in snap.entries for p in e["remove"]}
    for rel in _data_files(base):
        if rel not in snap.files and (
                rel in dead or (owner and _owned(rel, owner))):
            os.remove(os.path.join(base, rel))
    if owner:
        shutil.rmtree(os.path.join(base, "_staging", owner),
                      ignore_errors=True)


def _land(base: str, snap: _Snapshot, op: str, owner: str, write,
          remove: list[str] = (), schema: str | None = None,
          batch: str | None = None, meta: dict | None = None) -> dict:
    """``write(stage)`` a parquet copy to ``_staging/<owner>``, move its
    files into the same partition dirs under ``base`` as
    ``<owner>-<name>``, commit them, then collect garbage. Each file's
    log value is what ``write`` returned, or its partition values if
    that is ``None``. Returns the added files."""
    stage = os.path.join(base, "_staging", owner)
    value = write(stage)
    add = {}
    for rel in sorted(_data_files(stage)):
        rel_dir, name = os.path.split(rel)
        os.makedirs(os.path.join(base, rel_dir), exist_ok=True)
        dst = os.path.join(rel_dir, f"{owner}-{name}")
        os.rename(os.path.join(stage, rel), os.path.join(base, dst))
        add[dst] = _partition_values(rel_dir) if value is None else value
    _commit(base, snap, op, add, remove, schema, batch, meta)
    _collect_garbage(base, snap, owner)
    return add


def _read(spark: SparkSession, base: str, schema: str | None,
          files) -> DataFrame:
    """The given snapshot files under ``base``, read with the stored
    schema (no inference job); partition columns come from the paths
    (a file at ``base`` itself has none: its columns are its data)."""
    if schema is None:
        raise FileNotFoundError(f"no commit log under {base}")
    return (spark.read.schema(StructType.fromJson(json.loads(schema)))
            .option("basePath", base)
            .parquet(*(os.path.join(base, p) for p in files)))


@dataclass
class _Served:
    """A cold tier ``read_store`` keeps cached: its key (session, base,
    schema, sorted files), the cached frame and its files' bytes."""
    key: tuple
    frame: DataFrame
    nbytes: int


#: store base → its cached cold tier, least recently served first
_served: OrderedDict[str, _Served] = OrderedDict()
_served_lock = threading.Lock()


def _unserve(base: str) -> None:
    """Drop ``base``'s cached cold tier, if any (the caller holds the
    lock)."""
    served = _served.pop(base, None)
    if served is not None:
        with contextlib.suppress(Py4JError):    # its session was stopped
            served.frame.unpersist()


def _evict(room: int) -> None:
    """Drop the least recently served cold tiers until the rest and
    ``room`` more bytes fit ``SERVE_CACHE_BYTES`` (the caller holds the
    lock)."""
    while _served and sum(s.nbytes for s in _served.values()) + room \
            > SERVE_CACHE_BYTES:
        _unserve(next(iter(_served)))


def _serve(spark: SparkSession, base: str, schema: str | None,
           files) -> DataFrame:
    """``_read`` of a store's cold files, cached across calls while the
    same session asks for the same schema and files (logged files never
    change, so a hit is exact) and the files' bytes fit
    ``SERVE_CACHE_BYTES``; a cold tier over the budget reads as a plain
    scan. A miss replaces the store's older entry and evicts the least
    recently served stores until the budget holds the new one; entries
    of any other session are dropped.

    A cold tier of at most ``spark.sql.files.openCostInBytes`` (read on
    a miss) is cached as one partition (``coalesce(1)``: no shuffle to
    fill it). Spark prices opening a file at that many bytes of scan and
    never splits below it, so those bytes in one file would read as one
    partition anyway; but a tier of many small ``topic=/ds=`` files
    scans as several. The one-partition relation reports
    ``SinglePartition``, which already satisfies every distribution a
    group-by, window, ``dropDuplicates`` or global sort asks for, so a
    request over it plans no Exchange and runs one task. A larger tier
    keeps the scan's partitions, and its requests the scan's
    parallelism."""
    files = tuple(sorted(files))
    key = (spark, base, schema, files)
    with _served_lock:
        for b in [b for b, s in _served.items()
                  if s.key[0] is not spark or (b == base and s.key != key)]:
            _unserve(b)
        _evict(0)   # hold the entries to the current budget
        if base in _served:
            _served.move_to_end(base)
            return _served[base].frame
        df = _read(spark, base, schema, files)
        nbytes = sum(os.path.getsize(os.path.join(base, p)) for p in files)
        if nbytes > SERVE_CACHE_BYTES:
            return df
        if nbytes <= spark._jsparkSession.sessionState().conf() \
                .filesOpenCostInBytes():
            df = df.coalesce(1)
        _evict(nbytes)
        _served[base] = _Served(key, df.cache(), nbytes)
        return df


def _read_tiers(spark: SparkSession, base: str, schema: str | None,
                files: dict, read_cold=_read) -> DataFrame:
    """The given store files (path → log value): the cold ones with
    ``topic``/``ds`` from their paths, read by ``read_cold``, the hot
    ones with them from their data, unioned by name. Files of one tier
    read as one scan."""
    cold, hot = [[p for p, v in files.items() if _is_hot(v) == h]
                 for h in (False, True)]
    frames = [read(spark, base, schema, t)
              for read, t in ((read_cold, cold), (_read, hot)) if t] \
        or [_read(spark, base, schema, [])]
    return functools.reduce(DataFrame.unionByName, frames)


def _store_schema(df: DataFrame, partition_by) -> str:
    """``df``'s schema as a read returns it: partition cols last."""
    return StructType(sorted(df.schema,
                             key=lambda f: f.name in partition_by)).json()


def _land_hot(base: str, snap: _Snapshot, op: str, owner: str,
              df: DataFrame, remove: list[str] = (),
              batch: str | None = None) -> dict:
    """Land ``df`` (store columns) as hot files in one ``op`` commit:
    unpartitioned, no shuffle, one file per input partition, each sorted
    by ``HOT_SORT_BY``. Every file's log value is the stats of the whole
    write — its first and last ``ds`` and its sorted topics — which
    ``observe`` gathers inside the write job."""
    stats = Observation()
    out = (df.observe(stats, F.min("ds").alias("ds_min"),
                      F.max("ds").alias("ds_max"),
                      F.array_sort(F.collect_set("topic")).alias("topics"))
           .sortWithinPartitions(*HOT_SORT_BY))

    def write(stage):
        _writer(out).parquet(stage)
        got = stats.get
        return {"ds_min": got["ds_min"] and got["ds_min"].isoformat(),
                "ds_max": got["ds_max"] and got["ds_max"].isoformat(),
                "topics": got["topics"]}
    return _land(base, snap, op, owner, write, remove,
                 _store_schema(df, PARTITION_COLS), batch)


def _land_frame(path: str, op: str, batch: str, df: DataFrame,
                partition_by, meta: dict | None) -> None:
    """Land ``df`` as batch ``batch``'s files in one ``op`` commit."""
    base = path.rstrip("/")
    _land(base, _snapshot(base), op, batch,
          lambda stage: _writer(df, partition_by).parquet(stage),
          schema=_store_schema(df, partition_by), batch=batch, meta=meta)


def append_table(df: DataFrame, path: str, batch: str,
                 partition_by: tuple[str, ...] = (),
                 meta: dict | None = None) -> None:
    """Append ``df`` to the table at ``path`` as batch ``batch``: one
    ``append`` commit of its ``<batch>-part-*`` files, partitioned by
    ``partition_by``. Re-appending a committed batch id removes that
    batch's old files in the same commit, so a redelivered batch
    replaces its own instead of duplicating; until the commit, and
    for good if the write fails, the old files stay live. ``meta`` (a
    JSON-able dict of per-batch facts) is kept in the log entry and
    returned by ``batch_meta``. An unsafe ``batch`` (``_check_batch``)
    raises ``ValueError`` before anything is written."""
    _land_frame(path, "append", _check_batch(batch), df, partition_by, meta)


def replace_table(df: DataFrame, path: str,
                  partition_by: tuple[str, ...] = (),
                  meta: dict | None = None) -> None:
    """Make ``df`` the whole table at ``path`` (a rebuild): one
    ``replace`` commit removes every live file — a batch appended
    while it ran too — and adds ``df``'s files as batch ``BASE``.
    Replay starts at it, so earlier batches and their ``meta`` are
    forgotten. A failed write commits nothing: the table reads as
    before."""
    _land_frame(path, "replace", BASE, df, partition_by, meta)


def read_table(spark: SparkSession, path: str,
               skip_batch: str | None = None) -> DataFrame:
    """The latest snapshot of the table at ``path``, read with the
    logged schema; without the files of batch ``skip_batch`` if
    given. Raises ``FileNotFoundError`` if nothing was committed."""
    base = path.rstrip("/")
    snap = _snapshot(base)
    return _read(spark, base, snap.schema,
                 [p for p in snap.files
                  if skip_batch is None or not _owned(p, skip_batch)])


def table_files(path: str) -> dict:
    """The latest snapshot's live files (absolute path → log value:
    partition values, or a hot store file's stats); empty if nothing
    was committed."""
    base = path.rstrip("/")
    return {os.path.join(base, p): v
            for p, v in _snapshot(base).files.items()}


def batch_meta(path: str) -> dict:
    """``{batch id: meta}`` of every batch committed to the table at
    ``path`` since its last ``replace`` (``meta`` is ``None`` where
    the commit recorded none)."""
    return {e["batch"]: e.get("meta")
            for e in _snapshot(path.rstrip("/")).entries
            if e["batch"] is not None}


def write_store(docs: DataFrame, path: str,
                batch: str | None = None) -> None:
    """Append enriched documents to the store's hot tier as batch
    ``batch`` (a fresh uuid when omitted): one ``append`` commit of
    its ``<batch>-part-*`` files at the store root, one per input
    partition, sorted by ``HOT_SORT_BY``, each logged with the batch's
    ``ds`` range and topics. A replayed batch id replaces its own files
    instead of duplicating; a retry after a crash deletes what the
    crashed attempt left uncommitted. An unsafe ``batch`` raises
    ``ValueError`` before anything is written (``_check_batch``).
    """
    base = path.rstrip("/")
    batch = uuid.uuid4().hex if batch is None else _check_batch(batch)
    _land_hot(base, _snapshot(base), "append", batch,
              with_store_partitions(docs), batch=batch)


def read_store(spark: SparkSession, path: str, dedup: bool = True) -> DataFrame:
    """Read exactly the latest snapshot's files, with the logged schema
    (an empty snapshot reads as an empty frame; files no commit lists
    are never seen); optionally dedup replayed records by _id. The cold
    and the hot tier are read apart and unioned by name.

    The cold tier is served from memory: the first read caches it, keyed
    by (session, store path, logged schema, sorted cold files), and
    later reads reuse the cached frame until a commit changes that key —
    only ``compact``, ``retention`` or a schema change do, since logged
    files never change, so the cache never serves a stale snapshot. The
    hot tier is scanned on every read, so appends show at once; a
    snapshot with no hot files returns the same cached frame each time.
    A snapshot with no cold files drops the store's cached cold tier
    (``retention`` past every cold day). A cold tier whose files exceed
    ``SERVE_CACHE_BYTES`` reads as a
    plain file scan with partition pruning; serving a store evicts the
    least recently served ones the budget cannot also hold. A cold tier
    within ``spark.sql.files.openCostInBytes`` is cached as one
    partition: it reports ``SinglePartition``, so a group-by, window,
    ``dropDuplicates`` or global sort over it alone needs no Exchange
    and a request runs one job of one task. A larger tier keeps its
    scan's partitions, and a union with hot files has no single
    partition, so both plan their Exchange as before. A cached
    cold tier's rows carry no file: ``input_file_name()`` reads ``""``
    and ``inputFiles()`` lists nothing; ``table_files`` names the
    snapshot's files.

    Dedup mirrors the ES sink's idempotent upsert (same _id ⇒ one
    logical document). All replays of an _id are byte-identical by
    construction, so any winner is correct. A snapshot the log marks
    ``unique_ids`` (``compact`` deduplicated it at write) is returned
    as is; any other pays a ``dropDuplicates`` shuffle over both tiers.
    """
    base = path.rstrip("/")
    snap = _snapshot(base)
    if all(map(_is_hot, snap.files.values())):
        with _served_lock:      # no cold tier left to serve
            _unserve(base)
    df = _read_tiers(spark, base, snap.schema, snap.files, read_cold=_serve)
    if not dedup or snap.unique_ids:
        return df
    return df.dropDuplicates(["_id"])


def compact(spark: SparkSession, path: str) -> None:
    """Move the whole store into the cold tier, each (topic, ds)
    partition in few, full-size files — the OPTIMIZE twin of the
    reference's "define some rollover conditions" advice (its
    README.md:14).

    Streaming ingest leaves one small hot file per micro-batch; at
    100 TB that's death by file listing, and no partition pruning. One
    shuffle keyed on the partition columns lands each partition in one
    task, which the ``partitionBy`` write splits into files of at most
    ``COMPACT_MAX_RECORDS`` rows.

    The same shuffle drops replayed records: rows are deduplicated on
    (topic, ds, _id) inside each task, which needs no second exchange.
    That equals dedup by ``_id`` alone, since ``_id`` is
    topic+partition+offset and names one Kafka record whose bytes, and
    so whose timestamp and ``ds``, every replay repeats. The commit
    marks the snapshot ``unique_ids`` so reads skip their own dedup —
    unless a batch was appended between the read and the commit.

    ``COMPACT_CLUSTER_BY`` sorts rows within each rewritten partition (a
    Z-ORDER-lite); that alone skips data for needle lookups: row-group
    min/max stats on ``key`` become disjoint ranges, so `key = X` skips
    every row group whose range misses ``X``, at any store size.

    One ``compact`` commit swaps the snapshot it read, hot and cold,
    for the rewritten files; the store path exists throughout, and a
    batch appended between the read and the commit stays live (hot).
    """
    base = path.rstrip("/")
    snap = _snapshot(base)
    # same _id ⇒ same record ⇒ same ds: dedup within the (topic, ds)
    # clustering is exact and rides the repartition's exchange
    out = _read_tiers(spark, base, snap.schema, snap.files) \
        .repartition(*PARTITION_COLS) \
        .dropDuplicates([*PARTITION_COLS, "_id"]) \
        .sortWithinPartitions(*PARTITION_COLS, *COMPACT_CLUSTER_BY)
    writer = _writer(out, PARTITION_COLS).option(
        "maxRecordsPerFile", str(COMPACT_MAX_RECORDS))
    _land(base, snap, "compact", "compact", writer.parquet,
          list(snap.files))


def retention(path: str, cutoff_ds: str) -> list[str]:
    """Drop the rows of days strictly older than ``cutoff_ds``
    (``YYYY-MM-DD``; anything else raises ``ValueError`` before
    anything is removed) — the retention/rollover-deletion half of the
    reference's index-size bound.

    One ``retention`` commit removes the cold partitions of those days
    and the hot files whose last ``ds`` is before the cutoff, with no
    data rewrite. A hot file whose ``ds`` range straddles the cutoff is
    rewritten without its older rows (a job on the active Spark
    session), and the same commit swaps it for the rewrite. Removing
    rows keeps the snapshot's ``_id``s unique if they were. Returns the
    removed partition dirs and hot files.
    """
    if dt.date.fromisoformat(cutoff_ds).isoformat() != cutoff_ds:
        raise ValueError(f"retention cutoff {cutoff_ds!r} is not YYYY-MM-DD")
    base = path.rstrip("/")
    snap = _snapshot(base)
    old, straddling = {}, {}
    # canonical ISO days compare in date order as strings
    for p, v in snap.files.items():
        _, lo, hi = _span(v)
        if hi is not None and hi < cutoff_ds:
            old[p] = v
        elif lo is not None and lo < cutoff_ds:     # only a hot file
            straddling[p] = v
    removed = old | straddling
    if straddling:
        kept = _read_tiers(SparkSession.active(), base, snap.schema,
                           straddling).where(F.col("ds") >= cutoff_ds)
        _land_hot(base, snap, "retention", "retention", kept,
                  remove=list(removed))
    else:
        if old:
            _commit(base, snap, "retention", {}, list(old))
        _collect_garbage(base, snap, "retention")
    return sorted({os.path.join(base, p if _is_hot(v) else os.path.dirname(p))
                   for p, v in removed.items()})


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
    return update_by_query(docs, predicate, {"value": F.lit(TOMBSTONE)})


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
    msg = F.col("message")
    for name, col in set_fields.items():
        msg = msg.withField(name, col)
    upd = (victims.join(maxoff, ["topic", "partition"])
           .withColumn("offset", F.col("__mo") + F.row_number().over(w))
           .drop("__mo")
           .withColumn("message", msg)
           .withColumn("_id", doc_id())
           .select(*docs.columns))
    return docs.unionByName(upd)
