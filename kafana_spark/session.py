"""SparkSession builder with scale-appropriate defaults.

Defaults are chosen for correctness on local[N] test runs while staying
sane on a real cluster:

- AQE on (runtime re-plan: coalesce shuffle partitions, skew-join split)
- broadcast threshold left at default (10 MB) — small dims (region,
  nation, supplier at test SFs) broadcast automatically; the query layer
  additionally applies explicit ``broadcast()`` hints where the table is
  known-small by construction
- shuffle partitions sized by env (``SPARK_GRAFT_CPUS``) for local runs;
  on a cluster AQE coalescing makes the initial number less critical
- streaming checkpoint logs written through the FileSystem API and no
  ``_SUCCESS`` marker: each saves Hadoop's shell forks on every
  micro-batch (SCALE.md, "Session defaults")
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "kafana-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    # Heap sizing, A/B-measured (r11): Spark's local-mode default is
    # 1 GiB TOTAL (~13 MB execution memory per task thread at 32
    # threads), yet a 32 GB heap measured WORSE at bench SF — x02 min
    # flat (6.79 vs 6.81 s) with 2x warm-up variance (G1 heap-growth
    # full GCs), x78/x79 mins +20-35% — so the default stays Spark's.
    # The 1 GiB ceiling IS real on heavy legs (the r11 verify
    # self-join OOMed at 50k low-entropy docs; the sf10 ladder runs
    # at 48-64g via extra_conf): tools that need headroom set it
    # explicitly, or export KAFANA_SPARK_DRIVER_MEM. Only effective
    # for the FIRST session in a process (one JVM per process).
    driver_mem = os.environ.get("KAFANA_SPARK_DRIVER_MEM")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet stores TIMESTAMP(NANOS); see sources/tables.py
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("KAFANA_SPARK_UI", "false"))
        # Reliable checkpoints (serve_materialize's cluster branch)
        # write one rdd-N dir per call; incremental_from_index calls
        # it twice per batch, so a long-lived per-batch loop would
        # accrete checkpoint storage unboundedly. This makes the
        # ContextCleaner delete a checkpoint's files once its RDD is
        # GC'd on the driver (r11 ADVICE).
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # store.read_store passes each snapshot file as a root path; past
        # the default 32 Spark lists them in an extra parallel job, which
        # took a needle request on a 56-file store from 2 jobs to 3
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                "100000")
        # Without libhadoop, Hadoop forks a shell process for chmod and
        # readlink (about 3 ms of CPU each). The default FileContext
        # checkpoint manager forks readlink 8 times per offset/commit
        # file; the FileSystem one writes the same temp file and renames
        # it into place (POSIX rename locally: whole or absent)
        .config("spark.sql.streaming.checkpointFileManagerClass",
                "org.apache.spark.sql.execution.streaming.checkpointing."
                "FileSystemBasedCheckpointFileManager")
        # _SUCCESS and its .crc cost 2 forks per write; a store write's
        # marker dies with its staging dir, and its _log/ entry is what
        # says the write happened
        .config("spark.hadoop.mapreduce.fileoutputcommitter."
                "marksuccessfuljobs", "false")
    )
    if driver_mem:
        builder = builder.config("spark.driver.memory", driver_mem)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs on a session we did not build.

    The driver hands our entry points an already-built SparkSession; the
    confs we rely on (legacy nanos parquet reads, UTC timestamps) are
    runtime-settable, so set them here idempotently.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def serve_materialize(df, eager: bool = True):
    """Materialize a BOUNDED serve-boundary frame exactly once,
    truncating its lineage (the r10 serve-boundary rule, SCALE.md:
    a lazy subplan referenced N times re-embeds — and re-executes —
    its whole pipeline N times, and cache/ReusedExchange cannot
    always deduplicate PythonUDF stages).

    ``eager=False`` (r13) defers the materialization to the FIRST job
    that touches the frame while still truncating the lineage
    immediately (``Dataset.localCheckpoint`` swaps in the LogicalRDD
    either way). Two boundaries built back-to-back then materialize
    in ONE job instead of two — the second boundary's job otherwise
    re-runs the first's un-shareable prefix (jobs cannot share
    exchanges). Exactly-once compute is preserved: localCheckpoint
    persists the RDD, and BlockManager block locks make concurrent
    references within the materializing job compute each partition
    once. Only the local branch defers; a configured RELIABLE
    checkpoint stays eager — its persist/unpersist bracket must
    enclose the checkpoint write to avoid recomputing the pipeline
    in the checkpoint job, which has no sound lazy equivalent.

    Reliability (r10 ADVICE): ``localCheckpoint`` stores
    NON-REPLICATED executor-local blocks — on a real cluster an
    executor loss (or dynamic-allocation decommission) after the
    checkpoint makes the serve unrecoverable instead of recomputable.
    So when the session has a reliable checkpoint directory
    configured (``spark.sparkContext.setCheckpointDir(...)`` — the
    cluster deployment posture), use ``checkpoint(eager=True)``
    (replicated, HDFS/object-store-backed, survives executor loss);
    fall back to ``localCheckpoint(eager=True)`` otherwise (single-
    JVM local/test sessions, where executor loss == session loss
    anyway).

    Only call this on frames that are bounded BY CONSTRUCTION
    (LSH-pruned pair lists, rollup partials) — the checkpoint
    materializes the full frame up front.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir():
        # persist first: a reliable checkpoint otherwise RECOMPUTES
        # the pipeline in the checkpoint-writing job (Spark's
        # documented RDD-checkpoint behavior) — exactly the double
        # execution this function exists to prevent. The cache is
        # dropped once the checkpoint files hold the data.
        df = df.persist()
        try:
            return df.checkpoint(eager=True)
        finally:
            df.unpersist()
    return df.localCheckpoint(eager=eager)
