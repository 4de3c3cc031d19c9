"""Session defaults (``session.get_spark``) that spare Hadoop's shell
forks on every micro-batch: no ``_SUCCESS`` marker, and streaming
checkpoint logs written through the FileSystem API."""

from __future__ import annotations

import os

FS_CHECKPOINTS = ("org.apache.spark.sql.execution.streaming.checkpointing."
                  "FileSystemBasedCheckpointFileManager")


def test_write_leaves_no_success_marker(spark, tmp_path):
    out = str(tmp_path / "out")
    spark.range(3).write.parquet(out)

    assert not os.path.exists(os.path.join(out, "_SUCCESS"))
    assert spark.read.parquet(out).count() == 3


def test_checkpoints_go_through_the_filesystem_api(spark, tmp_path):
    """The conf names the FileSystem-based manager, and Spark builds
    that manager for a checkpoint dir."""
    assert spark.conf.get(
        "spark.sql.streaming.checkpointFileManagerClass") == FS_CHECKPOINTS
    jvm = spark._jvm
    manager = (jvm.org.apache.spark.sql.execution.streaming.checkpointing
               .CheckpointFileManager.create(
                   jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
                   spark._jsparkSession.sessionState().newHadoopConf()))
    assert manager.getClass().getName() == FS_CHECKPOINTS
