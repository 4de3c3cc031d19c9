"""Structured Streaming ingest + streaming aggregations.

The reference ingests continuously (Kafka Connect sink consuming topics,
/root/reference/kafana.http:75) with offset tracking (docker-compose.yml:57)
and idempotent indexing by _id (kafana.http:76). Spark equivalents:

- any streaming DataFrame (Kafka, file, rate) flows through the SAME
  ``kafana_spark.ingest.enrich`` used in batch — batch/stream parity is
  Structured Streaming's contract, and tests assert we keep it.
  ``enrich`` is applied once, to the stream, not rebuilt in every
  micro-batch: the sink only writes the enriched batch
- checkpointing replaces Connect's offset storage
- ``trigger(availableNow=True)`` drains everything then stops — the
  batch-equivalence harness (SURVEY.md §5.3.3)
- exactly-once: ``batch_sink`` is the one ``foreachBatch`` function
  for every table. It hands each micro-batch to a table's own append
  entry point under ``stream_batch_id(checkpoint, epoch)``, so a
  replayed batch replaces its own files in one commit on the table's
  ``_log/``, and two streams into one table (each with its own
  checkpoint) never replace each other's batches (Structured
  Streaming's epoch-keyed foreachBatch sink + metadata log). The
  store's own ingest, ``ingest_stream_exactly_once``, is built on it
  with ``store.write_store`` as the append.

Streaming aggregations (the C12 streaming twin + watermarks/session
windows the reference lacks, SURVEY.md §2.D):
- windowed_counts: tumbling/sliding date-histogram with late-data bound
- sessionize: session windows per key
"""
from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafana_spark.ingest import enrich
from kafana_spark.store import write_store


def stream_batch_id(checkpoint: str, epoch_id: int) -> str:
    """Batch id of micro-batch ``epoch_id`` of the stream checkpointed
    at ``checkpoint``: scoped by both, so two streams into one table
    never replace each other's batches."""
    return f"{hashlib.sha1(checkpoint.encode()).hexdigest()[:16]}-{epoch_id}"


def batch_sink(checkpoint: str, append, *args, **kwargs):
    """The ``foreachBatch`` function that feeds the stream checkpointed
    at ``checkpoint`` into a table: micro-batch ``epoch_id`` becomes
    ``append(batch_df, *args, batch=stream_batch_id(checkpoint,
    epoch_id), **kwargs)``, where ``append`` is the table family's own
    append entry point (``dedup_index.append_dedup_index``,
    ``rollup.append_rollup`` …). Pass the same ``checkpoint`` as the
    stream's ``checkpointLocation``: an at-least-once redelivery of an
    epoch then replaces that batch's files, and another stream into
    the same table appends beside it.

        stream.writeStream.foreachBatch(
            batch_sink(ckpt, dedup_index.append_dedup_index, root))
    """
    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        append(batch_df, *args,
               batch=stream_batch_id(checkpoint, epoch_id), **kwargs)

    return sink


def ingest_stream_exactly_once(records: DataFrame, store_path: str,
                               checkpoint: str,
                               value_col: str = "value_struct",
                               available_now: bool = True) -> StreamingQuery:
    """Enrich a streaming envelope frame (Kafka envelope columns + a
    decoded struct value, as sources/kafka.py:kafka_envelope emits) and
    append it to the store exactly once, without a table format.

    ``enrich`` is applied once, to the stream; each micro-batch of
    enriched documents goes through ``store.write_store`` under its
    ``batch_sink`` id, so a batch replayed after a failure between
    store and checkpoint commit replaces its own files — the ES sink's
    idempotent upsert by _id (kafana.http:76).
    """
    writer = (enrich(records, value_col).writeStream
              .foreachBatch(batch_sink(checkpoint, write_store, store_path))
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_counts(docs: DataFrame, window: str = "1 hour",
                    slide: str | None = None,
                    watermark: str = "10 minutes",
                    time_col: str = "timestamp",
                    by: tuple[str, ...] = ("topic",)) -> DataFrame:
    """Streaming date-histogram: tumbling (or sliding) window counts per
    key with a late-data watermark. Works on batch frames too (the
    watermark is a no-op there) — one code path, two modes."""
    win = (F.window(F.col(time_col), window, slide) if slide
           else F.window(F.col(time_col), window))
    out = docs
    if docs.isStreaming:
        out = out.withWatermark(time_col, watermark)
    return (out.groupBy(win.alias("w"), *[F.col(c) for c in by])
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("w.start").alias("bucket_start"),
                    *[F.col(c) for c in by], "cnt"))


def sessionize(docs: DataFrame, gap: str = "30 minutes",
               watermark: str = "10 minutes",
               time_col: str = "timestamp",
               key_col: str = "key") -> DataFrame:
    """Session windows per key: activity bursts separated by `gap`."""
    out = docs
    if docs.isStreaming:
        out = out.withWatermark(time_col, watermark)
    return (out.groupBy(F.session_window(F.col(time_col), gap).alias("s"),
                        F.col(key_col))
            .agg(F.count(F.lit(1)).alias("events"))
            .select(F.col("s.start").alias("session_start"),
                    F.col("s.end").alias("session_end"),
                    key_col, "events"))


def stream_interval_join(left: DataFrame, right: DataFrame, key: str,
                         left_ts: str = "timestamp",
                         right_ts: str = "timestamp",
                         upper_seconds: int = 900,
                         watermark: str = "30 minutes",
                         right_prefix: str = "r_") -> DataFrame:
    """Stream-stream inner join: right rows within
    ``[left_ts, left_ts + upper_seconds]`` per key.

    Both sides carry watermarks so the join state is bounded: a left
    row can be dropped once the watermark passes its upper bound, a
    right row once no future left row can reach back to it. Works on
    batch frames too (same plan, no state) — one code path, two modes.
    Right-side columns come back prefixed to avoid collisions.
    """
    r = right
    for c in right.columns:
        r = r.withColumnRenamed(c, f"{right_prefix}{c}")
    l_in, r_in = left, r
    if left.isStreaming:
        l_in = l_in.withWatermark(left_ts, watermark)
    if right.isStreaming:
        r_in = r_in.withWatermark(f"{right_prefix}{right_ts}", watermark)
    rts = F.col(f"{right_prefix}{right_ts}")
    cond = ((F.col(key) == F.col(f"{right_prefix}{key}"))
            & (rts >= F.col(left_ts))
            & (rts <= F.col(left_ts)
               + F.expr(f"INTERVAL {upper_seconds} SECONDS")))
    return l_in.join(r_in, cond, "inner")


def dedup_stream(records: DataFrame, id_cols: tuple[str, ...] = ("_id",),
                 watermark: str = "1 hour",
                 time_col: str = "timestamp") -> DataFrame:
    """Exactly-once-style in-stream dedup: drop redelivered records by
    deterministic id within the watermark horizon (unbounded exact
    dedup belongs to the store: ``compact``, and ``read_store`` on a
    snapshot appended to since).

    Uses ``dropDuplicatesWithinWatermark``, not ``dropDuplicates``:
    with plain dropDuplicates the watermark only evicts state when the
    event-time column is PART of the dedup key — keyed on ``_id`` alone
    the state store grows one entry per record forever, which at 100 TB
    is the job's death. WithinWatermark evicts every key once the
    watermark passes its first-seen event time, bounding state to the
    redelivery horizon.
    """
    wm = records.withWatermark(time_col, watermark)
    return wm.dropDuplicatesWithinWatermark([*id_cols])
