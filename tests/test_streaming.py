"""Streaming tests: batch/stream parity (availableNow drain), windowed
aggregations, session windows, in-stream dedup, Confluent wire format.

SURVEY.md §5.3.3: ingest fixture records as a file-backed stream with
trigger(availableNow=True); the resulting store table must equal the
batch pipeline's output on the same input.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from kafana_spark.ingest import enrich, events_as_kafka_records
from kafana_spark.sources.kafka import (
    confluent_schema_id, frame_confluent, strip_confluent_header,
)
from kafana_spark.sources.tables import load_table
from kafana_spark.store import (
    compact, read_store, retention, with_store_partitions, write_store,
)
from kafana_spark.streaming.pipeline import (
    batch_sink, ingest_stream_exactly_once, sessionize, stream_batch_id,
    windowed_counts,
)
from tests.conftest import SF_SMOKE


def records_df(spark):
    ev = load_table(spark, SF_SMOKE, "events").limit(200)
    return events_as_kafka_records(ev)


def test_stream_batch_parity(spark, tmp_path):
    """availableNow streaming ingest == batch ingest, row for row."""
    records = records_df(spark)

    # batch path
    batch_store = str(tmp_path / "batch_store")
    write_store(enrich(records), batch_store)

    # stream path: stage records as parquet, readStream over them
    staged = str(tmp_path / "staged")
    records.write.parquet(staged)
    stream = (spark.readStream.schema(records.schema).parquet(staged))
    q = ingest_stream_exactly_once(stream, str(tmp_path / "stream_store"),
                                   str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    b = read_store(spark, batch_store)
    s = read_store(spark, str(tmp_path / "stream_store"))
    assert b.count() == s.count() == 200
    assert canon(b) == canon(s)


def canon(df):
    """``df``'s rows as sorted canonical JSON: identical documents
    modulo row order (exceptAll on nested structs trips
    INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND in Spark 4.1, so compare
    serialized rows instead)."""
    return sorted(
        r.j for r in df.select(F.to_json(F.struct(*sorted(df.columns)))
                               .alias("j")).collect())


def test_stream_is_enriched_once(spark, tmp_path, monkeypatch):
    """``enrich`` is applied to the stream once, not rebuilt in every
    micro-batch: 3 files drained as 3 batches make one call, and the
    store holds the batch pipeline's documents."""
    import kafana_spark.streaming.pipeline as pipeline

    calls = []

    def counting_enrich(*args, **kwargs):
        calls.append(args)
        return enrich(*args, **kwargs)

    monkeypatch.setattr(pipeline, "enrich", counting_enrich)
    records = records_df(spark)
    staged = str(tmp_path / "staged")
    records.repartition(3).write.parquet(staged)
    stream = (spark.readStream.schema(records.schema)
              .option("maxFilesPerTrigger", 1).parquet(staged))
    store = str(tmp_path / "store")

    q = ingest_stream_exactly_once(stream, store, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == 3
    assert len(calls) == 1
    assert canon(read_store(spark, store)) \
        == canon(with_store_partitions(enrich(records)))


def test_stream_restart_is_idempotent(spark, tmp_path):
    """Re-running with the same checkpoint must not duplicate records
    (checkpoint = Connect offset storage)."""
    records = records_df(spark)
    staged = str(tmp_path / "staged")
    records.write.parquet(staged)
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")

    for _ in range(2):  # second run: nothing new to process
        stream = spark.readStream.schema(records.schema).parquet(staged)
        q = ingest_stream_exactly_once(stream, store, ckpt)
        q.awaitTermination(120)

    assert read_store(spark, store, dedup=False).count() == 200


def test_windowed_counts_batch_twin(spark):
    """The windowed agg is one code path for batch and stream; verify
    the batch semantics against a manual date_trunc aggregation."""
    docs = enrich(records_df(spark))
    out = windowed_counts(docs, window="1 day", by=("topic",))
    manual = (docs.groupBy(F.date_trunc("day", "timestamp").alias("d"))
              .count().collect())
    got = {r.bucket_start: r.cnt for r in out.collect()}
    want = {r.d: r["count"] for r in manual}
    assert got == want


def test_windowed_counts_streaming_mode(spark, tmp_path):
    """Same aggregation as a real streaming query (update-to-complete
    via availableNow + memory sink)."""
    records = records_df(spark)
    staged = str(tmp_path / "staged")
    records.write.parquet(staged)
    stream = spark.readStream.schema(records.schema).parquet(staged)
    agg = windowed_counts(enrich(stream), window="1 day", by=("topic",))
    q = (agg.writeStream.format("memory").queryName("wc")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.bucket_start: r.cnt for r in spark.sql("SELECT * FROM wc").collect()}
    batch = {r.bucket_start: r.cnt
             for r in windowed_counts(enrich(records), "1 day").collect()}
    assert got == batch


def test_sessionize_gap_splits(spark):
    base = dt.datetime(2024, 1, 1, 0, 0)
    rows = [("k", base + dt.timedelta(minutes=m)) for m in (0, 5, 10, 120, 125)]
    df = spark.createDataFrame(rows, ["key", "timestamp"])
    out = sessionize(df, gap="30 minutes").orderBy("session_start").collect()
    assert len(out) == 2
    assert out[0].events == 3 and out[1].events == 2


def test_confluent_wire_format_roundtrip(spark):
    framed = frame_confluent(b"avro-payload-bytes", schema_id=42)
    df = spark.createDataFrame([(framed,), (None,)], ["value"])
    out = df.select(
        strip_confluent_header(F.col("value")).alias("payload"),
        confluent_schema_id(F.col("value")).alias("sid"),
    ).collect()
    assert bytes(out[0].payload) == b"avro-payload-bytes"
    assert out[0].sid == 42
    assert out[1].payload is None and out[1].sid is None  # tombstone-safe


def _stream(spark, staged, schema, store, ckpt):
    """Drain the new files under ``staged`` into ``store`` through the
    exactly-once sink, as one micro-batch."""
    stream = spark.readStream.schema(schema).parquet(staged)
    ingest_stream_exactly_once(stream, store, ckpt).awaitTermination(120)


def test_exactly_once_replayed_batch_overwrites(spark, tmp_path):
    """A redelivered micro-batch must replace its own files, not append
    duplicates: replay batch 0 through the same write_store call and
    batch id the sink uses."""
    records = records_df(spark)
    staged = str(tmp_path / "staged")
    records.write.parquet(staged)
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")

    _stream(spark, staged, records.schema, store, ckpt)
    first = read_store(spark, store, dedup=False)
    first_ids = sorted(r._id for r in first.select("_id").collect())
    assert len(first_ids) == 200

    # simulate redelivery: the sink's write of batch 0, again
    write_store(enrich(records), store, stream_batch_id(ckpt, 0))

    replayed = read_store(spark, store, dedup=False)
    assert replayed.count() == 200  # no duplicates
    assert sorted(r._id for r in replayed.select("_id").collect()) == first_ids


def test_two_streams_with_own_checkpoints_keep_both(spark, tmp_path):
    """Two streams into one store must not replace each other's batches
    (the sink's batch id is scoped by checkpoint, not epoch alone)."""
    ev = load_table(spark, SF_SMOKE, "events")
    records = events_as_kafka_records(ev)
    staged = str(tmp_path / "staged")
    records.write.parquet(staged)
    assert records.count() == 1000
    store = str(tmp_path / "store")

    for name in ("ckpt_a", "ckpt_b"):
        _stream(spark, staged, records.schema, store, str(tmp_path / name))

    assert read_store(spark, store, dedup=False).count() == 2000


def test_stream_after_compact_reads_every_row(spark, tmp_path):
    """Stream, compact, then stream one more batch: the store keeps one
    layout, so read_store still sees every row."""
    import time

    records = records_df(spark)
    staged = str(tmp_path / "staged")
    last = F.col("offset") % 4 == 0
    records.where(~last).write.parquet(staged)
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    _stream(spark, staged, records.schema, store, ckpt)
    compact(spark, store)

    time.sleep(1.2)               # a strictly newer file for the source
    records.where(last).coalesce(1).write.mode("append").parquet(staged)
    _stream(spark, staged, records.schema, store, ckpt)

    got = read_store(spark, store, dedup=False)
    assert got.count() == 200
    assert got.select("_id").distinct().count() == 200


def test_retention_drops_old_days_of_streamed_store(spark, tmp_path):
    """retention works on a stream-written store: the days before the
    cutoff go, the rest stay."""
    records = records_df(spark)
    staged = str(tmp_path / "staged")
    records.write.parquet(staged)
    store = str(tmp_path / "store")
    _stream(spark, staged, records.schema, store, str(tmp_path / "ckpt"))
    ds_vals = sorted(r.ds for r in read_store(spark, store, dedup=False)
                     .select("ds").distinct().collect())
    assert len(ds_vals) >= 2, "fixture needs multiple days"
    cutoff = str(ds_vals[1])

    removed = retention(store, cutoff)

    assert removed
    left = read_store(spark, store, dedup=False)
    assert left.where(F.col("ds") < cutoff).count() == 0
    assert left.where(F.col("ds") >= cutoff).count() > 0


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join (watermarked both sides) produces the
    same pairs as the identical batch join."""
    from kafana_spark.streaming.pipeline import stream_interval_join

    records = enrich(records_df(spark)).select("key", "timestamp", "offset")
    left = records.where(F.col("offset") % 2 == 0)
    right = records.where(F.col("offset") % 2 == 1)

    batch = stream_interval_join(left, right, key="key",
                                 upper_seconds=3600)
    want = sorted((r.offset, r.r_offset) for r in batch.collect())
    assert want, "fixture should produce at least one joined pair"

    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    left.write.parquet(ldir)
    right.write.parquet(rdir)
    ls = spark.readStream.schema(left.schema).parquet(ldir)
    rs = spark.readStream.schema(right.schema).parquet(rdir)
    joined = stream_interval_join(ls, rs, key="key", upper_seconds=3600)
    q = (joined.writeStream.format("memory").queryName("ssj")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r.offset, r.r_offset) for r in
                 spark.sql("SELECT offset, r_offset FROM ssj").collect())
    assert got == want


def test_dedup_stream_drops_cross_microbatch_redeliveries(spark, tmp_path):
    """dropDuplicatesWithinWatermark removes an _id redelivered in a
    LATER micro-batch (within the watermark horizon) — the in-stream
    twin of the store's dedup-on-read."""
    import time

    from kafana_spark.streaming.pipeline import dedup_stream

    staged = str(tmp_path / "staged")
    records = records_df(spark).limit(50)
    # batch 1: originals; batch 2 (separate file, arrives later):
    # the same 20 records redelivered + 10 genuinely new ones
    originals = enrich(records)
    first = originals.limit(30)
    redelivered = originals.limit(20)
    fresh = originals.subtract(first).limit(10)
    first.write.parquet(staged)

    stream = (spark.readStream.schema(originals.schema)
              .option("maxFilesPerTrigger", 1).parquet(staged))
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (dedup_stream(stream)
         .writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", ckpt)
         .outputMode("append").start())
    try:
        time.sleep(5)  # batch 1 through
        redelivered.unionByName(fresh).coalesce(1).write.mode("append") \
            .parquet(staged)
        deadline = time.time() + 60
        while time.time() < deadline:
            got = spark.read.parquet(out_dir)
            if got.count() >= 40:
                break
            time.sleep(2)
    finally:
        q.stop()

    got = spark.read.parquet(out_dir)
    assert got.count() == 40                       # 30 + 10, no replays
    assert got.select("_id").distinct().count() == 40


def _drain(spark, df, tmp_path, name: str, append, *args,
           files: int = 1) -> None:
    """Stream ``df`` (staged as ``files`` parquet files, one per
    micro-batch) into ``append`` through ``batch_sink``, checkpointed
    at ``<tmp_path>/ckpt_<name>``."""
    staged, ckpt = str(tmp_path / f"staged_{name}"), \
        str(tmp_path / f"ckpt_{name}")
    df.repartition(files).write.parquet(staged)
    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 1).parquet(staged))
    (stream.writeStream
     .foreachBatch(batch_sink(ckpt, append, *args))
     .option("checkpointLocation", ckpt)
     .trigger(availableNow=True).start()
     .awaitTermination(120))


def test_dedup_index_sink_through_real_writestream(spark, tmp_path):
    """End-to-end: readStream → writeStream.foreachBatch(batch_sink(
    ckpt, append_dedup_index, root)) — the index a real stream builds
    serves identically to the recompute-everything pipeline."""
    from kafana_spark import dedup_index
    from kafana_spark.operators import dedup

    docs = load_table(spark, SF_SMOKE, "documents") \
        .select("doc_id", "text")
    root = str(tmp_path / "ndidx")
    # several files → several micro-batches under maxFilesPerTrigger
    _drain(spark, docs, tmp_path, "docs", dedup_index.append_dedup_index,
           root, files=3)

    got = {(r.da, r.db, r.jaccard) for r in
           dedup_index.near_dup_from_index(spark, root, 0.5).collect()}
    expect = {(r.da, r.db, r.jaccard) for r in
              dedup.minhash_near_dup(docs, 0.5).collect()}
    assert got == expect


def test_two_streams_into_one_cms_table_keep_both(spark, tmp_path):
    """Two streams, each with its own checkpoint, into one CMS table:
    their epoch-0 batches get different ids, so the served sketch is
    the one-shot sketch of both inputs (24 tokens), not the last
    stream's alone."""
    from kafana_spark.rollup import (
        append_cms_sketch, cms_from_store, cms_sketch,
    )

    a = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon"),
         (1, "zeta eta theta iota kappa")], "doc_id long, text string")
    b = spark.createDataFrame(
        [(2, "alpha beta gamma delta epsilon zeta eta"),
         (3, "lambda mu nu xi omicron pi rho")], "doc_id long, text string")
    root = str(tmp_path / "cms")
    _drain(spark, a, tmp_path, "a", append_cms_sketch, root)
    _drain(spark, b, tmp_path, "b", append_cms_sketch, root)

    got = {(r.j, r.b): r.cnt for r in cms_from_store(spark, root).collect()}
    want = {(r.j, r.b): r.cnt for r in
            cms_sketch(a.unionByName(b), "text").collect()}
    assert sum(c for (j, _), c in got.items() if j == 0) == 24
    assert got == want


def test_two_streams_into_one_dedup_index_keep_both(spark, tmp_path):
    """Two streams, each with its own checkpoint, into one near-dup
    index serve the pairs of the union of their inputs."""
    from kafana_spark import dedup_index
    from kafana_spark.operators import dedup

    docs = load_table(spark, SF_SMOKE, "documents") \
        .select("doc_id", "text")
    root = str(tmp_path / "ndidx")
    for name, parity in (("even", 0), ("odd", 1)):
        _drain(spark, docs.where(F.col("doc_id") % 2 == parity), tmp_path,
               name, dedup_index.append_dedup_index, root, files=2)

    got = {(r.da, r.db, r.jaccard) for r in
           dedup_index.near_dup_from_index(spark, root, 0.5).collect()}
    expect = {(r.da, r.db, r.jaccard) for r in
              dedup.minhash_near_dup(docs, 0.5).collect()}
    assert any(da % 2 == 0 or db % 2 == 0 for da, db, _ in expect)
    assert got == expect
