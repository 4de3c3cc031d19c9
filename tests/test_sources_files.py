"""File sources: JSON/CSV → envelope → enrich, batch and streaming,
plus watermark late-data semantics on the streaming aggregation."""

from __future__ import annotations

import datetime as dt

from kafana_spark.ingest import enrich
from kafana_spark.sources.files import as_envelope, read_records
from kafana_spark.streaming.pipeline import windowed_counts

SCHEMA = ("event_id long, user_id long, kind string, "
          "amount double, ts timestamp")

ROWS = [
    (1, 10, "click", 1.5, dt.datetime(2024, 1, 1, 0, 5)),
    (2, 11, "buy", 9.0, dt.datetime(2024, 1, 1, 0, 15)),
    (3, 10, "click", 2.5, dt.datetime(2024, 1, 1, 1, 5)),
]


def _write_inputs(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    df.write.json(str(tmp_path / "j"))
    df.write.option("header", "true").csv(str(tmp_path / "c"))
    return df


def test_json_and_csv_batch_roundtrip(spark, tmp_path):
    _write_inputs(spark, tmp_path)
    for fmt, sub in (("json", "j"), ("csv", "c")):
        recs = read_records(spark, str(tmp_path / sub), fmt, SCHEMA)
        env = as_envelope(recs, topic="t", key_col="user_id",
                          ts_col="ts", offset_col="event_id")
        docs = enrich(env)
        got = {r._id: (r.key, r.message.kind) for r in docs.collect()}
        assert got == {f"t+0+{e}": (str(u), k)
                       for e, u, k, _, _ in ROWS}, fmt


def test_json_streaming_matches_batch(spark, tmp_path):
    _write_inputs(spark, tmp_path)
    stream = read_records(spark, str(tmp_path / "j"), "json", SCHEMA,
                          streaming=True)
    env = as_envelope(stream, topic="t", key_col="user_id",
                      ts_col="ts", offset_col="event_id")
    q = (enrich(env).writeStream.format("memory").queryName("filesrc")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert spark.sql("SELECT count(*) c FROM filesrc").first().c == len(ROWS)


def test_watermark_drops_late_data_in_append_mode(spark, tmp_path):
    """Real watermark semantics: the late-events filter uses the
    PREVIOUS batch's eviction watermark (verified empirically on
    Spark 4.1), so a row must arrive ≥2 batches after the watermark
    passed its window to be dropped. The finalized window is emitted
    without it and the state operator reports the drop."""
    import time as _time

    schema = "offset long, topic string, timestamp timestamp"
    batches = [
        [(1, "k", dt.datetime(2024, 1, 1, 0, 10)),
         (2, "k", dt.datetime(2024, 1, 1, 0, 20))],
        [(3, "k", dt.datetime(2024, 1, 1, 6, 0))],   # advances watermark
        [(5, "k", dt.datetime(2024, 1, 1, 6, 30))],  # evicts 00:00 window
        [(4, "k", dt.datetime(2024, 1, 1, 0, 30))],  # hours late → dropped
    ]
    for b in batches:
        spark.createDataFrame(b, schema).coalesce(1) \
            .write.mode("append").parquet(str(tmp_path / "in"))
        _time.sleep(1.2)  # distinct mtimes → deterministic file order

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(str(tmp_path / "in")))
    agg = windowed_counts(stream, window="1 hour", watermark="10 minutes",
                          by=("topic",))
    q = (agg.writeStream.format("memory").queryName("wm")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {r.bucket_start: r.cnt for r in spark.sql(
        "SELECT * FROM wm").collect()}
    assert got.get(dt.datetime(2024, 1, 1, 0, 0)) == 2
    dropped = sum(p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
                  for p in q.recentProgress if p["stateOperators"])
    assert dropped == 1


def test_compact_cluster_by_sorts_within_files(spark, tmp_path):
    """cluster_by gives needle queries disjoint row-group stats: within
    each rewritten partition file, keys are sorted."""
    from kafana_spark.ingest import events_as_kafka_records
    from kafana_spark.sources.tables import load_table
    from kafana_spark.store import compact, table_files, write_store
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events").limit(300)
    write_store(enrich(events_as_kafka_records(ev)), str(tmp_path / "s"))
    compact(spark, str(tmp_path / "s"))

    files = table_files(str(tmp_path / "s"))
    assert files
    for f in files:
        pairs = [(r.key, r.offset) for r in
                 spark.read.parquet(f).select("key", "offset").collect()]
        assert pairs and pairs == sorted(pairs), f"file not clustered: {f}"
