"""Record enrichment: Kafka envelope -> indexed document.

Re-expresses the reference's Kafka Connect SMT chain (order fixed by
/root/reference/kafana.http:79 — InsertValueAsString, HoistValue,
InsertTimestamp, InsertTopic, InsertPartition, InsertOffset, InsertKey)
plus the tombstone-aware Avro converter
(/root/reference/convert/.../TombstoneAwareAvroConverter.java:26-31) as a
single composable DataFrame->DataFrame function.

Output document shape (SURVEY.md §1.3):

    message:   struct(<value fields...>, value: string)   # JSON copy / "TOMBSTONE"
    timestamp: timestamp
    topic:     string
    partition: int
    offset:    long
    key:       string
    _id:       string = topic + "+" + partition + "+" + offset

Every function takes ANY DataFrame (batch `read` or `readStream`) — the
batch and streaming paths share this code (Structured Streaming's
batch/stream parity contract).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TOMBSTONE = "TOMBSTONE"

#: Kafka-source envelope columns that must survive every transform
#: (mirrors ConnectRecord field preservation,
#: /root/reference/transform/.../InsertKey.java:151-159).
ENVELOPE_COLS = ("timestamp", "topic", "partition", "offset", "key")


def doc_id(topic: Column | str = "topic",
           partition: Column | str = "partition",
           offset: Column | str = "offset") -> Column:
    """Changelog document id: topic+partition+offset.

    The reference derives ES ``_id`` this way (``key.ignore=true``,
    /root/reference/kafana.http:76; /root/reference/README.md:11) which
    makes the store an append-only change log with idempotent replays.
    """
    return F.concat_ws("+", F.col(topic) if isinstance(topic, str) else topic,
                       F.col(partition) if isinstance(partition, str) else partition,
                       F.col(offset) if isinstance(offset, str) else offset)


def value_as_string(value_struct: Column, raw_value: Column | None = None) -> Column:
    """JSON-string rendering of the value; tombstones become 'TOMBSTONE'.

    Mirrors InsertValueAsString (struct branch -> plain JSON with
    schemas.enable=false, i.e. exactly Spark's ``to_json``;
    /root/reference/transform/.../InsertValueAsString.java:99-127) and the
    tombstone substitution of TombstoneAwareAvroConverter.java:26-31.
    """
    rendered = F.to_json(value_struct)
    if raw_value is not None:
        # null raw bytes = tombstone even if the struct decoded to null
        return F.when(raw_value.isNull(), F.lit(TOMBSTONE)).otherwise(rendered)
    return F.coalesce(rendered, F.lit(TOMBSTONE))


def _envelope(df: DataFrame, message: F.Column,
              *extra: F.Column) -> DataFrame:
    """The indexed document: ``message``, the typed Kafka envelope
    columns, any ``extra`` columns, then the derived ``_id``."""
    return df.select(
        message.alias("message"),
        F.col("timestamp"),
        F.col("topic"),
        F.col("partition").cast("int").alias("partition"),
        F.col("offset").cast("long").alias("offset"),
        F.col("key").cast("string").alias("key"),
        *extra,
    ).withColumn("_id", doc_id())


def enrich(df: DataFrame, value_col: str = "value_struct",
           extract_json: dict[str, tuple[str, str, str]] | None = None,
           ) -> DataFrame:
    """Full enrichment: envelope + decoded value -> indexed document.

    Input: a DataFrame with the Kafka envelope columns
    (key/topic/partition/offset/timestamp) and a decoded struct column
    ``value_col`` (null = tombstone). Works on batch and streaming frames.

    The SMT chain collapses to one select:
      * InsertValueAsString  -> ``message.value`` JSON string / TOMBSTONE
      * HoistValue           -> value fields nested under ``message``
      * InsertTimestamp/Topic/Partition/Offset -> already envelope columns
      * InsertKey            -> ``key`` cast to string
      * ES _id derivation    -> ``_id``

    ``extract_json`` materializes hot JSON keys as additional TOP-LEVEL
    typed columns at ingest time: ``{out_col: (value_field, json_path,
    cast_type)}``, e.g. ``{"props_k": ("props", "$.k", "int")}``. A
    query filtering ``props_k > 80`` then pushes down to parquet
    row-group min/max stats, where the equivalent get_json_object()
    predicate over the stored JSON string is opaque to pushdown and
    parses every row. Write-time cost, additive schema change.
    """
    value = F.col(value_col)
    dt = df.schema[value_col].dataType
    if not isinstance(dt, StructType):
        raise TypeError(f"{value_col} must be a struct column, got {dt}")
    value_fields = [value.getField(f.name).alias(f.name) for f in dt.fields
                    if f.name != "value"]
    message = F.struct(
        *value_fields,
        value_as_string(value).alias("value"),
    )
    extracted = [
        F.get_json_object(value.getField(field), path).cast(cast_t).alias(out)
        for out, (field, path, cast_t) in (extract_json or {}).items()
    ]
    return _envelope(df, message, *extracted)


def enrich_schemaless(df: DataFrame, value_col: str = "value_map") -> DataFrame:
    """Schemaless branch: value is a MapType (InsertKey.java:80-86 path).

    The map is rendered to JSON for ``message.value``; no typed fields are
    hoisted (there is no schema to hoist). Metadata enrichment is
    identical to the schema'd path.
    """
    value = F.col(value_col)
    message = F.struct(
        F.coalesce(F.to_json(value), F.lit(TOMBSTONE)).alias("value"),
    )
    return _envelope(df, message)


def events_as_kafka_records(events: DataFrame, topic: str = "events") -> DataFrame:
    """Adapt the testdata ``events`` table into a Kafka-envelope frame.

    user_id plays the record key (FIXTURES.md §2 events notes); offset is
    the unique event_id; single synthetic partition 0. Used by tests and
    the streaming demo so the enrichment path can be exercised without a
    Kafka broker.
    """
    value_struct = F.struct(
        F.col("event_type"), F.col("value"), F.col("props")
    )
    return events.select(
        F.col("user_id").cast("string").alias("key"),
        value_struct.alias("value_struct"),
        F.lit(topic).alias("topic"),
        F.lit(0).alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
    )
