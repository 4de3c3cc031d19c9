"""Avro binary codec: golden wire vectors, roundtrips, Spark operators.

Golden encodings are hand-derived from the public Avro 1.x binary spec
(zigzag varints, LE IEEE floats, length-prefixed strings, in-order
record fields, varint-indexed unions).
"""

from __future__ import annotations

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kafana_spark.sources.avro_codec import (
    decode_record,
    encode_record,
    from_confluent_avro_py,
    to_confluent_avro,
)

FLAT = json.dumps({
    "type": "record", "name": "r",
    "fields": [{"name": "a", "type": "long"},
               {"name": "b", "type": "string"}],
})

FULL = json.dumps({
    "type": "record", "name": "ev",
    "fields": [
        {"name": "event_type", "type": "string"},
        {"name": "value", "type": ["null", "double"]},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "attrs", "type": {"type": "map", "values": "long"}},
        {"name": "nested", "type": ["null", {
            "type": "record", "name": "sub",
            "fields": [{"name": "x", "type": "int"},
                       {"name": "ok", "type": "boolean"}]}]},
    ],
})

# the flat x30 event schema: the compiled codecs' shape
EVENT = json.dumps({
    "type": "record", "name": "event",
    "fields": [{"name": "event_type", "type": "string"},
               {"name": "value", "type": ["null", "double"]},
               {"name": "props", "type": ["null", "string"]}],
})


def test_golden_wire_vectors():
    assert encode_record(FLAT, {"a": 1, "b": "hi"}) == b"\x02\x04hi"
    assert encode_record(FLAT, {"a": -1, "b": ""}) == b"\x01\x00"
    assert encode_record(FLAT, {"a": 64, "b": "é"}) == \
        b"\x80\x01\x04\xc3\xa9"
    # union: null -> index 0 only; value -> index 1 + payload
    u = json.dumps({"type": "record", "name": "u",
                    "fields": [{"name": "v", "type": ["null", "long"]}]})
    assert encode_record(u, {"v": None}) == b"\x00"
    assert encode_record(u, {"v": 7}) == b"\x02\x0e"
    # tombstone: null record -> null bytes, not encoded null
    assert encode_record(FLAT, None) is None


def test_roundtrip_full_schema():
    v = {"event_type": "purchase", "value": 3.5,
         "tags": ["a", "b", ""], "attrs": {"k": 9, "z": -3},
         "nested": {"x": -17, "ok": True}}
    assert decode_record(FULL, encode_record(FULL, v)) == v
    v2 = {"event_type": "", "value": None, "tags": [], "attrs": {},
          "nested": None}
    assert decode_record(FULL, encode_record(FULL, v2)) == v2


@settings(max_examples=200, deadline=None)
@given(a=st.integers(min_value=-(2 ** 62), max_value=2 ** 62),
       b=st.text(max_size=40))
def test_roundtrip_property(a, b):
    assert decode_record(FLAT, encode_record(FLAT, {"a": a, "b": b})) == \
        {"a": a, "b": b}


def test_spark_roundtrip_with_tombstones(spark):
    """A2 serialize -> A1 jar-free decode over a Spark frame, tombstone
    rows (null structs) surviving both directions as nulls."""
    schema = json.dumps({
        "type": "record", "name": "ev",
        "fields": [{"name": "event_type", "type": "string"},
                   {"name": "n", "type": "long"}],
    })
    rows = [(1, ("purchase", 10)), (2, ("error", -5)), (3, None)]
    df = spark.createDataFrame(
        rows, "offset long, value_struct struct<event_type:string,n:long>")
    framed = to_confluent_avro(df, schema, schema_id=42)
    assert framed.schema["value"].dataType.simpleString() == "binary"
    raw = {r.offset: r.value for r in framed.collect()}
    assert raw[3] is None                        # tombstone passthrough
    assert raw[1][:1] == b"\x00"                 # confluent magic
    assert int.from_bytes(raw[1][1:5], "big") == 42

    back = from_confluent_avro_py(
        framed, schema, "event_type string, n long")
    got = {r.offset: r.value_struct for r in back.collect()}
    assert got[1] == ("purchase", 10) or tuple(got[1]) == ("purchase", 10)
    assert tuple(got[2]) == ("error", -5)
    assert got[3] is None

    # the decoded frame feeds enrich() like any other decoded source
    from kafana_spark.ingest import TOMBSTONE, enrich
    env = (back.withColumn("key", F.lit("k"))
           .withColumn("topic", F.lit("t"))
           .withColumn("partition", F.lit(0))
           .withColumn("timestamp", F.current_timestamp()))
    docs = {r.offset: r for r in enrich(env).collect()}
    assert docs[3].message.value == TOMBSTONE
    assert json.loads(docs[1].message.value)["event_type"] == "purchase"


def test_decode_avro_prefers_jvm_path(monkeypatch, spark):
    """When spark-avro is importable AND analyzable, decode_avro must
    return the JVM from_avro plan, never the Python codec."""
    from kafana_spark.sources import avro_codec, kafka

    sentinel = spark.range(1)
    calls = {}

    def fake_decode(df, schema_json, value_col="value",
                    out_col="value_struct"):
        calls["jvm"] = True
        return sentinel

    monkeypatch.setattr(kafka, "HAVE_AVRO", True)
    monkeypatch.setattr(kafka, "decode_avro_value", fake_decode)
    out = avro_codec.decode_avro(spark.range(1), "{}", "k int")
    assert calls.get("jvm") and out is sentinel


def test_decode_avro_falls_back_without_jar(spark, caplog):
    """In this env the spark-avro jar is absent: decode_avro must land
    on the Python codec with a warning and still decode correctly."""
    import logging

    from kafana_spark.sources import avro_codec
    from kafana_spark.sources.avro_codec import encode_record

    schema = {"type": "record", "name": "r",
              "fields": [{"name": "k", "type": "int"}]}
    sj = json.dumps(schema)
    payload = b"\x00\x00\x00\x00\x07" + encode_record(sj, {"k": 41})
    df = spark.createDataFrame([(payload,)], "value binary")
    with caplog.at_level(logging.WARNING,
                         logger="kafana_spark.sources.avro_codec"):
        out = avro_codec.decode_avro(df, sj, "k int").collect()
    assert out[0].value_struct.k == 41
    assert any("dev path" in r.message for r in caplog.records)


@settings(max_examples=200, deadline=None)
@given(et=st.text(max_size=30),
       val=st.one_of(st.none(), st.floats(allow_nan=False,
                                          allow_infinity=False)),
       props=st.one_of(st.none(), st.text(max_size=200)))
def test_compiled_codec_matches_walker(et, val, props):
    """The r13 compiled fast path (per-field closures encode,
    exec-codegen'd decode) must be BYTE-identical to the generic
    schema walker on the flat record-of-primitives shape it handles,
    and roundtrip to the same dict."""
    from kafana_spark.sources.avro_codec import (
        _compile_record_decoder,
        _compile_record_encoder,
        _decode,
        _encode,
    )

    schema = json.loads(EVENT)
    enc_c = _compile_record_encoder(schema)
    dec_c = _compile_record_decoder(schema)
    assert enc_c is not None and dec_c is not None
    rec = {"event_type": et, "value": val, "props": props}
    out = bytearray()
    _encode(schema, rec, out)
    wire = bytes(out)
    assert enc_c(rec, b"") == wire
    assert dec_c(wire, 0) == _decode(schema, wire, 0)


def test_compiled_codec_falls_back_on_nested_shapes():
    """Arrays/maps/nested records are the generic walker's job — the
    compilers must decline them (None), never mis-encode."""
    from kafana_spark.sources.avro_codec import (
        _compile_record_decoder,
        _compile_record_encoder,
    )

    full = json.loads(FULL)
    assert _compile_record_encoder(full) is None
    assert _compile_record_decoder(full) is None


def test_union_index_outside_the_union_raises():
    """A union index must name a branch: zigzag -1 (byte 1) and 2
    (byte 4) raise in the walker and in the compiled decoder alike,
    never fall into a branch."""
    from kafana_spark.sources.avro_codec import _compile_record_decoder

    u = json.dumps({"type": "record", "name": "u",
                    "fields": [{"name": "v", "type": ["null", "long"]}]})
    dec_c = _compile_record_decoder(json.loads(u))
    for payload, idx in ((bytes([1, 14]), -1), (bytes([4, 14]), 2)):
        with pytest.raises(ValueError, match=f"union index {idx} "):
            decode_record(u, payload)
        with pytest.raises(ValueError, match=f"union index {idx} "):
            dec_c(payload, 0)


def _outcome(fn, *args):
    try:
        return "ok", repr(fn(*args))     # repr: NaN == NaN
    except Exception as e:  # noqa: BLE001 — the outcome IS the error
        return "raised", type(e).__name__


@settings(max_examples=300, deadline=None)
@given(payload=st.binary(max_size=40))
def test_compiled_decoder_agrees_with_walker_on_any_bytes(payload):
    """Kafka payloads come from outside the program: on arbitrary bytes
    the compiled decoder and the walker both raise the same error or
    both return the same (value, pos)."""
    from kafana_spark.sources.avro_codec import (
        _compile_record_decoder,
        _decode,
    )

    schema = json.loads(EVENT)
    dec_c = _compile_record_decoder(schema)
    assert _outcome(dec_c, payload, 0) == \
        _outcome(_decode, schema, payload, 0)
