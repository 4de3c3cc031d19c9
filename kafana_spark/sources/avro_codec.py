"""Self-contained Avro binary codec + Confluent framing operators.

Implements the Avro 1.x binary encoding (public spec: zigzag-varint
ints/longs, little-endian IEEE floats, length-prefixed bytes/strings,
in-order record fields, varint-indexed unions, block-encoded
arrays/maps) for the schema subset a Kafka Connect value uses: records
of primitives, nullable unions, nested records, arrays and maps.

Why hand-rolled: the environment ships neither the spark-avro JVM
artifact (``from_avro`` fails at analysis time) nor a Python avro
package, but the reference's converter surface
(/root/reference/convert/.../TombstoneAwareAvroConverter.java:21-31 —
``fromConnectData`` = serialize, ``toConnectData`` = deserialize) is a
declared inventory row (SURVEY §2.A2). This module makes both
directions real and testable: the encoder IS the write path, the
decoder is the jar-free twin of ``decode_avro_value`` (which remains
the JVM fast path wherever spark-avro is present).

The Spark operators run the codec row-at-a-time inside Arrow-batched
``mapInPandas`` — a codec producing variable-length bytes has no
vectorized form; this is the documented tier-(b) shape (Pandas-UDF
custom op). At 100 TB the decode belongs JVM-side via spark-avro; this
path keeps semantics runnable and tested everywhere.
"""

from __future__ import annotations

import json
import logging
import struct
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafana_spark.sources.kafka import CONFLUENT_MAGIC

_LOG = logging.getLogger(__name__)

# ------------------------------------------------------------ primitives


def _zigzag_encode(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_decode(buf: bytes, pos: int) -> tuple[int, int]:
    shift = u = 0
    while True:
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (u >> 1) ^ -(u & 1), pos


# ------------------------------------------------------------ schema walk


def _encode(schema: Any, v: Any, out: bytearray) -> None:
    t = schema["type"] if isinstance(schema, dict) else schema
    if isinstance(schema, list):                     # union
        # Branch selection is by null-ness only, which is sound solely
        # for the nullable-field shape ["null", T] / [T, "null"] that
        # Connect emits; a union of two non-null types would silently
        # pick the first branch, so reject anything wider outright.
        nulls = sum(1 for b in schema
                    if (b["type"] if isinstance(b, dict) else b) == "null")
        if len(schema) != 2 or nulls != 1:
            raise NotImplementedError(
                f"only [null, T] unions are supported, got {schema!r}")
        for i, branch in enumerate(schema):
            bt = branch["type"] if isinstance(branch, dict) else branch
            if (v is None) == (bt == "null"):
                out += _zigzag_encode(i)
                if bt != "null":
                    _encode(branch, v, out)
                return
        raise ValueError(f"value {v!r} matches no union branch {schema!r}")
    if t == "null":
        return
    if t == "boolean":
        out.append(1 if v else 0)
    elif t in ("int", "long"):
        out += _zigzag_encode(int(v))
    elif t == "float":
        out += struct.pack("<f", float(v))
    elif t == "double":
        out += struct.pack("<d", float(v))
    elif t == "string":
        b = str(v).encode("utf-8")
        out += _zigzag_encode(len(b)) + b
    elif t == "bytes":
        b = bytes(v)
        out += _zigzag_encode(len(b)) + b
    elif t == "record":
        for f in schema["fields"]:
            _encode(f["type"], v[f["name"]] if v is not None else None, out)
    elif t == "array":
        items = list(v or [])
        if items:
            out += _zigzag_encode(len(items))
            for item in items:
                _encode(schema["items"], item, out)
        out += _zigzag_encode(0)
    elif t == "map":
        entries = dict(v or {})
        if entries:
            out += _zigzag_encode(len(entries))
            for k, item in entries.items():
                kb = str(k).encode("utf-8")
                out += _zigzag_encode(len(kb)) + kb
                _encode(schema["values"], item, out)
        out += _zigzag_encode(0)
    else:
        raise NotImplementedError(f"avro type {t!r}")


def _decode(schema: Any, buf: bytes, pos: int) -> tuple[Any, int]:
    t = schema["type"] if isinstance(schema, dict) else schema
    if isinstance(schema, list):                     # union
        idx, pos = _zigzag_decode(buf, pos)
        if not 0 <= idx < len(schema):
            raise ValueError(f"union index {idx} outside {len(schema)} "
                             f"branches")
        return _decode(schema[idx], buf, pos)
    if t == "null":
        return None, pos
    if t == "boolean":
        return buf[pos] != 0, pos + 1
    if t in ("int", "long"):
        return _zigzag_decode(buf, pos)
    if t == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if t == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if t == "string":
        n, pos = _zigzag_decode(buf, pos)
        return buf[pos:pos + n].decode("utf-8"), pos + n
    if t == "bytes":
        n, pos = _zigzag_decode(buf, pos)
        return bytes(buf[pos:pos + n]), pos + n
    if t == "record":
        rec = {}
        for f in schema["fields"]:
            rec[f["name"]], pos = _decode(f["type"], buf, pos)
        return rec, pos
    if t == "array":
        items = []
        while True:
            n, pos = _zigzag_decode(buf, pos)
            if n == 0:
                return items, pos
            if n < 0:            # block with byte-size prefix
                _, pos = _zigzag_decode(buf, pos)
                n = -n
            for _ in range(n):
                item, pos = _decode(schema["items"], buf, pos)
                items.append(item)
    if t == "map":
        entries: dict[str, Any] = {}
        while True:
            n, pos = _zigzag_decode(buf, pos)
            if n == 0:
                return entries, pos
            if n < 0:
                _, pos = _zigzag_decode(buf, pos)
                n = -n
            for _ in range(n):
                kl, pos = _zigzag_decode(buf, pos)
                k = buf[pos:pos + kl].decode("utf-8")
                pos += kl
                entries[k], pos = _decode(schema["values"], buf, pos)
    raise NotImplementedError(f"avro type {t!r}")


# ------------------------------------------- compiled fast path (r13)
#
# The generic _encode/_decode walkers re-interpret the schema dict per
# record (isinstance/dict-lookup per field, union branch scan per
# value). For the flat record-of-primitives shape a Connect value
# actually has, compile the schema ONCE per task into a tuple of
# per-field closures with the varint length encoder memoized — same
# bytes out (pinned by the roundtrip + golden wire-vector tests), ~3-4x
# less interpreter work per record. Nested records/arrays/maps return
# None here and keep the generic walker.

_ZZ_SMALL = 2048


def _zz_table() -> list[bytes]:
    return [_zigzag_encode(i) for i in range(_ZZ_SMALL)]


_ZZ = _zz_table()


def _compile_value_encoder(schema: Any):
    """bytes-appending closure for one primitive/[null,T] value, or
    None when the shape needs the generic walker."""
    t = schema["type"] if isinstance(schema, dict) else schema
    if isinstance(schema, list):                     # union
        nulls = sum(1 for b in schema
                    if (b["type"] if isinstance(b, dict) else b) == "null")
        if len(schema) != 2 or nulls != 1:
            return None
        null_i = next(i for i, b in enumerate(schema)
                      if (b["type"] if isinstance(b, dict) else b) == "null")
        val_i = 1 - null_i
        inner = _compile_value_encoder(schema[val_i])
        if inner is None:
            return None
        null_b, val_b = _ZZ[null_i], _ZZ[val_i]

        def enc_union(v, out, _n=null_b, _vb=val_b, _inner=inner):
            if v is None:
                out += _n
            else:
                out += _vb
                _inner(v, out)
        return enc_union
    if t == "null":
        return lambda v, out: None
    if t == "boolean":
        return lambda v, out: out.append(1 if v else 0)
    if t in ("int", "long"):
        def enc_long(v, out, _zz=_ZZ, _enc=_zigzag_encode):
            n = int(v)
            out += _zz[n] if 0 <= n < _ZZ_SMALL else _enc(n)
        return enc_long
    if t == "float":
        return lambda v, out, _p=struct.pack: out.extend(_p("<f", float(v)))
    if t == "double":
        return lambda v, out, _p=struct.pack: out.extend(_p("<d", float(v)))
    if t == "string":
        def enc_str(v, out, _zz=_ZZ, _enc=_zigzag_encode):
            b = str(v).encode("utf-8")
            n = len(b)
            out += (_zz[n] if n < _ZZ_SMALL else _enc(n)) + b
        return enc_str
    if t == "bytes":
        def enc_bytes(v, out, _zz=_ZZ, _enc=_zigzag_encode):
            b = bytes(v)
            n = len(b)
            out += (_zz[n] if n < _ZZ_SMALL else _enc(n)) + b
        return enc_bytes
    return None


def _compile_record_encoder(schema: Any):
    """value-dict -> bytearray encoder for a flat record of
    primitives/[null,T] fields; None -> caller uses the generic walker."""
    if not (isinstance(schema, dict) and schema.get("type") == "record"):
        return None
    fns = []
    for f in schema["fields"]:
        fn = _compile_value_encoder(f["type"])
        if fn is None:
            return None
        fns.append((f["name"], fn))
    fns = tuple(fns)

    def enc_rec(v, prefix: bytes, _fns=fns) -> bytes:
        out = bytearray(prefix)
        for name, fn in _fns:
            fn(v[name], out)
        return bytes(out)
    return enc_rec


def _gen_uvarint(ind: str) -> str:
    """Source for an inlined unsigned-varint read into ``_u`` (single-
    byte fast path, loop for the rest)."""
    return (
        f"{ind}_u = buf[pos]; pos += 1\n"
        f"{ind}if _u & 0x80:\n"
        f"{ind}    _u &= 0x7F; _s = 7\n"
        f"{ind}    while True:\n"
        f"{ind}        _b = buf[pos]; pos += 1\n"
        f"{ind}        _u |= (_b & 0x7F) << _s\n"
        f"{ind}        if not _b & 0x80: break\n"
        f"{ind}        _s += 7\n")


def _gen_varint(dst: str, ind: str) -> str:
    """Source for an inlined zigzag-varint read into ``dst``."""
    return _gen_uvarint(ind) + f"{ind}{dst} = (_u >> 1) ^ -(_u & 1)\n"


def _gen_value_decoder(schema: Any, dst: str, ind: str) -> str | None:
    """Source lines decoding one value into ``dst`` (advancing
    ``pos``), or None when the shape needs the generic walker."""
    t = schema["type"] if isinstance(schema, dict) else schema
    if isinstance(schema, list):                     # union
        if len(schema) != 2:
            return None
        # the whole varint, as the walker reads it; branch i is
        # zigzag(i) = 2i, and any other index raises
        branches = []
        for b in schema:
            src = _gen_value_decoder(b, dst, ind + "    ")
            if src is None:
                return None
            branches.append(src)
        out = _gen_uvarint(ind)
        out += f"{ind}if _u == 0:\n{branches[0]}"
        out += f"{ind}elif _u == 2:\n{branches[1]}"
        out += (f"{ind}else:\n{ind}    raise ValueError(f'union index "
                f"{{(_u >> 1) ^ -(_u & 1)}} outside 2 branches')\n")
        return out
    if t == "null":
        return f"{ind}{dst} = None\n"
    if t == "boolean":
        return f"{ind}{dst} = buf[pos] != 0; pos += 1\n"
    if t in ("int", "long"):
        return _gen_varint(dst, ind)
    if t == "float":
        return (f"{ind}{dst} = _unpack_f(buf, pos)[0]; pos += 4\n")
    if t == "double":
        return (f"{ind}{dst} = _unpack_d(buf, pos)[0]; pos += 8\n")
    if t == "string":
        return (_gen_varint("_n", ind)
                + f"{ind}{dst} = buf[pos:pos + _n]"
                  f".decode('utf-8'); pos += _n\n")
    if t == "bytes":
        return (_gen_varint("_n", ind)
                + f"{ind}{dst} = bytes(buf[pos:pos + _n]); pos += _n\n")
    return None


def _compile_record_decoder(schema: Any):
    """exec-codegen'd (buf, pos) -> (dict, pos) decoder with every
    varint read inlined; None -> caller uses the generic walker. The
    generated function is created per task (never pickled) and its
    output is pinned byte-for-byte against the walker by tests."""
    if not (isinstance(schema, dict) and schema.get("type") == "record"):
        return None
    body = "def _dec_rec(buf, pos):\n"
    names = []
    for i, f in enumerate(schema["fields"]):
        src = _gen_value_decoder(f["type"], f"_f{i}", "    ")
        if src is None:
            return None
        names.append(f["name"])
        body += src
    items = ", ".join(f"{n!r}: _f{i}" for i, n in enumerate(names))
    body += f"    return {{{items}}}, pos\n"
    ns = {"_unpack_f": struct.Struct("<f").unpack_from,
          "_unpack_d": struct.Struct("<d").unpack_from}
    exec(body, ns)  # noqa: S102 — source is generated from the schema
    return ns["_dec_rec"]


def encode_record(schema_json: str, value: dict | None) -> bytes | None:
    """Serialize one record to Avro binary (fromConnectData semantics:
    a null value is a tombstone → null bytes, not an encoded null)."""
    if value is None:
        return None
    out = bytearray()
    _encode(json.loads(schema_json), value, out)
    return bytes(out)


def decode_record(schema_json: str, payload: bytes | None) -> dict | None:
    """Deserialize Avro binary to a dict (toConnectData semantics:
    null bytes = tombstone = null value)."""
    if payload is None:
        return None
    v, pos = _decode(json.loads(schema_json), payload, 0)
    if pos != len(payload):
        raise ValueError(f"{len(payload) - pos} trailing bytes")
    return v


# ------------------------------------------------------- Spark operators


def to_confluent_avro(df: DataFrame, schema_json: str, schema_id: int,
                      value_col: str = "value_struct",
                      out_col: str = "value") -> DataFrame:
    """A2 write path (``fromConnectData``): struct column -> Confluent-
    framed Avro bytes (magic 0 + big-endian schema id + binary payload).
    Null structs stay null (tombstones are NOT framed — the reference
    passes them through, TombstoneAwareAvroConverter.java:21-23)."""
    header = struct.pack(">bI", CONFLUENT_MAGIC, schema_id)
    cols = [c for c in df.columns if c != value_col]
    fields = [f["name"] for f in json.loads(schema_json)["fields"]]

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # schema parsed ONCE per task, not per record: json.loads in
        # the row loop measured 14.8 µs/rec vs 8.4 hoisted (1.8×).
        # r13: flat record-of-primitives schemas additionally compile
        # to per-field closures (no schema re-interpretation per
        # record — measured ~2.8x per record offline); nested shapes
        # keep the generic walker.
        parsed = json.loads(schema_json)
        enc_rec = _compile_record_encoder(parsed)
        if enc_rec is not None:
            def enc_one(v: Any, _e=enc_rec, _h=header) -> bytes:
                return _e(v, _h)
        else:
            def enc_one(v: Any) -> bytes:
                out = bytearray(header)
                _encode(parsed, dict(v), out)
                return bytes(out)

        for pdf in batches:
            vals = pdf[value_col]
            payloads = [None if v is None else enc_one(v) for v in vals]
            yield pdf[cols].assign(**{out_col: payloads})

    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields if f.name != value_col)
    schema = f"{out_fields}, {out_col} binary" if out_fields \
        else f"{out_col} binary"
    # struct -> dict via Arrow: ensure the struct carries exactly the
    # schema fields, in order; F.struct alone would turn a NULL struct
    # (tombstone) into a struct of nulls, so guard it
    reordered = F.struct(*[F.col(f"{value_col}.{name}") for name in fields])
    src = df.withColumn(
        value_col,
        F.when(F.col(value_col).isNull(), F.lit(None)).otherwise(reordered))
    return src.mapInPandas(enc, schema)


def decode_avro(df: DataFrame, schema_json: str, spark_struct: str,
                value_col: str = "value",
                out_col: str = "value_struct") -> DataFrame:
    """Decode Confluent-framed Avro, preferring the JVM path.

    PRODUCTION path: ``kafka.decode_avro_value`` (spark-avro's
    ``from_avro``, codegen'd, zero Python in the hot loop). Only when
    the spark-avro artifact is absent — ``from_avro`` import fails or
    the call dies at analysis — does this fall back to the
    interpreter-bound Python codec below, with a warning: per-record
    Python decode is fine for dev/test corpora but is the ingest
    bottleneck at 100 TB.
    """
    from kafana_spark.sources import kafka

    jvm_err: Exception | None = None
    if kafka.HAVE_AVRO:
        try:
            out = kafka.decode_avro_value(df, schema_json,
                                          value_col=value_col,
                                          out_col=out_col)
            out.schema  # force analysis so a missing jar surfaces HERE
            return out
        except Exception as exc:
            # Only a missing spark-avro artifact justifies the Python
            # fallback. Anything else (malformed schema_json, bad
            # column, analysis bug) must SURFACE, not silently switch
            # codecs — the two paths could then decode differently and
            # mask the real defect (ADVICE.md r5). A missing jar shows
            # up as a classpath/JVM-registration error; deliberately NO
            # bare-'avro' marker — a SchemaParseException mentions
            # org.apache.avro too and must raise, not fall back.
            msg = str(exc)
            jar_markers = ("AVRO_NOT_LOADED",        # Spark 4 error class
                           "Avro data source is not loaded",
                           "does not exist in the JVM",
                           "ClassNotFound", "NoClassDefFound",
                           "Failed to find", "FAILED_TO_LOAD_AVRO")
            if not any(m in msg for m in jar_markers):
                raise
            jvm_err = exc
    _LOG.warning(
        "spark-avro JVM artifact unavailable%s — falling back to the "
        "Python Avro codec (dev path; interpreter-bound, unfit for "
        "production-scale ingest). Ship the spark-avro package to use "
        "the JVM from_avro fast path.",
        f" ({type(jvm_err).__name__}: {jvm_err})" if jvm_err else "")
    return from_confluent_avro_py(df, schema_json, spark_struct,
                                  value_col=value_col, out_col=out_col)


def from_confluent_avro_py(df: DataFrame, schema_json: str,
                           spark_struct: str,
                           value_col: str = "value",
                           out_col: str = "value_struct") -> DataFrame:
    """Jar-free A1 decode twin of ``decode_avro_value``: framed bytes ->
    struct column (``spark_struct`` is the struct DDL matching the Avro
    schema). Tombstones (null bytes) decode to null structs.

    DEV PATH: prefer ``decode_avro`` (above), which dispatches to the
    JVM ``from_avro`` whenever the spark-avro artifact is present and
    only lands here as the documented jar-less fallback."""
    cols = [c for c in df.columns if c != out_col]

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # schema parsed ONCE per task (9.9 µs/rec → 4.1 hoisted);
        # r13: flat schemas compile to per-field closures (see enc)
        # and skip the [5:] frame-strip copy by decoding from pos=5.
        parsed = json.loads(schema_json)
        dec_rec = _compile_record_decoder(parsed) or (
            lambda buf, pos: _decode(parsed, buf, pos))

        def dec_one(v: Any, _d=dec_rec) -> dict:
            buf = bytes(v)
            rec, pos = _d(buf, 5)
            if pos != len(buf):
                raise ValueError(f"{len(buf) - pos} trailing bytes")
            return rec

        for pdf in batches:
            decoded = [None if v is None else dec_one(v)
                       for v in pdf[value_col]]
            yield pdf[cols].assign(**{out_col: decoded})

    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields if f.name != out_col)
    return df.mapInPandas(
        dec, f"{out_fields}, {out_col} struct<{spark_struct}>")
