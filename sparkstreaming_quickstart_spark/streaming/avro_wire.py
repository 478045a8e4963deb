"""Confluent-Avro wire decode, the package's one Avro decode route.

The reference's ingest resolves the *writer* schema per record from the
Confluent wire header (magic byte 0 + big-endian 4-byte schema id) via its
deserializer (Processor.java:51,128-130), then exposes GenericRecords.  This
module does the same without the spark-avro connector:

  * `decode_confluent_avro`, which decodes the binary `value` column of any
    batch or streaming DataFrame in the JVM: one Java UDF over `value`
    alone (`jvm/ConfluentAvroDecode.java`, built and loaded by
    `session.add_package_jar`) dispatches on the schema id, decodes with
    one cached Avro `GenericDatumReader` per writer schema (the Avro jar
    Spark ships), and projects fields onto the caller's reader schema by
    name (missing -> null, extra -> dropped, Avro's numeric promotions per
    reader column).  The {schema_id: writer schema} map is resolved at
    query build time (SURVEY.md 1.2), so mixed-schema topics decode.  Every
    other column stays in the plan untouched.  The Kafka route composes it
    onto the source: `decode_confluent_avro(kafka_stream(...),
    reader_struct(newest), fetch_subject_schemas(...))`;
  * a minimal, spec-complete-for-records Avro *binary* codec in pure Python
    (varint/zigzag ints, IEEE float/double, length-prefixed bytes/string,
    records, unions, arrays, maps, enums, fixed) with the Confluent header
    (`wire_encode`, `wire_decode`): the reference codec that fixtures write
    with and tests check the JVM decode against.
"""

from __future__ import annotations

import json
import struct
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import add_package_jar

MAGIC = 0


# ---------------------------------------------------------------------------
# Avro binary primitives (Avro spec: binary encoding)
# ---------------------------------------------------------------------------


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    try:
        while True:
            b = buf[pos]
            pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
    except IndexError:
        raise ValueError(f"truncated Avro data: varint runs past byte {len(buf)}") from None
    return (acc >> 1) ^ -(acc & 1), pos  # zigzag decode


def _take(buf: bytes, pos: int, n: int) -> bytes:
    """The `n` bytes at `pos`; a length past the end is malformed input."""
    end = pos + n
    if n < 0 or end > len(buf):
        raise ValueError(f"truncated Avro data: {n} bytes at {pos} past the end ({len(buf)})")
    return bytes(buf[pos:end])


def _index(seq: list, idx: int, what: str) -> Any:
    """`seq[idx]` for a decoded union branch or enum index (no negatives)."""
    if not 0 <= idx < len(seq):
        raise ValueError(f"{what} index {idx} outside the schema's {len(seq)}")
    return seq[idx]


def _write_varint(n: int) -> bytes:
    # zigzag: Python's arithmetic shift keeps this exact for negatives too
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _norm(schema: Any) -> Any:
    """Parse JSON strings; unwrap {'type': 'string'}-style primitive dicts."""
    if isinstance(schema, str) and schema.lstrip().startswith(("{", "[", '"')):
        schema = json.loads(schema)
    if isinstance(schema, dict) and isinstance(schema.get("type"), str) and not schema.get("fields") and schema["type"] not in ("record", "array", "map", "enum", "fixed"):
        return schema["type"]
    return schema


def decode(buf: bytes, schema: Any, pos: int = 0) -> tuple[Any, int]:
    """Decode one Avro value; returns (value, next position)."""
    schema = _norm(schema)
    if isinstance(schema, list):  # union: varint branch index then value
        branch, pos = _read_varint(buf, pos)
        return decode(buf, _index(schema, branch, "union branch"), pos)
    if isinstance(schema, str):
        if schema == "null":
            return None, pos
        if schema == "boolean":
            return _take(buf, pos, 1) == b"\x01", pos + 1
        if schema in ("int", "long"):
            return _read_varint(buf, pos)
        if schema == "float":
            return struct.unpack("<f", _take(buf, pos, 4))[0], pos + 4
        if schema == "double":
            return struct.unpack("<d", _take(buf, pos, 8))[0], pos + 8
        if schema in ("bytes", "string"):
            ln, pos = _read_varint(buf, pos)
            raw = _take(buf, pos, ln)
            return (raw.decode("utf-8") if schema == "string" else raw), pos + ln
        raise ValueError(f"unsupported primitive: {schema}")
    t = schema["type"]
    if t == "record":
        rec = {}
        for f in schema["fields"]:
            rec[f["name"]], pos = decode(buf, f["type"], pos)
        return rec, pos
    if t == "enum":
        idx, pos = _read_varint(buf, pos)
        return _index(schema["symbols"], idx, "enum"), pos
    if t == "fixed":
        ln = schema["size"]
        return _take(buf, pos, ln), pos + ln
    if t in ("array", "map"):
        items: Any = [] if t == "array" else {}
        while True:
            n, pos = _read_varint(buf, pos)
            if n == 0:
                break
            if n < 0:  # block with byte-size prefix
                n = -n
                _, pos = _read_varint(buf, pos)
            for _ in range(n):
                if t == "array":
                    v, pos = decode(buf, schema["items"], pos)
                    items.append(v)
                else:
                    k, pos = decode(buf, "string", pos)
                    items[k], pos = decode(buf, schema["values"], pos)
        return items, pos
    raise ValueError(f"unsupported schema: {schema}")


def encode(value: Any, schema: Any) -> bytes:
    """Encode one Avro value (fixture/test helper; mirror of `decode`)."""
    schema = _norm(schema)
    if isinstance(schema, list):
        for i, branch in enumerate(schema):
            b = _norm(branch)
            if (value is None) == (b == "null"):
                return _write_varint(i) + encode(value, b)
        raise ValueError("no matching union branch")
    if isinstance(schema, str):
        if schema == "null":
            return b""
        if schema == "boolean":
            return bytes([1 if value else 0])
        if schema in ("int", "long"):
            return _write_varint(int(value))
        if schema == "float":
            return struct.pack("<f", value)
        if schema == "double":
            return struct.pack("<d", value)
        if schema in ("bytes", "string"):
            raw = value.encode("utf-8") if isinstance(value, str) else value
            return _write_varint(len(raw)) + raw
        raise ValueError(f"unsupported primitive: {schema}")
    t = schema["type"]
    if t == "record":
        return b"".join(encode(value[f["name"]], f["type"]) for f in schema["fields"])
    if t == "enum":
        return _write_varint(schema["symbols"].index(value))
    if t == "fixed":
        return bytes(value)
    if t == "array":
        body = b"".join(encode(v, schema["items"]) for v in value)
        return (_write_varint(len(value)) + body + _write_varint(0)) if value else _write_varint(0)
    if t == "map":
        body = b"".join(
            encode(k, "string") + encode(v, schema["values"]) for k, v in value.items()
        )
        return (_write_varint(len(value)) + body + _write_varint(0)) if value else _write_varint(0)
    raise ValueError(f"unsupported schema: {schema}")


# ---------------------------------------------------------------------------
# Confluent wire format
# ---------------------------------------------------------------------------


def wire_encode(schema_id: int, value: Any, schema: Any) -> bytes:
    """magic 0 + big-endian schema id + Avro body (fixture/test helper)."""
    return bytes([MAGIC]) + schema_id.to_bytes(4, "big") + encode(value, schema)


def wire_decode(buf: bytes, schema_map: dict[int, Any]) -> tuple[int, Any]:
    """Resolve the writer schema from the wire header, decode the body.
    Malformed input (short header, bad magic byte, unknown schema id,
    truncated body, an index outside the schema) raises ValueError naming
    the cause."""
    if len(buf) < 5:
        raise ValueError(f"not Confluent wire format ({len(buf)} bytes, shorter than the 5-byte header)")
    if buf[0] != MAGIC:
        raise ValueError("not Confluent wire format (bad magic byte)")
    schema_id = int.from_bytes(buf[1:5], "big")
    if schema_id not in schema_map:
        raise ValueError(f"schema id {schema_id} not in the resolved registry map (ids {sorted(schema_map)})")
    value, _ = decode(buf, schema_map[schema_id], 5)
    return schema_id, value


# ---------------------------------------------------------------------------
# DataFrame operator
# ---------------------------------------------------------------------------

_READER_TYPES = {
    "boolean": BooleanType(),
    "int": IntegerType(),
    "long": LongType(),
    "float": FloatType(),
    "double": DoubleType(),
    "string": StringType(),
    "bytes": BinaryType(),
}


def reader_struct(schema_json: Any) -> StructType:
    """The reader `StructType` for an Avro record schema: one column per
    field.  Primitives map to their Spark type, a `["null", T]` union to T
    and an enum to a string; any other field type raises a ValueError
    naming the field.  Every column is nullable, since
    `decode_confluent_avro` projects a field that an older writer lacks to
    null."""
    record = _norm(schema_json)
    if not isinstance(record, dict) or record.get("type") != "record":
        raise ValueError(f"reader schema is not an Avro record: {schema_json!r}")
    fields = []
    for f in record["fields"]:
        t = _norm(f["type"])
        if isinstance(t, list) and len(t) == 2 and "null" in t:
            t = _norm(t[1 - t.index("null")])
        if isinstance(t, dict) and t.get("type") == "enum":
            t = "string"
        if not isinstance(t, str) or t not in _READER_TYPES:
            raise ValueError(f"field {f['name']!r}: no reader column for Avro type {f['type']!r}")
        fields.append(StructField(f["name"], _READER_TYPES[t]))
    return StructType(fields)


def decode_confluent_avro(
    df: DataFrame,
    reader_schema: StructType,
    schema_map: dict[int, Any],
) -> DataFrame:
    """Decode a Confluent-wire Avro `value` column against a schema-id map.

    Works on batch AND streaming DataFrames.  Output columns: every input
    column but `value` + `schema_id` int + one column per `reader_schema`
    field, projected by name from the per-record writer schema: a field the
    writer lacks is null, and Avro's numeric promotions (int -> long, float
    or double; long -> float or double; float -> double) widen a value to
    its column.  A null `value` (a Kafka tombstone) decodes to nulls, as
    Confluent's deserializer returns null for a null payload.  Malformed
    input (short header, bad magic byte, unknown schema id, truncated body,
    an index outside the schema) fails the query with the same cause as
    `wire_decode`'s ValueError.  A decoded name that is also a kept input
    column raises a ValueError.

    The decode is one Java UDF over `value` alone, so the plan has no
    Python stage, and filters or projections on the other columns plan
    around it (a filter on `offset` pushes into the scan).  The first call
    in an application compiles and loads the package jar
    (`session.add_package_jar`).
    """
    keep = [c for c in df.columns if c != "value"]
    clash = sorted({"schema_id", *reader_schema.fieldNames()} & set(keep))
    if clash:
        raise ValueError(f"decoded columns {clash} clash with input columns of the same name")
    spark = df.sparkSession
    add_package_jar(spark)
    writers = {int(k): json.dumps(_norm(v)) for k, v in schema_map.items()}
    decoded = spark._jvm.ssq.ConfluentAvroDecode.column(df["value"]._jc, writers, reader_schema.json())
    return df.select(*keep, Column(decoded).alias("value")).select(*keep, "value.*")
