"""Avro binary codec + Confluent wire framing, in Python, plus the
compiler of the replication fast path's walker programs.

Implements the Apache Avro binary encoding from the public specification
(https://avro.apache.org/docs/current/specification/): zigzag-varint
ints/longs, length-prefixed bytes/strings, little-endian IEEE floats,
fields-in-order records, index-prefixed unions, block-encoded arrays/maps.
No Avro library dependency — the spark-avro datasource jar is not present
in this environment, and the codec must also run inside Arrow-batched
Python workers, so a self-contained implementation is the portable choice.

Confluent wire format (public: Confluent Schema Registry docs, and implied
by the reference's serde config at
/root/reference/src/main/resources/application.yml:11-16):
1 magic byte 0x00 + 4-byte big-endian schema id + Avro binary payload.

Supported schema surface: null boolean int long float double bytes string,
record enum array map union fixed — the full named-type set a
GenericRecord replicator can carry (SURVEY.md §1.3).
"""

from __future__ import annotations

import io
import json
import struct

MAGIC = b"\x00"


# ---------------------------------------------------------------------------
# primitives
# ---------------------------------------------------------------------------
def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _write_varint(out: io.BytesIO, n: int) -> None:
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.write(bytes([b | 0x80]))
        else:
            out.write(bytes([b]))
            return


def _read_varint(buf: io.BytesIO) -> int:
    shift, result = 0, 0
    while True:
        byte = buf.read(1)
        if not byte:
            raise EOFError("truncated varint")
        b = byte[0]
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result
        shift += 7


def _write_long(out: io.BytesIO, n: int) -> None:
    _write_varint(out, _zigzag_encode(n) & 0xFFFFFFFFFFFFFFFF)


def _read_long(buf: io.BytesIO) -> int:
    return _zigzag_decode(_read_varint(buf))


# ---------------------------------------------------------------------------
# schema helpers
# ---------------------------------------------------------------------------
_PRIMITIVES = frozenset(
    ("null", "boolean", "int", "long", "float", "double", "bytes", "string"))


def parse_schema(schema: str | dict | list) -> dict | list | str:
    """Accept a JSON string or already-parsed schema; return parsed form.
    A bare primitive name like ``"string"`` is returned as is, without a
    JSON parse (``decode`` and ``encode`` call this on every datum)."""
    if isinstance(schema, str):
        if schema in _PRIMITIVES:
            return schema
        try:
            return json.loads(schema)
        except json.JSONDecodeError:
            return schema  # a named-type reference
    return schema


def _schema_type(schema) -> str:
    if isinstance(schema, str):
        return schema
    if isinstance(schema, list):
        return "union"
    return schema["type"]


def canonical_json(schema) -> str:
    """Stable JSON text for registry storage/equality."""
    return json.dumps(parse_schema(schema), sort_keys=True, separators=(",", ":"))


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------
def encode(datum, schema) -> bytes:
    out = io.BytesIO()
    _encode(out, datum, parse_schema(schema))
    return out.getvalue()


def _union_branch_matches(datum, branch) -> bool:
    t = _schema_type(branch)
    if t == "null":
        return datum is None
    if t == "boolean":
        return isinstance(datum, bool)
    if t in ("int", "long"):
        return isinstance(datum, int) and not isinstance(datum, bool)
    if t in ("float", "double"):
        return isinstance(datum, float)
    if t == "string":
        return isinstance(datum, str)
    if t in ("bytes", "fixed"):
        return isinstance(datum, (bytes, bytearray))
    if t == "enum":
        return isinstance(datum, str)
    if t == "array":
        return isinstance(datum, list)
    if t in ("map", "record"):
        return isinstance(datum, dict)
    return False


def _encode(out: io.BytesIO, datum, schema) -> None:
    t = _schema_type(schema)
    if t == "null":
        return
    if t == "boolean":
        out.write(b"\x01" if datum else b"\x00")
    elif t in ("int", "long"):
        _write_long(out, int(datum))
    elif t == "float":
        out.write(struct.pack("<f", float(datum)))
    elif t == "double":
        out.write(struct.pack("<d", float(datum)))
    elif t == "bytes":
        b = bytes(datum)
        _write_long(out, len(b))
        out.write(b)
    elif t == "string":
        b = str(datum).encode("utf-8")
        _write_long(out, len(b))
        out.write(b)
    elif t == "fixed":
        b = bytes(datum)
        if len(b) != schema["size"]:
            raise ValueError(f"fixed size mismatch: {len(b)} != {schema['size']}")
        out.write(b)
    elif t == "enum":
        _write_long(out, schema["symbols"].index(datum))
    elif t == "union":
        for i, branch in enumerate(schema):
            if _union_branch_matches(datum, branch):
                _write_long(out, i)
                _encode(out, datum, branch)
                return
        raise ValueError(f"datum {datum!r} matches no union branch in {schema}")
    elif t == "array":
        if datum:
            _write_long(out, len(datum))
            for item in datum:
                _encode(out, item, schema["items"])
        _write_long(out, 0)
    elif t == "map":
        if datum:
            _write_long(out, len(datum))
            for k, v in datum.items():
                _encode(out, str(k), "string")
                _encode(out, v, schema["values"])
        _write_long(out, 0)
    elif t == "record":
        for field in schema["fields"]:
            name = field["name"]
            if name in datum:
                value = datum[name]
            elif "default" in field:
                value = field["default"]
            else:
                raise ValueError(f"record missing field {name!r} with no default")
            _encode(out, value, field["type"])
    else:
        raise ValueError(f"unsupported Avro type: {t!r}")


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------
def decode(data: bytes, schema):
    buf = io.BytesIO(data)
    datum = _decode(buf, parse_schema(schema))
    return datum


def _read_exact(buf: io.BytesIO, n: int) -> bytes:
    """Exactly ``n`` bytes: a negative length or a short read raises
    (``buf.read`` alone would read to the end, or return fewer bytes)."""
    if n < 0:
        raise ValueError(f"negative length {n}")
    b = buf.read(n)
    if len(b) != n:
        raise EOFError(f"truncated payload: wanted {n} bytes, got {len(b)}")
    return b


def _decode(buf: io.BytesIO, schema):
    t = _schema_type(schema)
    if t == "null":
        return None
    if t == "boolean":
        return _read_exact(buf, 1) == b"\x01"
    if t in ("int", "long"):
        return _read_long(buf)
    if t == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if t == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if t == "bytes":
        return _read_exact(buf, _read_long(buf))
    if t == "string":
        return _read_exact(buf, _read_long(buf)).decode("utf-8")
    if t == "fixed":
        return _read_exact(buf, schema["size"])
    if t == "enum":
        return schema["symbols"][_read_long(buf)]
    if t == "union":
        return _decode(buf, schema[_read_long(buf)])
    if t == "array":
        result = []
        while True:
            count = _read_long(buf)
            if count == 0:
                return result
            if count < 0:  # block with byte size prefix
                count = -count
                _read_long(buf)
            for _ in range(count):
                result.append(_decode(buf, schema["items"]))
    if t == "map":
        result = {}
        while True:
            count = _read_long(buf)
            if count == 0:
                return result
            if count < 0:
                count = -count
                _read_long(buf)
            for _ in range(count):
                k = _decode(buf, "string")
                result[k] = _decode(buf, schema["values"])
    if t == "record":
        return {f["name"]: _decode(buf, f["type"]) for f in schema["fields"]}
    raise ValueError(f"unsupported Avro type: {t!r}")


# ---------------------------------------------------------------------------
# Confluent framing (R3/R6: the serde wire format of the reference)
# ---------------------------------------------------------------------------
def frame(schema_id: int, payload: bytes) -> bytes:
    """magic 0x00 + 4-byte big-endian schema id + Avro binary payload."""
    return MAGIC + struct.pack(">I", schema_id) + payload


def unframe(data: bytes) -> tuple[int, bytes]:
    """Return (schema_id, payload); raises on a non-Confluent frame."""
    if len(data) < 5 or data[0:1] != MAGIC:
        raise ValueError("not a Confluent-framed message (bad magic byte)")
    return struct.unpack(">I", data[1:5])[0], data[5:]


def serialize_confluent(datum, schema, schema_id: int) -> bytes:
    return frame(schema_id, encode(datum, schema))


def deserialize_confluent(data: bytes, schemas_by_id: dict):
    """Decode a framed message using a schema-id → schema mapping
    (resolved against the registry at plan time; an unknown id means the
    topic evolved mid-query — the documented policy is restart-on-
    evolution, mirroring Spark's static-schema-per-query constraint)."""
    sid, payload = unframe(data)
    if sid not in schemas_by_id:
        raise KeyError(
            f"schema id {sid} not in plan-time registry snapshot "
            "(topic schema evolved; restart the query)"
        )
    return sid, decode(payload, schemas_by_id[sid])


# ---------------------------------------------------------------------------
# walker programs (the replication header-rewrite check)
# ---------------------------------------------------------------------------
# The check itself runs in the JVM (jvm/GraftWalk.java, one Spark SQL UDF):
# it walks a payload by an opcode tree compiled here from the writer schema
# and vouches for the payloads that ``encode(decode(payload))`` gives back
# byte for byte. This module only decides which schemas it covers and
# emits their opcodes; GraftWalk.java documents the checks and the layout.

# The Python class each union branch's datum has, as _union_branch_matches
# sees it. Re-encoding picks the FIRST branch of the datum's class, so a
# union whose branches share a class may re-encode under another index.
_MATCH_CLASS = {
    "null": "none", "boolean": "bool", "int": "int", "long": "int",
    "float": "float", "double": "float", "string": "str", "enum": "str",
    "bytes": "bytes", "fixed": "bytes", "array": "list", "map": "dict",
    "record": "dict",
}

# GraftWalk's opcodes
_PRIMITIVE_OPS = {"null": 0, "boolean": 1, "int": 2, "long": 2, "float": 3, "double": 4,
                  "bytes": 5, "string": 6}
_FIXED, _ENUM, _UNION, _RECORD, _ID = 7, 8, 9, 10, 11


class _Unwalkable(Exception):
    """A schema outside the walker's surface (the full path handles it)."""


def _record_fields(schema: dict) -> list[dict]:
    fields = schema["fields"]
    names = [f["name"] for f in fields]
    if len(set(names)) != len(names):
        raise _Unwalkable("duplicate field names")  # decode keeps the last
    return fields


def _record_op(fields: list[dict], id_at: int = -1) -> bytes:
    ops = [bytes([_ID]) if i == id_at else _op(f["type"]) for i, f in enumerate(fields)]
    return struct.pack(">bi", _RECORD, len(ops)) + b"".join(ops)


def _op(schema) -> bytes:
    """The opcodes of one value of ``schema``; raises _Unwalkable outside
    the surface."""
    t = _schema_type(schema)
    if t in _PRIMITIVE_OPS:
        return bytes([_PRIMITIVE_OPS[t]])
    if t == "fixed":
        size = schema["size"]
        if not isinstance(size, int) or not 0 <= size < 2**31:
            raise _Unwalkable("bad fixed size")
        return struct.pack(">bi", _FIXED, size)
    if t == "enum":
        symbols = schema["symbols"]
        if len(set(symbols)) != len(symbols):
            raise _Unwalkable("duplicate enum symbols")  # encode finds the first
        return struct.pack(">bi", _ENUM, len(symbols))
    if t == "union":
        classes = [_MATCH_CLASS[_schema_type(b)] for b in schema]
        if len(set(classes)) != len(classes):
            raise _Unwalkable("union branches of one match class")
        branches = [_op(b) for b in schema]
        return struct.pack(">bi", _UNION, len(branches)) + b"".join(
            struct.pack(">i", len(b)) + b for b in branches)
    if t == "record":
        return _record_op(_record_fields(schema))
    raise _Unwalkable(f"no walker for {t!r}")  # array, map, named references


def compile_walker(schema) -> bytes | None:
    """Plan-time compile of the replication fast path's check for one
    writer schema: a record whose top-level ``id`` field is a plain
    ``string``. Returns the GraftWalk opcodes of the record, the ``id``
    field marked as the span to return (its Avro encoding as a bare
    string, length prefix included, i.e. a key payload).

    Returns None for a schema the walker does not cover: a non-record, an
    ``id`` that is missing or not a plain string, duplicate field names
    or enum symbols, arrays, maps, named-type references, or unions with
    two branches of one match class."""
    try:
        schema = parse_schema(schema)
        if _schema_type(schema) != "record":
            return None
        fields = _record_fields(schema)
        names = [f["name"] for f in fields]
        if "id" not in names or _schema_type(fields[names.index("id")]["type"]) != "string":
            return None
        return _record_op(fields, names.index("id"))
    except (_Unwalkable, KeyError, TypeError, AttributeError):
        return None


# ---------------------------------------------------------------------------
# schema resolution (reader vs writer — Avro spec "Schema Resolution")
# ---------------------------------------------------------------------------
def resolve(datum, writer_schema, reader_schema):
    """Project a datum decoded under ``writer_schema`` onto
    ``reader_schema`` — the consumer-side half of registry BACKWARD
    compatibility: a reader on an evolved schema consumes records written
    under any earlier compatible version. Record rule (Avro spec, Schema
    Resolution): reader fields present in the writer take the written
    value; reader-only fields take their default (error if none); writer
    fields absent from the reader are dropped. Nested records/arrays/maps
    resolve recursively."""
    w, r = parse_schema(writer_schema), parse_schema(reader_schema)
    wt, rt = _schema_type(w), _schema_type(r)
    if rt == "record":
        if wt != "record":
            raise ValueError(f"cannot resolve {wt!r} against record reader")
        wfields = {f["name"]: f for f in w["fields"]}
        out = {}
        for rf in r["fields"]:
            name = rf["name"]
            if name in wfields:
                out[name] = resolve(datum[name], wfields[name]["type"], rf["type"])
            elif "default" in rf:
                out[name] = rf["default"]
            else:
                raise ValueError(
                    f"reader field {name!r} missing from writer schema and has "
                    "no default (schemas are not read-compatible)"
                )
        return out
    if rt == "array" and wt == "array":
        return [resolve(v, w["items"], r["items"]) for v in datum]
    if rt == "map" and wt == "map":
        return {k: resolve(v, w["values"], r["values"]) for k, v in datum.items()}
    if rt == "union":
        # decoded datum already carries its branch value; accept as-is if
        # any reader branch matches (null/None handled by branch match)
        for branch in r:
            if _union_branch_matches(datum, branch):
                return datum
        raise ValueError(f"datum {datum!r} matches no reader union branch")
    return datum  # identical primitive (type promotions out of scope)


def deserialize_confluent_evolved(data: bytes, schemas_by_id: dict, reader_schema):
    """deserialize_confluent + schema resolution: decode with the
    per-record WRITER schema (from the registry snapshot), then project
    onto the consumer's READER schema — how an evolved consumer keeps
    reading a mixed-version topic without a restart."""
    sid, datum = deserialize_confluent(data, schemas_by_id)
    return sid, resolve(datum, schemas_by_id[sid], reader_schema)
