"""Avro binary codec + Confluent wire framing, in Python (numpy and
pyarrow only for the columnar walker of the replication fast path).

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

import numpy as np
import pyarrow as pa

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
def parse_schema(schema: str | dict | list) -> dict | list | str:
    """Accept a JSON string or already-parsed schema; return parsed form."""
    if isinstance(schema, str):
        try:
            return json.loads(schema)
        except json.JSONDecodeError:
            return schema  # bare primitive name like "string"
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
# columnar payload walker (the replication header-rewrite check)
# ---------------------------------------------------------------------------
# A walker checks a whole column of payloads at once: which of them are
# exactly what ``encode(decode(payload))`` would give back, without building
# a decoded datum. It walks the schema field by field with one position per
# payload (a numpy vector over the shared value buffer), and rejects a
# payload for: a varint that is not the shortest encoding of a value below
# 2**64, a negative length or one past the payload's end, invalid UTF-8, a
# boolean byte other than 0 or 1, an out-of-range union or enum index, a
# fixed that does not fit, a payload that does not end where the record
# does. It is conservative on one point: a NaN float or double rejects the
# payload, whether or not its bits would survive the round trip. A
# rejected payload is no error, only one the walker does not vouch for:
# callers take the full path for it.
#
# Steps never raise on payload bytes: reads go through ``take(...,
# mode="clip")`` and a rejected payload's later steps run on harmlessly.
# Positions only grow, so a read past a payload's end leaves its position
# past the end, which the final row-end check rejects; only lengths are
# checked against the end as they are read (they also bound the spans the
# UTF-8 check gathers).

# The Python class each union branch's datum has, as _union_branch_matches
# sees it. Re-encoding picks the FIRST branch of the datum's class, so a
# union whose branches share a class may re-encode under another index.
_MATCH_CLASS = {
    "null": "none", "boolean": "bool", "int": "int", "long": "int",
    "float": "float", "double": "float", "string": "str", "enum": "str",
    "bytes": "bytes", "fixed": "bytes", "array": "list", "map": "dict",
    "record": "dict",
}

_ONE = np.uint64(1)


class _Unwalkable(Exception):
    """A schema outside the walker's surface (the full path handles it)."""


def binary_buffers(values: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """``(data, offsets)`` of a binary array as numpy: row ``i`` is
    ``data[offsets[i]:offsets[i + 1]]``. Only the bytes the rows span are
    viewed (a slice's parent buffer stays out) and ``offsets`` start at 0."""
    n = len(values)
    if not n:  # an empty array's offsets buffer may be empty too
        return np.zeros(0, np.uint8), np.zeros(1, np.int64)
    width = 8 if pa.types.is_large_binary(values.type) else 4
    _, obuf, dbuf = values.buffers()
    offsets = np.frombuffer(obuf, f"<i{width}", n + 1, values.offset * width)
    base, stop = int(offsets[0]), int(offsets[-1])
    data = np.frombuffer(dbuf, np.uint8, stop - base, base) if stop > base else np.zeros(0, np.uint8)
    return data, offsets.astype(np.int64) - base


def binary_array(offsets: np.ndarray, data: np.ndarray) -> pa.Array:
    """A ``pa.binary()`` array (no nulls) from ``binary_buffers``-style
    numpy offsets and bytes."""
    return pa.Array.from_buffers(
        pa.binary(), len(offsets) - 1,
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)],
    )


def gather_spans(data: np.ndarray, start: np.ndarray, stop: np.ndarray):
    """``(offsets, bytes)`` of the spans ``data[start[i]:stop[i]]`` laid
    end to end, with no Python loop."""
    lengths = stop - start
    offsets = np.zeros(len(lengths) + 1, np.int64)
    np.cumsum(lengths, out=offsets[1:])
    idx = np.arange(offsets[-1]) + np.repeat(start - offsets[:-1], lengths)
    return offsets, data[idx]


def _varint(data, pos):
    """``(value, next, ok)`` of the varints at ``pos``, value as uint64:
    ``ok`` where the varint is the shortest encoding of a value below
    2**64 (what _write_varint writes)."""
    first = data.take(pos, mode="clip")
    value = (first & 0x7F).astype(np.uint64)
    nxt = pos + 1
    ok = np.ones(len(pos), bool)
    more = np.flatnonzero(first >= 0x80)
    if more.size:
        p, acc = pos[more], value[more]
        size = np.zeros(more.size, np.int64)  # bytes read; 0 while reading
        for k in range(1, 10):
            live = size == 0
            if not live.any():
                break
            b = data.take(p + k, mode="clip")
            acc |= np.where(live, b & 0x7F, 0).astype(np.uint64) << np.uint64(7 * k)
            size[live & (b < 0x80)] = k + 1
        last = data.take(p + size - 1, mode="clip")
        good = size > 0  # no end within 10 bytes: over-long
        good &= last != 0  # a 0 last byte: non-minimal
        good &= (size < 10) | (last == 1)  # a 10th byte above 1: 2**64 or more
        value[more], nxt[more], ok[more] = acc, p + np.maximum(size, 1), good
    return value, nxt, ok


def _count(data, pos):
    """``(n, next, ok)`` of zigzag longs that must not be negative: lengths
    and indexes, as int64."""
    value, pos, ok = _varint(data, pos)
    ok &= (value & _ONE) == 0
    return (value >> _ONE).astype(np.int64), pos, ok


class _Walk:
    """One columnar walk: the value buffer, plus every string span walked,
    for one UTF-8 check at the end."""

    def __init__(self, data: np.ndarray) -> None:
        self.data = data
        self.strings: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = []

    def invalid_utf8(self) -> np.ndarray:
        """Rows with a walked string span that is not valid UTF-8. Spans
        holding a byte >= 0x80 are gathered into one binary array and cast
        to string, which validates them all at once; only if that cast
        raises are they decoded one by one."""
        if not self.strings:
            return np.zeros(0, np.int64)
        rows, start, stop = (np.concatenate(c) for c in zip(*self.strings))
        # each span's largest byte: reduceat over start/stop pairs (the
        # pad keeps a stop at the buffer's end a valid index; an empty
        # span reduces to one byte that is not its own)
        padded = np.append(self.data, np.uint8(0))
        largest = np.maximum.reduceat(padded, np.column_stack([start, stop]).ravel())[::2]
        mixed = (largest >= 0x80) & (stop > start)
        rows, start, stop = rows[mixed], start[mixed], stop[mixed]
        if not rows.size:
            return rows
        spans = binary_array(*gather_spans(self.data, start, stop))
        try:
            spans.cast(pa.string())
            return rows[:0]
        except pa.ArrowInvalid:
            return rows[[i for i, s in enumerate(spans.to_pylist()) if not _is_utf8(s)]]


def _is_utf8(b: bytes) -> bool:
    try:
        b.decode("utf-8")
    except UnicodeDecodeError:
        return False
    return True


# A step walks one value of its schema for a set of rows:
# ``step(w, rows, pos, end) -> (next, ok)``, ``rows`` the payload numbers
# (for the UTF-8 check), ``pos``/``end`` each payload's position and end.
def _walk_boolean(w, rows, pos, end):
    return pos + 1, w.data.take(pos, mode="clip") <= 1


def _walk_long(w, rows, pos, end):
    _, pos, ok = _varint(w.data, pos)
    return pos, ok


def _walk_span(w, pos, end):
    n, pos, ok = _count(w.data, pos)
    ok &= n <= end - pos
    return pos, pos + np.where(ok, n, 0), ok


def _walk_bytes(w, rows, pos, end):
    _, stop, ok = _walk_span(w, pos, end)
    return stop, ok


def _walk_string(w, rows, pos, end):
    start, stop, ok = _walk_span(w, pos, end)
    w.strings.append((rows[ok], start[ok], stop[ok]))
    return stop, ok


def _float_step(dtype: str):
    size = np.dtype(dtype).itemsize
    at = np.arange(size)

    def walk(w, rows, pos, end):
        values = w.data.take(pos[:, None] + at, mode="clip").view(dtype)[:, 0]
        return pos + size, ~np.isnan(values)

    return walk


def _fixed_step(size: int):
    def walk(w, rows, pos, end):
        return pos + size, np.ones(len(pos), bool)

    return walk


def _enum_step(n: int):
    def walk(w, rows, pos, end):
        i, pos, ok = _count(w.data, pos)
        return pos, ok & (i < n)

    return walk


def _union_step(branches: list):
    def walk(w, rows, pos, end):
        i, pos, ok = _count(w.data, pos)
        ok &= i < len(branches)
        for b, step in enumerate(branches):
            if step is None:
                continue
            sel = np.flatnonzero(ok & (i == b))
            if sel.size:
                pos[sel], sub_ok = step(w, rows[sel], pos[sel], end[sel])
                ok[sel] &= sub_ok
        return pos, ok

    return walk


def _record_step(steps: list):
    steps = [s for s in steps if s is not None]

    def walk(w, rows, pos, end):
        ok = np.ones(len(pos), bool)
        for step in steps:
            pos, step_ok = step(w, rows, pos, end)
            ok &= step_ok
        return pos, ok

    return walk


def _record_fields(schema: dict) -> list[dict]:
    fields = schema["fields"]
    names = [f["name"] for f in fields]
    if len(set(names)) != len(names):
        raise _Unwalkable("duplicate field names")  # decode keeps the last
    return fields


_PRIMITIVE_STEPS = {
    "null": None,
    "boolean": _walk_boolean,
    "int": _walk_long,
    "long": _walk_long,
    "float": _float_step("<f4"),
    "double": _float_step("<f8"),
    "bytes": _walk_bytes,
    "string": _walk_string,
}


def _compile_step(schema):
    """The step of one value of ``schema`` (None for null, which takes no
    bytes); raises _Unwalkable outside the surface."""
    t = _schema_type(schema)
    if t in _PRIMITIVE_STEPS:
        return _PRIMITIVE_STEPS[t]
    if t == "fixed":
        size = schema["size"]
        if not isinstance(size, int) or size < 0:
            raise _Unwalkable("bad fixed size")
        return _fixed_step(size)
    if t == "enum":
        symbols = schema["symbols"]
        if len(set(symbols)) != len(symbols):
            raise _Unwalkable("duplicate enum symbols")  # encode finds the first
        return _enum_step(len(symbols))
    if t == "union":
        classes = [_MATCH_CLASS[_schema_type(b)] for b in schema]
        if len(set(classes)) != len(classes):
            raise _Unwalkable("union branches of one match class")
        return _union_step([_compile_step(b) for b in schema])
    if t == "record":
        return _record_step([_compile_step(f["type"]) for f in _record_fields(schema)])
    raise _Unwalkable(f"no walker for {t!r}")  # array, map, named references


def compile_walker(schema):
    """Plan-time compile of the replication fast path's check for one
    writer schema: a record whose top-level ``id`` field is a plain
    ``string``. Returns ``walk(data, start, end) -> (ok, id_start,
    id_end)`` over the payloads ``data[start[i]:end[i]]`` (numpy: a uint8
    value buffer and int64 positions). ``ok[i]`` says payload ``i`` passed
    every check above, so re-encoding its decoded datum gives it back byte
    for byte; ``id_start[i]:id_end[i]`` is then the span of its ``id``
    string INCLUDING the length prefix — the Avro encoding of ``id`` as a
    bare string, i.e. a key payload.

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
        if "id" not in names:
            return None
        at = names.index("id")
        if _schema_type(fields[at]["type"]) != "string":
            return None
        before = _record_step([_compile_step(f["type"]) for f in fields[:at]])
        after = _record_step([_compile_step(f["type"]) for f in fields[at + 1:]])
    except (_Unwalkable, KeyError, TypeError, AttributeError):
        return None

    def walk(data: np.ndarray, start: np.ndarray, end: np.ndarray):
        w = _Walk(data)
        rows = np.arange(len(start))
        id_start, ok = before(w, rows, start, end)
        id_end, id_ok = _walk_string(w, rows, id_start, end)
        stop, after_ok = after(w, rows, id_end, end)
        ok &= id_ok & after_ok & (stop == end)
        ok[w.invalid_utf8()] = False
        return ok, id_start, id_end

    return walk


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
