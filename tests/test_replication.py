"""R1–R9 replication pipeline tests.

The golden test mirrors the reference's only test end to end
(/root/reference/src/test/java/com/github/timtebeek/replication/
ReplicationApplicationTest.java): produce one keyless GenericRecord
{id: uuid} to the source topic, run the pipeline, await exactly one
record on the target topic whose key == id and whose value is
field-equal to the input (:118-124), with separate source/target mock
registries (:55-56) and schema auto-registration on the target
(README.adoc:27). Plus codec round-trips (hypothesis), batch-abort on
missing id, and idempotent replay of a committed batch.
"""

from __future__ import annotations

import math
import os
import random
import re
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import Phase, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from avro_topic_replication_spark.functions import avro_codec
from avro_topic_replication_spark.operators import replication as R
from avro_topic_replication_spark.sources.registry import MockSchemaRegistry
from avro_topic_replication_spark.streaming.replay import SCRATCH


# ---------------------------------------------------------------------------
# codec
# ---------------------------------------------------------------------------
FULL_SCHEMA = {
    "type": "record",
    "name": "Everything",
    "fields": [
        {"name": "b", "type": "boolean"},
        {"name": "i", "type": "int"},
        {"name": "l", "type": "long"},
        {"name": "f", "type": "float"},
        {"name": "d", "type": "double"},
        {"name": "s", "type": "string"},
        {"name": "by", "type": "bytes"},
        {"name": "u", "type": ["null", "string"], "default": None},
        {"name": "arr", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
        {"name": "e", "type": {"type": "enum", "name": "E", "symbols": ["A", "B"]}},
        {"name": "fx", "type": {"type": "fixed", "name": "FX", "size": 3}},
    ],
}


def test_codec_full_roundtrip():
    datum = {
        "b": True, "i": -42, "l": 1 << 40, "f": 1.5, "d": -2.25,
        "s": "héllo", "by": b"\x00\x01", "u": "x",
        "arr": [1, -2, 3], "m": {"k1": "v1", "k2": "v2"},
        "e": "B", "fx": b"abc",
    }
    assert avro_codec.decode(avro_codec.encode(datum, FULL_SCHEMA), FULL_SCHEMA) == datum


def test_codec_union_null_and_default():
    out = avro_codec.encode({"id": "1"}, R.FOO_SCHEMA)  # name omitted → default null
    assert avro_codec.decode(out, R.FOO_SCHEMA) == {"id": "1", "name": None}


_PRIMITIVE_NAMES = ("null", "boolean", "int", "long", "float", "double", "bytes", "string")


def test_parse_schema_returns_primitive_names_without_json(monkeypatch):
    """A bare primitive name is its own parsed schema, returned without a
    JSON parse (``decode`` parses its schema on every datum: every key
    decode used to raise and catch a ``JSONDecodeError``); a JSON string
    literal, a JSON schema and a named-type reference parse as before."""
    for name in _PRIMITIVE_NAMES:
        assert avro_codec.parse_schema(f'"{name}"') == name
    assert avro_codec.parse_schema('{"type": "string"}') == {"type": "string"}
    assert avro_codec.parse_schema("com.foo.Named") == "com.foo.Named"

    def no_json(text):
        raise AssertionError(f"json.loads({text!r})")

    monkeypatch.setattr(avro_codec.json, "loads", no_json)
    for name in _PRIMITIVE_NAMES:
        assert avro_codec.parse_schema(name) == name
    assert avro_codec.decode(avro_codec.encode("k", "string"), "string") == "k"


def test_confluent_framing():
    payload = avro_codec.encode("abc", "string")
    framed = avro_codec.frame(123456, payload)
    assert framed[0] == 0
    sid, p = avro_codec.unframe(framed)
    assert (sid, p) == (123456, payload)
    with pytest.raises(ValueError):
        avro_codec.unframe(b"\x01junk")


@given(
    st.fixed_dictionaries(
        {
            "id": st.text(min_size=0, max_size=50),
            "name": st.one_of(st.none(), st.text(max_size=50)),
        }
    )
)
@settings(max_examples=100, deadline=None)
def test_codec_foo_roundtrip_property(datum):
    assert avro_codec.decode(avro_codec.encode(datum, R.FOO_SCHEMA), R.FOO_SCHEMA) == datum


@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
@settings(max_examples=200, deadline=None)
def test_codec_long_roundtrip(n):
    assert avro_codec.decode(avro_codec.encode(n, "long"), "long") == n


_FOO_ABC = {"id": "abc", "name": "hello"}
_FIXED3 = {"type": "fixed", "name": "F3", "size": 3}


@pytest.mark.parametrize(
    "payload, schema, exc",
    [
        # a frame cut two bytes short used to decode as name="hel"
        (avro_codec.encode(_FOO_ABC, R.FOO_SCHEMA)[:-2], R.FOO_SCHEMA, EOFError),
        (b"\x06ab", "bytes", EOFError),
        (b"ab", _FIXED3, EOFError),
        (b"\x01abc", "string", ValueError),  # zigzag -1: read to the end
        (b"\x01abc", "bytes", ValueError),
        (b"", "boolean", EOFError),  # used to decode as False
    ],
    ids=["string_short", "bytes_short", "fixed_short", "string_negative_length",
         "bytes_negative_length", "boolean_empty"],
)
def test_codec_short_read_raises(payload, schema, exc):
    with pytest.raises(exc):
        avro_codec.decode(payload, schema)


def test_truncated_frame_no_longer_decodes_shortened():
    frame = avro_codec.serialize_confluent(_FOO_ABC, R.FOO_SCHEMA, 1)
    assert avro_codec.deserialize_confluent(frame, {1: R.FOO_SCHEMA}) == (1, _FOO_ABC)
    with pytest.raises(EOFError):
        avro_codec.deserialize_confluent(frame[:-2], {1: R.FOO_SCHEMA})


# ---------------------------------------------------------------------------
# JVM walker + expression rewrite vs the full decode → re-encode path
# ---------------------------------------------------------------------------
ARRAY_SCHEMA = {
    "type": "record",
    "name": "Tagged",
    "fields": [
        {"name": "id", "type": "string"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
    ],
}
# source id → schema, source id → target id, as plan_replication builds them
_SNAPSHOT = {1: R.FOO_SCHEMA, 2: R.FOO_SCHEMA_V2, 3: ARRAY_SCHEMA}
_MAPPING = {1: 11, 2: 12, 3: 13}
_KEY_ID = 10


def _examples(strategy, n: int) -> list:
    """``n`` examples drawn by hypothesis (fewer if it runs out of distinct
    ones), so that a test checks them all in one Spark job; a failing
    assertion names the bytes that failed."""
    drawn = []

    @given(strategy)
    @settings(max_examples=n, deadline=None, database=None, phases=[Phase.generate])
    def draw(example):
        drawn.append(example)

    draw()
    return drawn


def _envelope(spark, raws: list, partition=None):
    """The framed values ``raws`` as a source envelope DataFrame read from
    one parquet file (a real scan, so the walk and the rewrite run as
    generated code): ``offset`` is the row's index, ``partition`` 0 or the
    given per-row numbers."""
    path = os.path.join(SCRATCH, "repltest", uuid.uuid4().hex[:12], "env.parquet")
    os.makedirs(os.path.dirname(path))
    n = len(raws)
    pq.write_table(pa.table({
        "key": pa.nulls(n, pa.binary()),
        "value": pa.array(raws, pa.binary()),
        "topic": pa.array(["t"] * n),
        "partition": pa.array(partition or [0] * n, pa.int32()),
        "offset": pa.array(range(n), pa.int64()),
        "timestamp": pa.nulls(n, pa.timestamp("us", tz="UTC")),
    }), path)
    return spark.read.schema(R.KAFKA_ENVELOPE).parquet(path)


def _plan(spark, snapshot=_SNAPSHOT, mapping=_MAPPING, on_error="abort"):
    return R.ReplicationPlan(spark, snapshot, "t", _KEY_ID, mapping, on_error)


def _spans(spark, raws: list, snapshot=_SNAPSHOT) -> list:
    """The ``id`` span (value offsets, length prefix included) the JVM
    walker finds in each framed value, or None where it declines it."""
    plan = _plan(spark, snapshot, {sid: sid for sid in snapshot})
    spans = dict(plan.walk(_envelope(spark, raws)).select("offset", "_span").collect())
    return [None if spans[i] < 0 else (spans[i] >> 32, spans[i] & 0xFFFFFFFF)
            for i in range(len(raws))]


def _run(fn):
    try:
        return fn()
    except Exception as e:  # abort mode: the error is the outcome
        return type(e), str(e)


def _sink_rewrite(spark, plan, env) -> tuple[dict, dict]:
    """One job of the replica sink's task loop (``jvm/GraftSink.java``)
    over ``plan.walk(env)`` into a fresh dir: offset → (key, value) of the
    rows it rewrote into its part files, and offset → value of the rows it
    spilled for the full path."""
    data = os.path.join(SCRATCH, "repltest", uuid.uuid4().hex[:12], "data")
    os.makedirs(data)
    spill = os.path.join(data, R._DECLINED)
    n = R._graft_sink(spark).write(plan.walk(env)._jdf, data, spill, *plan._rewrite)
    out = pq.read_table(data)  # pyarrow skips the hidden spill dir
    fast = dict(zip(out.column("offset").to_pylist(),
                    zip(out.column("key").to_pylist(), out.column("value").to_pylist())))
    spilled = pq.read_table(spill) if n else pa.table({"offset": [], "value": []})
    assert spilled.num_rows == n
    return fast, dict(zip(spilled.column("offset").to_pylist(),
                          spilled.column("value").to_pylist()))


def _check_kernel(spark, raws: list, snapshot=_SNAPSHOT, mapping=_MAPPING) -> dict:
    """The kernel's outcome for each framed value equals the full path's
    (per-row ``_reencode``) in both on_error modes; returns index → (key,
    value, None) of the values the walker vouched for. Those take the JVM
    rewrite, run here as one job of the sink's task loop, and the full
    path must give exactly its key and value with no error in both modes.
    The sink spills every other value unchanged, and the declined rows'
    job runs ``_reencode`` on it (the Spark tests below cover that job)."""
    plan = _plan(spark, snapshot, mapping)
    fast, spilled = _sink_rewrite(spark, plan, _envelope(spark, raws))
    assert sorted([*fast, *spilled]) == list(range(len(raws)))
    assert all(raws[i] == raw for i, raw in spilled.items())
    fast = {i: (key, value, None) for i, (key, value) in fast.items()}
    for i, rewrite in fast.items():
        for route in (False, True):
            full = _run(lambda: R._reencode(raws[i], snapshot, mapping, _KEY_ID, route))
            assert rewrite == full, (raws[i], route)
    return fast


def _mutations(frame: bytes, id_start: int, id_end: int):
    """Damaged copies of a valid Foo frame; ``id_start:id_end`` is the id's
    length prefix and bytes (frame offsets)."""
    yield from (frame[:k] for k in range(len(frame)))  # truncation
    yield b"\x01" + frame[1:]  # bad magic
    yield avro_codec.frame(999, frame[5:])  # unknown schema id
    at = id_start + 1  # past the id's length varint
    while frame[at - 1] & 0x80:
        at += 1
    yield frame[:at - 1] + bytes([frame[at - 1] | 0x80, 0]) + frame[at:]  # non-minimal
    yield frame[:id_start] + b"\x01" + frame[at:]  # negative length (zigzag -1)
    yield frame + b"\x00"  # one trailing byte
    yield frame[:id_end] + bytes([4]) + frame[id_end + 1:]  # union index 2
    if id_end > at:
        yield frame[:at] + b"\xff" + frame[at + 1:]  # invalid UTF-8


_FOO_DATUM = st.fixed_dictionaries(
    {
        # short ids, and ids of 64+ bytes, whose length takes a 2-byte varint
        "id": st.one_of(st.text(max_size=8), st.text(min_size=64, max_size=90)),
        "name": st.one_of(st.none(), st.text(max_size=20)),
    }
)
_FOO_RECORD = st.tuples(_FOO_DATUM, st.one_of(st.none(), st.text(max_size=8)))


def _foo_frame(datum: dict, tag) -> tuple[int, bytes]:
    """(schema id, frame) of a Foo record: v2 when it has a ``tag``."""
    if tag is None:
        return 1, avro_codec.serialize_confluent(datum, R.FOO_SCHEMA, 1)
    return 2, avro_codec.serialize_confluent({**datum, "tag": tag}, R.FOO_SCHEMA_V2, 2)


def test_kernel_matches_full_path_property(spark):
    """The header rewrite gives the full path's (key, value, error) byte for
    byte in both on_error modes, on 60 drawn valid Foo v1/v2 frames
    (multi-byte UTF-8, null names, 2-byte id lengths) and on damaged
    copies of them. Every valid frame takes the fast path: the walker
    finds its id, and the value is the frame under the target id."""
    records = _examples(_FOO_RECORD, 60)
    frames = [_foo_frame(datum, tag) for datum, tag in records]
    raws = [frame for _, frame in frames]
    for (datum, _), frame, span in zip(records, list(raws), _spans(spark, raws)):
        assert span is not None, frame
        assert frame[span[0]:span[1]] == avro_codec.encode(datum["id"], "string")
        raws.extend(_mutations(frame, *span))
    fast = _check_kernel(spark, raws)
    for i, (sid, frame) in enumerate(frames):
        assert fast[i][1] == avro_codec.frame(_MAPPING[sid], frame[5:]), frame


WALKABLE_SCHEMA = {
    "type": "record",
    "name": "Walkable",
    "fields": [
        {"name": "b", "type": "boolean"},
        {"name": "i", "type": "int"},
        {"name": "id", "type": "string"},
        {"name": "l", "type": "long"},
        {"name": "f", "type": "float"},
        {"name": "d", "type": "double"},
        {"name": "by", "type": "bytes"},
        {"name": "e", "type": {"type": "enum", "name": "E", "symbols": ["A", "B", "C"]}},
        {"name": "fx", "type": {"type": "fixed", "name": "FX", "size": 3}},
        {"name": "u", "type": ["null", "long", "string",
                               {"type": "record", "name": "In",
                                "fields": [{"name": "x", "type": "boolean"}]}]},
    ],
}


@pytest.mark.parametrize(
    "datum",
    [
        # f's bytes are 01 00 80 3F: a 0x7F in the last one makes a
        # signaling NaN, which float32 -> float -> float32 does not keep
        {"b": True, "i": -42, "id": "é1", "l": 1 << 40, "f": 1.0000001192092896, "d": -2.25,
         "by": b"\x00\xff", "e": "C", "fx": b"abc", "u": None},
        {"b": False, "i": 0, "id": "", "l": -(2**63), "f": float("nan"),
         "d": float("inf"), "by": b"", "e": "A", "fx": b"\x80\x00\x01", "u": 2**63 - 1},
        {"b": True, "i": 63, "id": "x" * 70, "l": 64, "f": -0.0, "d": 1e-310,
         "by": b"\x01" * 70, "e": "B", "fx": b"zzz", "u": {"x": True}},
    ],
)
def test_kernel_matches_full_path_on_every_walkable_type(spark, datum):
    """Every type the walker covers, on valid frames and on every
    truncation, one extra byte, and each byte replaced by each of a few
    values (varint continuation and sign bits, boolean 2, UTF-8 lead
    bytes): the kernel's outcome equals the full path's in both modes."""
    snapshot, mapping = {5: WALKABLE_SCHEMA}, {5: 15}
    frame = avro_codec.serialize_confluent(datum, WALKABLE_SCHEMA, 5)
    damaged = [frame[:k] for k in range(len(frame))] + [frame + b"\x01"]
    for at in range(5, len(frame)):
        for b in (0x00, 0x01, 0x02, 0x7F, 0x80, 0xC3, 0xFF):
            damaged.append(frame[:at] + bytes([b]) + frame[at + 1:])
    fast = _check_kernel(spark, [frame, *damaged], snapshot, mapping)
    # the fast path, but for a NaN float, which the walker declines
    assert (0 not in fast) == math.isnan(datum["f"])


def _walkable_payload(**raw: bytes) -> bytes:
    """A WALKABLE_SCHEMA payload (no NaN, a 10-byte ``l``) built field by
    field; ``raw`` gives some fields' bytes instead of their encoding."""
    datum = {"b": True, "i": 1, "id": "k", "l": -(2**63), "f": 0.5, "d": 2.0,
             "by": b"", "e": "C", "fx": b"xyz", "u": 5}
    return b"".join(
        raw[f["name"]] if f["name"] in raw else avro_codec.encode(datum[f["name"]], f["type"])
        for f in WALKABLE_SCHEMA["fields"]
    )


@pytest.mark.parametrize(
    "raw",
    [
        {"l": b"\xff" * 9 + b"\x02"},  # 2**64 or more
        {"l": b"\xff" * 10 + b"\x01"},  # over-long: 11 bytes
        {"i": b"\x82\x00"},  # non-minimal
        {"b": b"\x02"},
        {"e": b"\x06"},  # enum index 3 of 3 symbols
        {"e": b"\x01"},  # enum index -1
        {"u": b"\x08"},  # union index 4 of 4 branches
        {"by": b"\x03"},  # length -2
        {"by": b"\x40"},  # length 32, past the end
        {"fx": b"xy"},  # fixed short: the payload ends early
        {"u": b"\x02\x0a\x00"},  # one trailing byte
        # NaN, quiet or signaling, declines whether or not its bits would
        # survive decode -> encode (a signaling float32 NaN would not)
        {"f": b"\x00\x00\xc0\x7f"},
        {"f": b"\x01\x00\x80\x7f"},
        {"d": b"\x00\x00\x00\x00\x00\x00\xf8\x7f"},
        {"d": b"\x01\x00\x00\x00\x00\x00\xf0\xff"},
    ],
    ids=["l_2pow64", "l_overlong", "i_nonminimal", "boolean_2", "enum_3", "enum_neg",
         "union_4", "bytes_neg", "bytes_past_end", "fixed_short", "trailing_byte",
         "float_quiet_nan", "float_signaling_nan", "double_quiet_nan",
         "double_signaling_nan"],
)
def test_walker_declines_what_the_full_path_would_not_give_back(spark, raw):
    """Each check of the walker, on its own: a payload one field away
    from a walkable one is declined, and the kernel still gives the full
    path's outcome for it in both modes. The walker is conservative on
    NaN: it declines every NaN float or double."""
    snapshot, mapping = {5: WALKABLE_SCHEMA}, {5: 15}
    raws = [avro_codec.frame(5, _walkable_payload()), avro_codec.frame(5, _walkable_payload(**raw))]
    assert set(_check_kernel(spark, raws, snapshot, mapping)) == {0}


def _reference_varint(b: bytes):
    """(value, size) of the varint that starts ``b`` as the scalar codec
    reads it, or None unless _write_varint writes exactly those bytes."""
    import io

    buf = io.BytesIO(b)
    try:
        value = avro_codec._read_varint(buf)
    except EOFError:
        return None
    out = io.BytesIO()
    avro_codec._write_varint(out, value)
    size = buf.tell()
    return (value, size) if value < 2**64 and out.getvalue() == b[:size] else None


_VARINT_BYTES = st.one_of(
    st.binary(min_size=1, max_size=12),
    st.integers(0, 2**64 - 1).map(lambda n: avro_codec.encode(n >> 1 ^ -(n & 1), "long")),
    st.lists(st.sampled_from([0x80, 0xFF, 0x81]), min_size=9, max_size=11).map(bytes).flatmap(
        lambda head: st.sampled_from([head + bytes([t]) for t in (0, 1, 2, 0x7F)])),
)


def test_jvm_varint_reads_exactly_the_shortest_encodings(spark):
    """The walker's varint reader accepts a varint exactly where the
    scalar codec reads a value below 2**64 that it would write back with
    the same bytes, and then agrees on its size and, as a string length,
    on its value; on 300 drawn byte strings. Each is read twice: as a
    ``long`` field after an empty id (the payload must end with it), and
    as the id's own length prefix, followed by as many bytes as it says
    (up to 64; a larger length runs past the end)."""
    as_long = {5: {"type": "record", "name": "L",
                   "fields": [{"name": "id", "type": "string"}, {"name": "n", "type": "long"}]}}
    as_length = {5: {"type": "record", "name": "S", "fields": [{"name": "id", "type": "string"}]}}
    cases = [(b, _reference_varint(b)) for b in _examples(_VARINT_BYTES, 300)]
    longs, lengths, want = [], [], []
    for b, ref in cases:
        if ref is None:
            longs.append(avro_codec.frame(5, b"\x00" + b))
            lengths.append(avro_codec.frame(5, b))
            want.append((None, None))
            continue
        value, size = ref
        n = value >> 1 ^ -(value & 1)  # zigzag
        longs.append(avro_codec.frame(5, b"\x00" + b[:size]))
        lengths.append(avro_codec.frame(5, b[:size] + b"a" * min(max(n, 0), 64)))
        want.append(((5, 6), (5, 5 + size + n) if 0 <= n <= 64 else None))
    got = zip(_spans(spark, longs, as_long), _spans(spark, lengths, as_length))
    for (b, _), g, w in zip(cases, got, want):
        assert g == w, b


def test_walker_covers_only_what_reencodes_exactly():
    """Schemas the walker does not cover get no walker (the full path
    replicates their records)."""
    def rec(*fields):
        return {"type": "record", "name": "R", "fields": [
            {"name": n, "type": t} for n, t in fields]}

    assert avro_codec.compile_walker(rec(("id", "string"))) is not None
    for schema in [
        "string",  # not a record
        rec(("name", "string")),  # no id
        rec(("id", ["null", "string"])),  # id not a plain string
        rec(("id", "long")),
        rec(("id", "string"), ("id", "string")),  # decode keeps the last
        rec(("id", "string"), ("m", {"type": "map", "values": "long"})),
        rec(("id", "string"), ("u", ["int", "long"])),  # one match class
        rec(("id", "string"), ("u", ["string", {"type": "enum", "name": "E",
                                                 "symbols": ["A"]}])),
        rec(("id", "string"), ("e", {"type": "enum", "name": "E", "symbols": ["A", "A"]})),
        rec(("id", "string"), ("fx", {"type": "fixed", "name": "F", "size": -1})),
        rec(("id", "string"), ("r", rec(("x", "long"), ("x", "long")))),
        rec(("id", "string"), ("r", "com.foo.Named")),  # named-type reference
    ]:
        assert avro_codec.compile_walker(schema) is None, schema


def _first_error(rows: list, route: bool):
    """Per-row ``_reencode`` of each value: its (key, value, error) rows
    or, in abort mode, the first failing row's exception type and message."""
    out = []
    for raw in rows:
        try:
            out.append(R._reencode(raw, _SNAPSHOT, _MAPPING, _KEY_ID, route))
        except Exception as e:
            return type(e), str(e)
    return out


def _replicated(spark, env, route: bool):
    """``ReplicationPlan.transform``'s (key, value, error) rows of ``env``
    in offset order, by partition, or, when its job fails, the Spark
    error's text."""
    try:
        rows = _plan(spark, on_error="route" if route else "abort").transform(env).collect()
    except Exception as e:
        return str(e)
    out = {}
    for r in sorted(rows, key=lambda r: r["offset"]):
        out.setdefault(r["partition"], []).append((
            r["key"] and bytes(r["key"]), r["value"] and bytes(r["value"]),
            r["error"] if route else None))
    return out


def _agrees(got, want) -> bool:
    """A Spark run over one batch matches the full path's outcome: the
    same rows, or a failed job whose error is the full path's first
    failing row's."""
    if isinstance(want, tuple):
        return isinstance(got, str) and f"{want[0].__name__}: {want[1]}" in got
    return isinstance(got, dict) and list(got.values()) == [want]


def test_kernel_array_schema_takes_full_path(spark):
    """A schema the walker does not cover gets no walker, and its records
    still replicate correctly through the full path, in both modes."""
    assert avro_codec.compile_walker(ARRAY_SCHEMA) is None
    datum = {"id": "x7", "tags": ["a", "é"]}
    raw = avro_codec.serialize_confluent(datum, ARRAY_SCHEMA, 3)
    env = _envelope(spark, [raw])
    assert _check_kernel(spark, [raw]) == {}
    for route in (False, True):
        assert _replicated(spark, env, route) == {0: _first_error([raw], route)}
    (key, value, error), = _replicated(spark, env, True)[0]
    assert error is None
    assert avro_codec.deserialize_confluent(key, {_KEY_ID: "string"}) == (_KEY_ID, "x7")
    assert avro_codec.deserialize_confluent(value, {13: ARRAY_SCHEMA}) == (13, datum)


def _fallback_outcome(plan, raws: list, lo: int = 0):
    """The declined rows' function (``plan._fallback``) over ``raws[lo:]``
    as an Arrow slice with offset ``lo``, run in the driver: its (key,
    value, error) rows, error None in abort mode, or the exception it
    raises as (type, message)."""
    batch = pa.record_batch({
        "value": pa.array(raws, pa.binary()),
        "partition": pa.array([0] * len(raws), pa.int32()),
        "offset": pa.array(range(len(raws)), pa.int64()),
        "timestamp": pa.nulls(len(raws), pa.timestamp("us", tz="UTC")),
    }).slice(lo)
    try:
        (out,) = plan._fallback(iter([batch]))
    except Exception as e:
        return type(e), str(e)
    assert out.column("offset").to_pylist() == list(range(lo, len(raws)))
    errors = out.column("error").to_pylist() if plan.route else [None] * out.num_rows
    return list(zip(out.column("key").to_pylist(), out.column("value").to_pylist(), errors))


def test_kernel_matches_full_path_on_mixed_batches(spark):
    """25 drawn batches mixing Foo v1/v2 frames, their damaged copies,
    nulls, unknown ids and records of a schema the walker does not cover,
    each in a shuffled order, through ``ReplicationPlan.transform`` (the JVM
    rewrite ∪ the declined rows' ``_reencode`` job): in route mode every
    batch gets per-row ``_reencode``'s (key, value, error) rows, in one
    job; in abort mode a batch fails with its first failing row's
    exception type and message; batches with no failing row replicate
    whole in abort mode, as in route mode.

    Every batch, whole and as an Arrow slice with a non-zero offset, also
    goes through the declined rows' function in the driver in both modes:
    over all its rows and over the rows the walker declines (what the
    second job receives) it gives per-row ``_reencode``'s rows or raises
    the first failing row's error, and that error is the whole batch's,
    since every row the walker vouches for replicates in abort mode."""
    examples = _examples(st.tuples(st.lists(_FOO_RECORD, min_size=1, max_size=4),
                                   st.integers(0, 2**32).map(random.Random)), 25)
    frames = [[_foo_frame(*record)[1] for record in records] for records, _ in examples]
    spans = iter(_spans(spark, [f for batch in frames for f in batch]))
    batches, cleans = [], []
    for batch_frames, (_, rnd) in zip(frames, examples):
        clean = [avro_codec.serialize_confluent({"id": "x7", "tags": ["a", "é"]}, ARRAY_SCHEMA, 3)]
        raws = [None, None,
                avro_codec.serialize_confluent({"id": "u", "name": None}, R.FOO_SCHEMA, 999)]
        for frame in batch_frames:
            clean.append(frame)
            raws.extend(_mutations(frame, *next(spans)))
        raws.extend(clean * 2)
        rnd.shuffle(raws)
        rnd.shuffle(clean)
        batches.append(raws)
        cleans.append(clean)

    def envelope(groups):
        return _envelope(spark, [r for g in groups for r in g],
                         [k for k, g in enumerate(groups) for _ in g])

    env = envelope(batches)
    routed = _replicated(spark, env, True)
    for k, raws in enumerate(batches):
        assert routed[k] == _first_error(raws, True), k
    # a failed Spark job costs ~1 s (its Python worker is not reused), so
    # abort mode fails the first few batches end to end; the driver-side
    # checks below cover every batch in abort mode
    for k, raws in enumerate(batches[:4]):
        failed = _replicated(spark, env.filter(F.col("partition") == k), False)
        assert _agrees(failed, _first_error(raws, False)), k
    _check_kernel(spark, [r for raws in batches for r in raws])
    env = envelope(cleans)
    assert _replicated(spark, env, False) == _replicated(spark, env, True) == {
        k: _first_error(clean, True) for k, clean in enumerate(cleans)}

    walked = iter(_spans(spark, [r for raws in batches for r in raws]))
    plans = {route: _plan(spark, on_error="route" if route else "abort")
             for route in (False, True)}
    for k, (raws, (_, rnd)) in enumerate(zip(batches, examples)):
        vouched = [next(walked) is not None for _ in raws]
        lo = rnd.randrange(1, len(raws))
        for route, plan in plans.items():
            for start in (0, lo):
                rows = raws[start:]
                declined = [r for r, v in zip(rows, vouched[start:]) if not v]
                want = _first_error(rows, route)
                assert _fallback_outcome(plan, raws, start) == want, (k, route, start)
                assert _fallback_outcome(plan, declined) == _first_error(declined, route), k
                if isinstance(want, tuple):
                    assert _first_error(declined, route) == want, (k, start)


def _utf8_cases() -> list[bytes]:
    """Every 1- and 2-byte sequence, the 3- and 4-byte edges (surrogates,
    overlongs, the end of Unicode), truncated sequences alone and between
    ASCII, and a few valid multi-character strings."""
    cases = [bytes([a]) for a in range(256)]
    cases += [bytes([a, b]) for a in range(256) for b in range(256)]
    cases += [bytes.fromhex(h) for h in (
        "eda080", "edbfbf", "ed9fbf", "ee8080",  # surrogates and their neighbours
        "c080", "c1bf", "c280", "e08080", "e09fbf", "e0a080",  # overlongs and the
        "f0808080", "f08fbfbf", "f0908080",  # first non-overlong of each width
        "f48fbfbf", "f4908080", "f5808080", "f8888080", "ffbfbfbf",  # U+10FFFF and past
        "efbfbf", "efbbbf", "e282ac",
    )]
    for c in ("é", "€", "日", "😀"):
        full = c.encode()
        cases += [full[:k] for k in range(1, len(full))]
        cases += [b"a" + full[:k] + b"b" for k in range(1, len(full))]
        cases += [full[k:] for k in range(1, len(full))]
    cases += ["héllo wörld".encode(), "日本語😀".encode(), b""]
    return cases


def _is_utf8(b: bytes) -> bool:
    try:
        b.decode("utf-8")
    except UnicodeDecodeError:
        return False
    return True


def test_jvm_utf8_check_agrees_with_python(spark):
    """The walker's UTF-8 check accepts exactly what ``bytes.decode("utf-8")``
    accepts: on one batch of every 1- and 2-byte sequence and the 3- and
    4-byte edges, each the whole id of a payload, it vouches for exactly
    the payloads whose id decodes."""
    cases = _utf8_cases()
    assert sum(map(_is_utf8, cases)) > 18000 and sum(not _is_utf8(c) for c in cases) > 45000
    schema = {5: {"type": "record", "name": "S", "fields": [{"name": "id", "type": "string"}]}}
    frames = [avro_codec.frame(5, avro_codec.encode(len(c), "long") + c) for c in cases]
    accepted = [span is not None for span in _spans(spark, frames, schema)]
    assert accepted == [_is_utf8(c) for c in cases]


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------
def test_mock_registry_scopes_and_idempotent_register():
    MockSchemaRegistry.drop_scope("t-src")
    reg = MockSchemaRegistry.get_scope("t-src")
    a = reg.register("topic-value", R.FOO_SCHEMA)
    b = reg.register("topic-value", R.FOO_SCHEMA)
    assert a == b
    assert reg.get_by_id(a)["name"] == "Foo"
    assert reg.latest("topic-value")[0] == a
    MockSchemaRegistry.drop_scope("t-src")


# ---------------------------------------------------------------------------
# golden end-to-end (ReplicationApplicationTest parity)
# ---------------------------------------------------------------------------
@pytest.fixture()
def dirs(tmp_path_factory):
    base = os.path.join(SCRATCH, "repltest", uuid.uuid4().hex[:8])
    return {
        "src": os.path.join(base, "source-topic-a"),
        "tgt": os.path.join(base, "target-topic-b"),
        "ckpt": os.path.join(base, "ckpt"),
    }


def dictionary_encoded_chunks(target_dir: str) -> list[tuple[str, str]]:
    """(file, column) of every column chunk in the committed parquet files
    under ``target_dir`` whose footer lists a dictionary encoding or page."""
    found = []
    for batch in os.listdir(os.path.join(target_dir, "data")):
        batch_dir = os.path.join(target_dir, "data", batch)
        files = [f for f in os.listdir(batch_dir) if f.endswith(".parquet")]
        assert files, batch_dir
        for f in files:
            meta = pq.ParquetFile(os.path.join(batch_dir, f)).metadata
            for g in range(meta.num_row_groups):
                for c in range(meta.num_columns):
                    chunk = meta.row_group(g).column(c)
                    if chunk.has_dictionary_page or any("DICTIONARY" in e for e in chunk.encodings):
                        found.append((f, chunk.path_in_schema))
    return found


def _fresh_registries():
    MockSchemaRegistry.drop_scope("SourceRegistry")
    MockSchemaRegistry.drop_scope("TargetRegistry")
    return (
        MockSchemaRegistry.get_scope("SourceRegistry"),
        MockSchemaRegistry.get_scope("TargetRegistry"),
    )


def test_replication_golden(spark, dirs):
    """testReplication parity: one record in → exactly one out, key == id,
    value field-equal (ReplicationApplicationTest.java:118-124)."""
    src_reg, tgt_reg = _fresh_registries()
    rid = str(uuid.uuid4())
    record = {"id": rid, "name": None}
    R.write_envelope_fixture(
        spark, [record], dirs["src"], "source-topic-a", src_reg, R.FOO_SCHEMA
    )
    R.replicate_stream(
        spark, dirs["src"], dirs["tgt"], src_reg, tgt_reg,
        "target-topic-b", R.FOO_SCHEMA, dirs["ckpt"],
    )
    out_env = R.read_committed(spark, dirs["tgt"])
    decoded = R.decode_envelope(out_env, tgt_reg.snapshot(), R.FOO_SCHEMA).collect()
    assert len(decoded) == 1  # exactly one replicated record
    row = decoded[0]
    assert row["kafka_key"] == rid          # key == value.id (as string)
    assert row["id"] == rid                 # value round-trips field-equal
    assert row["name"] is None
    assert row["topic"] == "target-topic-b"
    # the commit writer builds no parquet dictionaries
    assert dictionary_encoded_chunks(dirs["tgt"]) == []


def test_schema_auto_registered_on_target(spark, dirs):
    """README.adoc:27 parity: producing replicates the schema into the
    target registry without explicit registration."""
    src_reg, tgt_reg = _fresh_registries()
    R.write_envelope_fixture(
        spark, [{"id": "1", "name": "x"}], dirs["src"], "source-topic-a",
        src_reg, R.FOO_SCHEMA,
    )
    R.replicate_stream(
        spark, dirs["src"], dirs["tgt"], src_reg, tgt_reg,
        "target-topic-b", R.FOO_SCHEMA, dirs["ckpt"],
    )
    vid, schema = tgt_reg.latest("target-topic-b-value")
    assert schema["name"] == "Foo"
    kid, kschema = tgt_reg.latest("target-topic-b-key")
    assert kschema == "string"


def test_missing_id_aborts_batch(spark, dirs):
    """ReplicationApplication.java:71 NPE parity: a record without id
    fails the whole batch; nothing is committed (R8 all-or-nothing)."""
    src_reg, tgt_reg = _fresh_registries()
    bad_schema = {
        "type": "record", "name": "NoId",
        "fields": [{"name": "other", "type": "string"}],
    }
    R.write_envelope_fixture(
        spark, [{"other": "x"}], dirs["src"], "source-topic-a", src_reg, bad_schema
    )
    # Spark surfaces the worker's ValueError inside a StreamingQueryException;
    # matching its message keeps any other failure (a broken transform's
    # AttributeError, say) from passing as an abort.
    with pytest.raises(Exception, match="ValueError: record has no 'id' field"):
        R.replicate_stream(
            spark, dirs["src"], dirs["tgt"], src_reg, tgt_reg,
            "target-topic-b", bad_schema, dirs["ckpt"], timeout_sec=60,
        )
    assert R.read_committed(spark, dirs["tgt"]).count() == 0


def test_timed_out_drain_raises(spark, dirs):
    """A drain still running at its timeout is stopped and raises
    ``TimeoutError`` naming its checkpoint, instead of returning as if the
    topic were replicated; so does ``run_to_memory``, instead of handing
    back a partial memory table."""
    from avro_topic_replication_spark.streaming.replay import run_to_memory

    src_reg, tgt_reg = _fresh_registries()
    R.write_envelope_fixture(
        spark, [{"id": "1", "name": None}], dirs["src"], "source-topic-a",
        src_reg, R.FOO_SCHEMA,
    )
    with pytest.raises(TimeoutError, match=re.escape(dirs["ckpt"])):
        R.replicate_stream(  # pyspark rejects a timeout of 0
            spark, dirs["src"], dirs["tgt"], src_reg, tgt_reg,
            "target-topic-b", R.FOO_SCHEMA, dirs["ckpt"], timeout_sec=0.001,
        )
    stream = spark.readStream.schema(R.KAFKA_ENVELOPE).parquet(dirs["src"])
    with pytest.raises(TimeoutError, match="did not finish within"):
        run_to_memory(stream, timeout_sec=0.001)


def test_idempotent_replay_of_committed_batch(spark, dirs):
    """R7-R9 crash-window semantics: replaying an already-committed batch
    (crash between marker creation and checkpoint ack) must not duplicate
    output."""
    src_reg, tgt_reg = _fresh_registries()
    records = [{"id": str(i), "name": f"n{i}"} for i in range(10)]
    R.write_envelope_fixture(
        spark, records, dirs["src"], "source-topic-a", src_reg, R.FOO_SCHEMA
    )
    env = spark.read.schema(R.KAFKA_ENVELOPE).parquet(dirs["src"])
    plan = R.ReplicationPlan.from_registries(
        spark, src_reg, tgt_reg, "target-topic-b", R.FOO_SCHEMA)
    writer = R.batch_writer(plan, dirs["tgt"])
    writer(plan.walk(env), 0)
    writer(plan.walk(env), 0)  # replay
    assert R.read_committed(spark, dirs["tgt"]).count() == 10


def test_replay_replaces_an_uncommitted_attempt(spark, dirs):
    """A batch whose first attempt died after writing part files, a task's
    temp file and a spill, but before its marker, is replaced on replay,
    not appended to; once committed, a replay (even over other rows)
    leaves its files as they are."""
    src_reg, tgt_reg = _fresh_registries()
    records = [{"id": str(i), "name": f"n{i}"} for i in range(10)]
    R.write_envelope_fixture(spark, records, dirs["src"], "source-topic-a", src_reg, R.FOO_SCHEMA)
    env = spark.read.schema(R.KAFKA_ENVELOPE).parquet(dirs["src"])
    plan = R.ReplicationPlan.from_registries(
        spark, src_reg, tgt_reg, "target-topic-b", R.FOO_SCHEMA)
    writer = R.batch_writer(plan, dirs["tgt"])
    data = os.path.join(dirs["tgt"], "data", "0")
    os.makedirs(os.path.join(data, R._DECLINED))
    stray = pa.table({"offset": pa.array([99], pa.int64())})
    for name in ("part-5.parquet", ".part-0.17.tmp", os.path.join(R._DECLINED, "part-0.parquet")):
        pq.write_table(stray, os.path.join(data, name))
    writer(plan.walk(env), 0)
    assert os.listdir(data) == ["part-0.parquet"]
    got = R.read_committed(spark, dirs["tgt"]).collect()
    assert sorted(r["offset"] for r in got) == list(range(10))

    stat = os.stat(os.path.join(data, "part-0.parquet"))
    writer(plan.walk(env.limit(3)), 0)  # a committed batch is skipped
    assert os.listdir(data) == ["part-0.parquet"]
    assert os.stat(os.path.join(data, "part-0.parquet")).st_mtime_ns == stat.st_mtime_ns
    assert R.read_committed(spark, dirs["tgt"]).count() == 10


def test_dlq_transform_routes_all_three_error_classes(spark):
    """on_error="route": unknown_schema / decode_error / missing_id
    classification plus byte-correct passthrough of good records — on
    hand-crafted frames (one of each corruption, one good, one record
    whose SCHEMA legitimately lacks the id field, and one whose union
    branch index is out of range, which is a decode error even though
    the decoder reports it as an IndexError, a LookupError)."""
    import datetime as dt

    src_reg, tgt_reg = _fresh_registries()
    sid = src_reg.register("t-value", R.FOO_SCHEMA)
    noid_schema = {
        "type": "record",
        "name": "NoId",
        "fields": [{"name": "name", "type": "string"}],
    }
    sid_noid = src_reg.register("t-noid", noid_schema)
    good = avro_codec.serialize_confluent({"id": "7", "name": "x"}, R.FOO_SCHEMA, sid)
    unknown = avro_codec.serialize_confluent({"id": "8", "name": "y"}, R.FOO_SCHEMA, 999)
    truncated = good[:3]
    noid = avro_codec.serialize_confluent({"name": "z"}, noid_schema, sid_noid)
    # frame + id "7" (length 1 → zigzag 2, then b"7"), then union index 5
    bad_branch = good[:7] + bytes([10])
    ts = dt.datetime(2024, 1, 1)
    rows = [
        (None, good, "t", 0, 0, ts),
        (None, unknown, "t", 0, 1, ts),
        (None, truncated, "t", 0, 2, ts),
        (None, noid, "t", 0, 3, ts),
        (None, bad_branch, "t", 0, 4, ts),
    ]
    env = spark.createDataFrame(rows, R.KAFKA_ENVELOPE)
    out = R.plan_replication(env, src_reg, tgt_reg, "t2", on_error="route")
    assert out.schema == R.DLQ_ENVELOPE
    by_off = {r["offset"]: r for r in out.collect()}
    assert by_off[0]["error"] is None
    assert by_off[1]["error"] == "unknown_schema"
    assert by_off[2]["error"] == "decode_error"
    assert by_off[3]["error"] == "missing_id"
    assert by_off[4]["error"] == "decode_error"
    for off in (1, 2, 3, 4):
        assert by_off[off]["key"] is None and by_off[off]["value"] is None
    # good record: key is Avro-framed str(id), value decodes byte-correct
    _, key = avro_codec.deserialize_confluent(bytes(by_off[0]["key"]), tgt_reg.snapshot())
    assert key == "7"
    _, rec = avro_codec.deserialize_confluent(bytes(by_off[0]["value"]), tgt_reg.snapshot())
    assert rec == {"id": "7", "name": "x"}
    # the shared envelope schema must not have been mutated
    assert [f.name for f in R.KAFKA_ENVELOPE.fields][-1] != "error"


def test_route_mode_replicates_good_records_like_abort_mode(spark):
    """On a clean Foo v1/v2 multi-schema topic the two on_error modes
    must agree byte for byte: every record's key and value from "route"
    equal those from "abort", and no record carries an error class. Both
    carry the source envelope's partition, offset and timestamp through
    exactly, values and types (distinct microsecond timestamps). With no
    row declined, neither plan holds a Python stage."""
    import datetime as dt

    src_reg, tgt_reg = _fresh_registries()
    v1 = src_reg.register("source-topic-a-value", R.FOO_SCHEMA)
    v2 = src_reg.register("source-topic-a-value", R.FOO_SCHEMA_V2)
    rows = []
    for i in range(40):
        name = None if i % 5 == 0 else f"n{i}"
        if i % 2:
            payload = avro_codec.serialize_confluent(
                {"id": str(i), "name": name, "tag": f"t{i}"}, R.FOO_SCHEMA_V2, v2
            )
        else:
            payload = avro_codec.serialize_confluent(
                {"id": str(i), "name": name}, R.FOO_SCHEMA, v1
            )
        ts = dt.datetime(2024, 3, 31, 1, 59, i, 1000 * i + 7)
        rows.append((None, payload, "source-topic-a", i % 3, 5 * i, ts))
    env = spark.createDataFrame(rows, R.KAFKA_ENVELOPE)
    source = {r["offset"]: r for r in env.collect()}
    # registration is idempotent, so both plans map onto the same target ids
    strict = R.plan_replication(env, src_reg, tgt_reg, "target-topic-b")
    routed = R.plan_replication(env, src_reg, tgt_reg, "target-topic-b", on_error="route")
    want = {r["offset"]: r for r in strict.collect()}
    got = {r["offset"]: r for r in routed.collect()}
    assert len(want) == 40 and set(got) == set(want) == set(source)
    envelope = ("partition", "offset", "timestamp")
    for out in (strict, routed):
        assert [out.schema[c] for c in envelope] == [R.KAFKA_ENVELOPE[c] for c in envelope]
        plans = out._jdf.queryExecution().toString()
        assert not [n for n in _PYTHON_NODES if n in plans], plans
    for off, r in got.items():
        for c in envelope:
            assert r[c] == want[off][c] == source[off][c], (off, c)
        assert r["error"] is None
        assert bytes(r["key"]) == bytes(want[off]["key"])
        assert bytes(r["value"]) == bytes(want[off]["value"])
        assert (r["topic"], r["partition"]) == (want[off]["topic"], want[off]["partition"])


def _sql_plans(spark, after: int) -> list:
    """The physical plan text of each SQL execution after execution id
    ``after`` in the session's status store, once the listener bus has
    delivered every event so far. The store lists executions by id, so
    only the new ones cross py4j."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    xs = spark._jsparkSession.sharedState().statusStore().executionsList()
    out = []
    for i in reversed(range(xs.size())):
        x = xs.apply(i)
        if x.executionId() <= after:
            break
        out.append(x.physicalPlanDescription())
    return out


def _last_execution_id(spark) -> int:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    xs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return xs.apply(xs.size() - 1).executionId() if xs.size() else -1


def _query_jobs(spark, q) -> int:
    """The Spark jobs the streaming query ``q`` ran: its micro-batches run
    on the query's thread, whose job group is the query's run id, so this
    counts every job of every batch (the sink's RDD job and the declined
    rows' jobs alike), whether or not a SQL execution wraps it."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId)))


_PYTHON_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython", "PythonUDF")


def test_clean_drain_runs_one_job_per_batch_without_python(spark, dirs):
    """The fast path's regression guard. A clean Foo v1/v2 drain runs one
    Spark job per micro-batch in both modes, and no executed plan holds a
    Python node (route mode no longer materializes the batch), and route
    mode drops dead letters an earlier attempt left for the batch. With
    one truncated record the declined rows' second job runs: route mode
    still commits, the record in the dead-letter sink; abort mode raises
    the record's error and commits nothing."""
    import datetime as dt

    src_reg, tgt_reg = _fresh_registries()
    v1 = src_reg.register("source-topic-a-value", R.FOO_SCHEMA)
    v2 = src_reg.register("source-topic-a-value", R.FOO_SCHEMA_V2)
    rows = [(None,
             avro_codec.serialize_confluent({"id": str(i), "name": None}, R.FOO_SCHEMA, v1)
             if i % 2 else avro_codec.serialize_confluent(
                 {"id": str(i), "name": f"n{i}", "tag": "t"}, R.FOO_SCHEMA_V2, v2),
             "source-topic-a", 0, i, dt.datetime(2024, 1, 1)) for i in range(40)]
    clean, corrupt = dirs["src"] + "-clean", dirs["src"] + "-corrupt"
    spark.createDataFrame(rows, R.KAFKA_ENVELOPE).coalesce(1).write.parquet(clean)
    rows[7] = rows[7][:1] + (rows[7][1][:-2],) + rows[7][2:]
    spark.createDataFrame(rows, R.KAFKA_ENVELOPE).coalesce(1).write.parquet(corrupt)

    def drain(source, mode):
        """(plans, jobs, micro-batches) of one drain of ``source`` into a
        fresh sink, in ``mode``; the micro-batches are the returned query's
        progress entries."""
        run = os.path.join(dirs["tgt"], f"{os.path.basename(source)}-{mode}")
        before = _last_execution_id(spark)
        q = R.replicate_stream(spark, source, run, src_reg, tgt_reg, "target-topic-b", None,
                               run + "-ckpt", timeout_sec=60,
                               dlq_dir=run + "-dlq" if mode == "route" else None)
        return _sql_plans(spark, after=before), _query_jobs(spark, q), len(q.recentProgress)

    # dead letters of an earlier, uncommitted attempt at the clean batch
    stale = os.path.join(dirs["tgt"], f"{os.path.basename(clean)}-route-dlq", "data", "0")
    os.makedirs(stale)
    pq.write_table(pa.table({"offset": pa.array([3], pa.int64())}), os.path.join(stale, "a.parquet"))
    for mode in ("abort", "route"):
        plans, jobs, batches = drain(clean, mode)
        assert batches == 1 and jobs == batches, mode
        assert plans and not [n for p in plans for n in _PYTHON_NODES if n in p], mode
        run = os.path.join(dirs["tgt"], f"{os.path.basename(clean)}-{mode}")
        assert R.read_committed(spark, run).count() == 40
    assert not os.path.exists(stale)

    plans, jobs, batches = drain(corrupt, "route")
    assert batches == 1 and jobs > 1 and any("MapInArrow" in p for p in plans)
    run = os.path.join(dirs["tgt"], f"{os.path.basename(corrupt)}-route")
    assert R.read_committed(spark, run).count() == 39
    routed = R.read_committed(spark, run + "-dlq", marker_dir=run, schema=R.DLQ_ENVELOPE)
    assert [(r["offset"], r["error"]) for r in routed.collect()] == [(7, "decode_error")]
    with pytest.raises(Exception, match="EOFError: truncated payload"):
        drain(corrupt, "abort")
    run = os.path.join(dirs["tgt"], f"{os.path.basename(corrupt)}-abort")
    assert R.read_committed(spark, run).count() == 0


def test_multi_record_replication_preserves_all(spark, dirs):
    """For every source record exactly one target record (SURVEY §2.3),
    including the nullable-union name field round-trip."""
    src_reg, tgt_reg = _fresh_registries()
    records = [{"id": str(i), "name": None if i % 2 else f"name-{i}"} for i in range(50)]
    R.write_envelope_fixture(
        spark, records, dirs["src"], "source-topic-a", src_reg, R.FOO_SCHEMA
    )
    R.replicate_stream(
        spark, dirs["src"], dirs["tgt"], src_reg, tgt_reg,
        "target-topic-b", R.FOO_SCHEMA, dirs["ckpt"],
    )
    out = R.decode_envelope(
        R.read_committed(spark, dirs["tgt"]), tgt_reg.snapshot(), R.FOO_SCHEMA
    )
    rows = {r["id"]: r for r in out.collect()}
    assert len(rows) == 50
    for i in range(50):
        assert rows[str(i)]["kafka_key"] == str(i)
        assert rows[str(i)]["name"] == (None if i % 2 else f"name-{i}")


def test_multi_schema_topic_replication(spark, dirs):
    """GenericRecord parity: a topic carrying TWO schema versions
    replicates each record under its own propagated schema — per-record
    schema-id dispatch, like KafkaAvroSerializer (reference serde config,
    application.yml:12,15-16)."""
    import datetime as dt

    from avro_topic_replication_spark.functions import avro_codec

    src_reg, tgt_reg = _fresh_registries()
    bar_schema = {
        "type": "record", "name": "Bar", "namespace": "com.foo",
        "fields": [
            {"name": "id", "type": "string"},
            {"name": "extra", "type": "long"},
        ],
    }
    foo_id = src_reg.register("source-topic-a-value", R.FOO_SCHEMA)
    bar_id = src_reg.register("source-topic-a-value", bar_schema)
    rows = []
    for i in range(20):
        if i % 2:
            payload = avro_codec.serialize_confluent(
                {"id": str(i), "name": f"n{i}"}, R.FOO_SCHEMA, foo_id
            )
        else:
            payload = avro_codec.serialize_confluent(
                {"id": str(i), "extra": i * 10}, bar_schema, bar_id
            )
        rows.append((None, payload, "source-topic-a", 0, i, dt.datetime(2024, 1, 1)))
    spark.createDataFrame(rows, R.KAFKA_ENVELOPE).coalesce(1).write.mode(
        "overwrite"
    ).parquet(dirs["src"])

    R.replicate_stream(
        spark, dirs["src"], dirs["tgt"], src_reg, tgt_reg,
        "target-topic-b", None, dirs["ckpt"],
    )
    # both schemas propagated into the target registry
    tgt_snapshot = tgt_reg.snapshot()
    names = {s["name"] for s in tgt_snapshot.values() if isinstance(s, dict)}
    assert {"Foo", "Bar"} <= names
    # every record decodes under its own mapped schema with key == id
    out = R.read_committed(spark, dirs["tgt"]).collect()
    assert len(out) == 20
    for row in out:
        sid, key = avro_codec.deserialize_confluent(bytes(row["key"]), tgt_snapshot)
        vid, record = avro_codec.deserialize_confluent(bytes(row["value"]), tgt_snapshot)
        assert key == record["id"]
        if "extra" in record:
            assert record["extra"] == int(record["id"]) * 10
        else:
            assert record["name"] == f"n{record['id']}"


def _progress(q) -> list:
    """(batch id, input rows, phase names) of each progress entry of ``q``."""
    return [(p.batchId, p.numInputRows, set(p.durationMs)) for p in q.recentProgress]


def test_returned_query_reports_every_batch(spark, dirs):
    """Observability parity (ReplicationApplication.java:64,101): the query
    ``replicate_stream`` returns holds one progress entry per micro-batch
    in both modes, its input rows summing to the source rows and its phase
    durations including ``addBatch`` (the foreachBatch write) — the
    structured replacement for the reference's per-batch log lines. A rerun
    on the same checkpoint reports only the batch it ran."""
    src_reg, tgt_reg = _fresh_registries()
    records = [{"id": str(uuid.uuid4()), "name": f"r{i}"} for i in range(7)]
    R.write_envelope_fixture(
        spark, records, dirs["src"], "source-topic-a", src_reg, R.FOO_SCHEMA
    )
    env = spark.read.parquet(dirs["src"])
    env.limit(3).withColumn("offset", F.col("offset") + 7).write.parquet(dirs["src"] + "-more")
    args = (src_reg, tgt_reg, "target-topic-b", R.FOO_SCHEMA, dirs["ckpt"])
    q = R.replicate_stream(spark, dirs["src"], dirs["tgt"], *args)
    assert not q.isActive
    ((batch, rows, phases),) = _progress(q)
    assert (batch, rows) == (0, 7) and "addBatch" in phases
    for f in os.listdir(dirs["src"] + "-more"):  # new files on the source
        if f.endswith(".parquet"):
            os.rename(os.path.join(dirs["src"] + "-more", f), os.path.join(dirs["src"], "more-" + f))
    q = R.replicate_stream(spark, dirs["src"], dirs["tgt"], *args)
    ((batch, rows, phases),) = _progress(q)
    assert (batch, rows) == (1, 3) and "addBatch" in phases
    assert R.read_committed(spark, dirs["tgt"]).count() == 10

    q = R.replicate_stream(spark, dirs["src"], dirs["tgt"] + "-route", *args[:-1],
                           dirs["ckpt"] + "-route", dlq_dir=dirs["tgt"] + "-dlq")
    ((batch, rows, phases),) = _progress(q)
    assert (batch, rows) == (0, 10) and "addBatch" in phases
    assert R.read_committed(spark, dirs["tgt"] + "-route").count() == 10


def _envelope_rows(values: list, nulls: bool = True) -> list:
    """Source envelope rows of the framed ``values``: offset = index,
    distinct microsecond timestamps, and (with ``nulls``) a NULL partition
    and a NULL timestamp on some rows."""
    import datetime as dt

    return [(None, v, "source-topic-a", None if nulls and i % 4 == 1 else i % 3, i,
             None if nulls and i % 5 == 2 else
             dt.datetime(2024, 3, 31, 1, 59, i % 60, 1000 * i + 7))
            for i, v in enumerate(values)]


def _non_minimal(frame: bytes) -> bytes:
    """A Foo frame whose id length is the non-shortest varint ``82 00``
    (ids under 64 bytes): the walker declines it, the full path
    re-encodes it."""
    assert frame[5] < 0x80
    return frame[:5] + bytes([frame[5] | 0x80, 0]) + frame[6:]


def test_fallback_batch_reports_its_source_rows_once(spark, dirs):
    """A micro-batch whose declined rows take the second job reports its
    source rows once in the returned query's progress: that job reads only
    the sink's spill of the declined rows, never the batch again. Route
    mode: 7 records, one truncated (dead-lettered). Abort mode, where a
    truncated record fails the batch and leaves no progress entry: 7
    records, one the walker declines and the full path replicates."""
    src_reg, tgt_reg = _fresh_registries()
    sid = src_reg.register("source-topic-a-value", R.FOO_SCHEMA)
    frames = [avro_codec.serialize_confluent({"id": str(i), "name": None}, R.FOO_SCHEMA, sid)
              for i in range(7)]
    for mode, bad in (("route", frames[3][:-1]), ("abort", _non_minimal(frames[3]))):
        source = f"{dirs['src']}-{mode}"
        values = frames[:3] + [bad] + frames[4:]
        spark.createDataFrame(_envelope_rows(values), R.KAFKA_ENVELOPE).coalesce(1) \
            .write.parquet(source)
        main = f"{dirs['tgt']}-{mode}"
        q = R.replicate_stream(spark, source, main, src_reg, tgt_reg, "target-topic-b", None,
                               dirs["ckpt"] + mode, timeout_sec=60,
                               dlq_dir=main + "-dlq" if mode == "route" else None)
        assert [(p.batchId, p.numInputRows) for p in q.recentProgress] == [(0, 7)], mode
        assert _query_jobs(spark, q) > 1, mode
        assert R.read_committed(spark, main).count() == (6 if mode == "route" else 7)


def test_replica_format_in_both_modes(spark, dirs):
    """The committed replica's format, for a clean batch and a batch whose
    declined rows take the full path, in both modes: ``read_committed``
    gives the source's partition, offset and microsecond timestamp, NULLs
    kept; every committed file has the one physical schema (required
    key/value/topic, timestamp as INT64 microseconds UTC), no dictionary,
    no statistics on key/value/topic and statistics on partition/offset;
    and pyarrow reads a fallback batch's dir whole, as perfbench's
    verifier does."""
    src_reg, tgt_reg = _fresh_registries()
    sid = src_reg.register("source-topic-a-value", R.FOO_SCHEMA)
    frames = [avro_codec.serialize_confluent({"id": str(i), "name": None if i % 2 else "n"},
                                             R.FOO_SCHEMA, sid) for i in range(24)]
    clean = frames[:12]
    fallback = [_non_minimal(f) if i % 3 == 0 else f for i, f in enumerate(frames[12:])]
    schemas = set()
    for mode in ("abort", "route"):
        more = fallback + ([frames[0][:-1]] if mode == "route" else [])
        rows = _envelope_rows(clean + more)
        source, staged = f"{dirs['src']}-{mode}", f"{dirs['src']}-{mode}-more"
        spark.createDataFrame(rows[:12], R.KAFKA_ENVELOPE).coalesce(1).write.parquet(source)
        spark.createDataFrame(rows[12:], R.KAFKA_ENVELOPE).coalesce(1).write.parquet(staged)
        main, dlq = f"{dirs['tgt']}-{mode}", f"{dirs['tgt']}-{mode}-dlq"
        args = (src_reg, tgt_reg, "target-topic-b", None, dirs["ckpt"] + mode)
        kw = {"dlq_dir": dlq} if mode == "route" else {}
        R.replicate_stream(spark, source, main, *args, **kw)
        for f in os.listdir(staged):  # the fallback batch: new files on the source
            if f.endswith(".parquet"):
                os.rename(os.path.join(staged, f), os.path.join(source, "more-" + f))
        R.replicate_stream(spark, source, main, *args, **kw)

        got = {r["offset"]: r for r in R.read_committed(spark, main).collect()}
        routed = {len(rows) - 1} if mode == "route" else set()
        assert set(got) == set(range(len(rows))) - routed, mode
        for _, _, _, partition, offset, ts in rows:
            if offset not in routed:
                assert (got[offset]["partition"], got[offset]["timestamp"]) == (partition, ts)
        fallback_dir = os.path.join(main, "data", "1")
        assert any(f.startswith("full-") for f in os.listdir(fallback_dir)), mode
        assert pq.read_table(fallback_dir).num_rows == len(rows) - 12 - len(routed)
        assert dictionary_encoded_chunks(main) == []
        for batch in ("0", "1"):
            batch_dir = os.path.join(main, "data", batch)
            assert not [f for f in os.listdir(batch_dir) if not f.endswith(".parquet")]
            for f in os.listdir(batch_dir):
                meta = pq.ParquetFile(os.path.join(batch_dir, f)).metadata
                schemas.add(str(meta.schema).split("\n", 1)[1])  # past the object's address
                for g in range(meta.num_row_groups):
                    stats = {meta.row_group(g).column(c).path_in_schema:
                             meta.row_group(g).column(c).is_stats_set
                             for c in range(meta.num_columns)}
                    assert stats["key"] is stats["value"] is stats["topic"] is False, f
                    assert stats["partition"] is stats["offset"] is True, f
    (schema,) = schemas
    for column in ("required binary field_id=-1 key;", "required binary field_id=-1 value;",
                   "required binary field_id=-1 topic (String);",
                   "optional int32 field_id=-1 partition;", "optional int64 field_id=-1 offset;",
                   "optional int64 field_id=-1 timestamp (Timestamp(isAdjustedToUTC=true, "
                   "timeUnit=microseconds,"):
        assert column in schema, schema


FOO_V2 = {
    "type": "record",
    "name": "Foo",
    "namespace": "com.foo",
    "fields": [
        {"name": "id", "type": "string"},
        {"name": "name", "type": ["null", "string"], "default": None},
        {"name": "tag", "type": "string", "default": "untagged"},
    ],
}


def test_schema_resolution_backward_compatible_reader():
    """Registry BACKWARD compatibility: a v2 reader (adds `tag` with a
    default) consumes v1-written records; a v1 reader consumes v2-written
    records by dropping the new field (Avro spec Schema Resolution)."""
    from avro_topic_replication_spark.functions import avro_codec as C

    v1_bytes = C.encode({"id": "7", "name": "x"}, R.FOO_SCHEMA)
    datum = C.resolve(C.decode(v1_bytes, R.FOO_SCHEMA), R.FOO_SCHEMA, FOO_V2)
    assert datum == {"id": "7", "name": "x", "tag": "untagged"}

    v2_bytes = C.encode({"id": "8", "name": None, "tag": "gold"}, FOO_V2)
    datum = C.resolve(C.decode(v2_bytes, FOO_V2), FOO_V2, R.FOO_SCHEMA)
    assert datum == {"id": "8", "name": None}  # new field dropped for old reader


def test_schema_resolution_incompatible_raises():
    from avro_topic_replication_spark.functions import avro_codec as C

    bad_reader = {
        "type": "record", "name": "Foo", "namespace": "com.foo",
        "fields": [{"name": "id", "type": "string"},
                   {"name": "required_new", "type": "string"}],  # no default
    }
    import pytest as _pytest
    with _pytest.raises(ValueError, match="not read-compatible"):
        C.resolve(C.decode(C.encode({"id": "9"}, R.FOO_SCHEMA), R.FOO_SCHEMA),
                  R.FOO_SCHEMA, bad_reader)


def test_decode_envelope_rejects_non_string_reader_fields():
    """The consumer decoder emits string columns only: a reader field of
    any other type fails while the plan is built, before any job runs."""
    reader = {**R.FOO_SCHEMA, "fields": R.FOO_SCHEMA["fields"] + [{"name": "n", "type": "long"}]}
    with pytest.raises(ValueError, match="string fields only"):
        R.decode_envelope(None, {1: R.FOO_SCHEMA}, reader)


def test_decode_envelope_resolves_mixed_versions_onto_the_reader(spark):
    """One mixed v1/v2 topic through ``decode_envelope``: a v1 reader
    drops v2's ``tag``; a v2 reader surfaces its default on v1 records;
    a reader field that the writer lacks and that has no default fails
    the job. Keys decode as Avro strings, NULL keys stay NULL."""
    from avro_topic_replication_spark.functions import avro_codec as C

    schemas = {1: R.FOO_SCHEMA, 2: FOO_V2, 3: R.STRING_SCHEMA}
    rows = [
        (C.serialize_confluent("a", R.STRING_SCHEMA, 3),
         C.serialize_confluent({"id": "a", "name": None}, R.FOO_SCHEMA, 1), "t", 0, 0, None),
        (None, C.serialize_confluent({"id": "b", "name": "n", "tag": "x"}, FOO_V2, 2),
         "t", 0, 1, None),
    ]
    env = spark.createDataFrame(rows, R.KAFKA_ENVELOPE)

    v1 = R.decode_envelope(env, schemas, R.FOO_SCHEMA)
    assert v1.columns == ["kafka_key", "id", "name", "topic", "offset"]
    assert [tuple(r) for r in v1.orderBy("offset").collect()] == [
        ("a", "a", None, "t", 0), (None, "b", "n", "t", 1)
    ]
    v2 = R.decode_envelope(env, schemas, FOO_V2).orderBy("offset")
    assert [tuple(r) for r in v2.select("id", "name", "tag").collect()] == [
        ("a", None, "untagged"), ("b", "n", "x")
    ]
    no_default = {**FOO_V2, "fields": FOO_V2["fields"][:2] + [{"name": "tag", "type": "string"}]}
    with pytest.raises(Exception, match="not read-compatible"):
        R.decode_envelope(env, schemas, no_default).collect()


def test_kafka_swap_path_options_reach_the_missing_jar(spark):
    """Exercise the documented real-broker swap as far as a jar-less
    sandbox allows: the readStream.format("kafka") plan built from
    kafka_source_options must fail ONLY because the kafka data source
    class is absent (no spark-sql-kafka jar in the container) — any other
    error would mean the options themselves are malformed. On a cluster
    with the jar on the classpath this exact builder is the reference's
    R1/R2 source (application.yml:7-10, README.adoc:34)."""
    opts = R.kafka_source_options("localhost:9093", "source-topic-a")
    assert opts["maxOffsetsPerTrigger"] == "500"  # README.adoc:34 batch bound
    assert opts["kafka.isolation.level"] == "read_committed"  # application.yml:10
    with pytest.raises(Exception) as ei:
        spark.readStream.format("kafka").options(**opts).load()
    msg = str(ei.value)
    assert "kafka" in msg.lower()
    # Spark's missing-data-source error, not an option-validation error
    assert "DATA_SOURCE_NOT_FOUND" in msg or "Failed to find" in msg, msg


def test_observe_metrics_on_decode(spark, dirs):
    """DataFrame.observe / Observation: named task-level metrics ride the
    job instead of a second counting pass — the observability channel a
    production replicator exports (rows, distinct keys) per batch."""
    from pyspark.sql import Observation
    import pyspark.sql.functions as F

    src_reg, tgt_reg = _fresh_registries()
    records = [{"id": str(i), "name": None if i % 2 else f"n{i}"} for i in range(20)]
    R.write_envelope_fixture(
        spark, records, dirs["src"], "source-topic-a", src_reg, R.FOO_SCHEMA
    )
    env = spark.read.parquet(dirs["src"])
    decoded = R.decode_envelope(env, src_reg.snapshot(), R.FOO_SCHEMA)
    obs = Observation("replication_metrics")
    observed = decoded.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.approx_count_distinct("id").alias("n_keys"),  # DISTINCT aggs are
        # disallowed in observed metrics; HLL is the observable analog
        F.sum(F.isnull("name").cast("long")).alias("n_null_names"),
    )
    assert observed.count() == 20  # action triggers metric collection
    got = obs.get
    assert got["n_rows"] == 20
    assert 19 <= got["n_keys"] <= 21  # HLL estimate, exact at this cardinality
    assert got["n_null_names"] == 10
