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

import os
import uuid

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

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
    out = R.plan_replication(env, src_reg, tgt_reg, "target-topic-b", R.FOO_SCHEMA)
    writer = R.batch_writer(dirs["tgt"])
    writer(out, 0)
    writer(out, 0)  # replay
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
    equal those from "abort", and no record carries an error class."""
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
        rows.append((None, payload, "source-topic-a", i % 3, i, dt.datetime(2024, 1, 1)))
    env = spark.createDataFrame(rows, R.KAFKA_ENVELOPE)
    # registration is idempotent, so both plans map onto the same target ids
    strict = R.plan_replication(env, src_reg, tgt_reg, "target-topic-b")
    routed = R.plan_replication(env, src_reg, tgt_reg, "target-topic-b", on_error="route")
    want = {r["offset"]: r for r in strict.collect()}
    got = {r["offset"]: r for r in routed.collect()}
    assert len(want) == 40 and set(got) == set(want)
    for off, r in got.items():
        assert r["error"] is None
        assert bytes(r["key"]) == bytes(want[off]["key"])
        assert bytes(r["value"]) == bytes(want[off]["value"])
        assert (r["topic"], r["partition"]) == (want[off]["topic"], want[off]["partition"])


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


def test_progress_listener_observes_batches(spark, dirs):
    """Observability parity (ReplicationApplication.java:64,101): the
    listener sees every micro-batch with its row count — the structured
    replacement for the reference's per-batch log lines."""
    src_reg, tgt_reg = _fresh_registries()
    records = [{"id": str(uuid.uuid4()), "name": f"r{i}"} for i in range(7)]
    R.write_envelope_fixture(
        spark, records, dirs["src"], "source-topic-a", src_reg, R.FOO_SCHEMA
    )
    lst = R.ReplicationProgressListener()
    R.replicate_stream(
        spark, dirs["src"], dirs["tgt"], src_reg, tgt_reg,
        "target-topic-b", R.FOO_SCHEMA, dirs["ckpt"], listener=lst,
    )
    assert lst.total_rows() == 7
    assert all(b["processedRowsPerSecond"] >= 0 for b in lst.batches)


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


def test_confluent_deserialize_with_evolution():
    """Mixed-version topic: records framed under two schema ids, one
    consumer on the v2 reader — every record arrives v2-shaped."""
    from avro_topic_replication_spark.functions import avro_codec as C

    schemas = {1: R.FOO_SCHEMA, 2: FOO_V2}
    msgs = [
        C.serialize_confluent({"id": "a", "name": None}, R.FOO_SCHEMA, 1),
        C.serialize_confluent({"id": "b", "name": "n", "tag": "t"}, FOO_V2, 2),
    ]
    out = [C.deserialize_confluent_evolved(m, schemas, FOO_V2) for m in msgs]
    assert out[0] == (1, {"id": "a", "name": None, "tag": "untagged"})
    assert out[1] == (2, {"id": "b", "name": "n", "tag": "t"})


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
