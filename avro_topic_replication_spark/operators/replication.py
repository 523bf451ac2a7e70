"""The reference's own capability: exactly-once Avro topic replication
(R1–R9), Spark-first.

Reference dataflow (SURVEY.md §2.1; ReplicationApplication.java:62-101):
Kafka source → read-committed filter → Confluent-Avro deserialize →
extract value.id → re-key → Confluent-Avro serialize (auto-register) →
transactional sink → batch barrier → post-commit offset ack.

Spark mapping implemented here:

| R# | reference mechanism                | this module                      |
|----|------------------------------------|----------------------------------|
| R1 | @KafkaListener batches ≤500        | readStream (envelope dir replay; |
|    | (README.adoc:34)                   | kafka_source_options for a real  |
|    |                                    | cluster, maxOffsetsPerTrigger)   |
| R2 | isolation read-committed           | read_committed() — only          |
|    | (application.yml:10)               | marker-committed batches visible |
| R3 | KafkaAvroDeserializer              | mapInArrow: a per-schema walker  |
|    | (application.yml:12)               | compiled from the plan-time      |
|    |                                    | snapshot checks a whole batch's  |
|    |                                    | payloads at once, columnar (numpy|
|    |                                    | positions over the value buffer);|
|    |                                    | full decode only as the fallback |
| R4 | consumerRecord.get("id") (:71)     | the walk returns id's byte spans |
| R5 | re-key with id.toString() (:70-71) | key = key frame + those bytes    |
|    |                                    | (Avro string of id, serde parity)|
| R6 | KafkaAvroSerializer + auto-register| register() at plan time; values =|
|    | (application.yml:15-16,README:27)  | the input value buffer with each |
|    |                                    | 5-byte frame's id rewritten to   |
|    |                                    | the target id, offsets unchanged |
|    |                                    | (fallback: full re-encode)       |
| R7 | executeInTransaction (:66-78)      | foreachBatch: write data (parquet|
|    |                                    | without dictionaries), then      |
| R8 | future.get barrier → abort (:80-94)| atomically create commit marker; |
|    |                                    | any task failure fails the batch |
|    |                                    | before the marker exists         |
| R9 | ack after commit (:99-100)         | checkpoint advances only after   |
|    |                                    | foreachBatch returns             |

Crash-window semantics (honest, mirroring README.adoc:22-25): a crash
after data-write but before marker leaves an uncommitted batch dir that
read_committed() ignores and a replay overwrites — effectively-exactly-
once for committed readers, exactly the reference's contract.
"""

from __future__ import annotations

import os
import struct
import threading
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions import avro_codec
from ..sources.registry import MockSchemaRegistry

# A2 envelope (FIXTURES.md): the fixed schema of Spark's Kafka source.
KAFKA_ENVELOPE = StructType(
    [
        StructField("key", BinaryType(), True),
        StructField("value", BinaryType(), True),
        StructField("topic", StringType(), True),
        StructField("partition", IntegerType(), True),
        StructField("offset", LongType(), True),
        StructField("timestamp", TimestampType(), True),
    ]
)

# The reference's Avro fixture (com.foo.Foo.avsc:1-19).
FOO_SCHEMA = {
    "type": "record",
    "name": "Foo",
    "namespace": "com.foo",
    "fields": [
        {"name": "id", "type": "string"},
        {"name": "name", "type": ["null", "string"], "default": None},
    ],
}

# A BACKWARD-compatible evolution of Foo (new field with a default) — the
# registry's default compatibility mode admits exactly this kind of change.
FOO_SCHEMA_V2 = {
    "type": "record",
    "name": "Foo",
    "namespace": "com.foo",
    "fields": [
        {"name": "id", "type": "string"},
        {"name": "name", "type": ["null", "string"], "default": None},
        {"name": "tag", "type": "string", "default": "untagged"},
    ],
}

STRING_SCHEMA = "string"  # output key schema (KafkaAvroSerializer on a String)


def kafka_source_options(bootstrap: str, topic: str) -> dict[str, str]:
    """R1/R2 options for a real cluster: spark.readStream.format("kafka")
    .options(**kafka_source_options(...)). Batch bound mirrors the
    reference's ≤500-record listener batches (README.adoc:34); read
    committed mirrors application.yml:10; failOnDataLoss mirrors
    setMissingTopicsFatal (ReplicationApplication.java:41)."""
    return {
        "kafka.bootstrap.servers": bootstrap,
        "subscribe": topic,
        "startingOffsets": "earliest",
        "maxOffsetsPerTrigger": "500",
        "kafka.isolation.level": "read_committed",
        "failOnDataLoss": "true",
    }


# Route-mode output: the target envelope plus the dead-letter error class
# (NULL for a replicated record). A fresh StructType — StructType.add
# would mutate the shared module-level envelope.
DLQ_ENVELOPE = StructType(KAFKA_ENVELOPE.fields + [StructField("error", StringType())])


# ---------------------------------------------------------------------------
# R3–R6: walk → re-key → re-frame, one Arrow-batched pass
# ---------------------------------------------------------------------------
def _reencode(raw, snapshot: dict, mapping: dict, key_schema_id: int, route: bool):
    """The full path for one framed value: decode, extract ``id``, encode
    the key and re-encode the value; returns ``(key, value, error)``. It is
    the one place that classifies a bad record (see
    ``replicate_transform``) or, in abort mode, raises for it."""
    try:
        src_id, record = avro_codec.deserialize_confluent(bytes(raw), snapshot)
        rid = record.get("id") if isinstance(record, dict) else None
        if rid is None:
            if not route:
                raise ValueError(
                    "record has no 'id' field - aborting batch "
                    "(reference parity: ReplicationApplication.java:71 "
                    "NPE aborts the transaction)"
                )
            return None, None, "missing_id"
        return (
            avro_codec.serialize_confluent(str(rid), STRING_SCHEMA, key_schema_id),
            avro_codec.serialize_confluent(record, snapshot[src_id], mapping[src_id]),
            None,
        )
    except Exception as e:
        if not route:
            raise
        return None, None, "unknown_schema" if isinstance(e, KeyError) else "decode_error"


def _replication_kernel(snapshot: dict, mapping: dict, key_schema_id: int, route: bool):
    """Plan-time build of the batch replication: returns
    ``replicate(raws) -> (keys, values, errors)``, Arrow arrays in and out
    over a binary array of framed values.

    Each schema id whose writer schema has a walker
    (``avro_codec.compile_walker``) takes the header rewrite, columnar over
    the whole batch: the walker checks its payloads and finds each ``id``
    span; the key is the key frame plus those bytes, and the value is a
    copy of the input value buffer with the 4 schema-id bytes rewritten to
    the target id at each row's offset — exactly the bytes the full path
    would encode, with no decoded datum built. Every row the walker does
    not vouch for (null, bad frame, unknown id, a schema it does not cover,
    a payload it rejects) goes through ``_reencode`` in row order and is
    merged in, so both modes give the full path's output for every input,
    and abort mode raises the first failing row's error."""
    key_frame = np.frombuffer(avro_codec.frame(key_schema_id, b""), np.uint8)
    rewrites = {}
    for sid, schema in snapshot.items():
        walk = avro_codec.compile_walker(schema) if sid in mapping else None
        if walk is not None:
            rewrites[sid] = (walk, np.frombuffer(struct.pack(">I", mapping[sid]), np.uint8))

    def replicate(raws: pa.Array):
        n = len(raws)
        data, offsets = avro_codec.binary_buffers(raws)
        start, end = offsets[:-1], offsets[1:]
        ok = np.zeros(n, bool)
        id_start, id_end = np.zeros(n, np.int64), np.zeros(n, np.int64)
        values = data.copy()
        if data.size:
            header = data.take(start[:, None] + np.arange(5), mode="clip")
            framed = (end - start >= 5) & (header[:, 0] == 0)
            if raws.null_count:
                framed &= raws.is_valid().to_numpy(zero_copy_only=False)
            sids = header[:, 1:].copy().view(">u4")[:, 0]
            for sid, (walk, target) in rewrites.items():
                rows = np.flatnonzero(framed & (sids == sid))
                if not rows.size:
                    continue
                good, a, b = walk(data, start[rows] + 5, end[rows])
                rows = rows[good]
                ok[rows], id_start[rows], id_end[rows] = True, a[good], b[good]
                values[start[rows, None] + np.arange(1, 5)] = target
        # key = key frame + id span: two spans per row over key frame ++
        # value bytes (both empty where not ok)
        source = np.concatenate([key_frame, data])
        span_start = np.column_stack([np.zeros(n, np.int64), id_start + 5]).ravel()
        span_stop = np.column_stack([np.where(ok, 5, 0), np.where(ok, id_end, id_start) + 5]).ravel()
        key_offsets, key_bytes = avro_codec.gather_spans(source, span_start, span_stop)
        keys = avro_codec.binary_array(key_offsets[::2], key_bytes)
        values = avro_codec.binary_array(offsets, values)
        errors = pa.nulls(n, pa.string())
        slow = np.flatnonzero(~ok)
        if not slow.size:
            return keys, values, errors
        out = [_reencode(raw, snapshot, mapping, key_schema_id, route)
               for raw in raws.take(pa.array(slow)).to_pylist()]
        # row -> its place in ``out`` (fast rows: any, if_else ignores it)
        pick = pa.array(np.maximum(np.cumsum(~ok) - 1, 0))
        fast = pa.array(ok)
        merged = [
            pc.if_else(fast, arr, pa.array(col, arr.type).take(pick))
            for arr, col in zip((keys, values, errors), zip(*out))
        ]
        return tuple(merged)

    return replicate


def replicate_transform(
    env: DataFrame,
    schemas_by_id: dict,
    target_topic: str,
    key_schema_id: int,
    id_mapping: dict,
    on_error: str = "abort",
) -> DataFrame:
    """The record transform of the pipeline: for each source envelope row,
    extract ``id`` from the Confluent-framed value and emit the target
    envelope with key = Avro-string(id) framed for the target registry and
    value = the record under ITS OWN schema's target-registry id
    (``id_mapping``: source schema id → target schema id). Per-record
    schema dispatch mirrors the GenericRecord serde of the reference — a
    topic carrying several schema versions replicates each record under
    the matching propagated schema, exactly like KafkaAvroSerializer.

    The value is re-encoded under its writer schema, so a payload that
    re-encodes to itself needs only a new frame: the header rewrite of
    ``_replication_kernel``, with the full decode → re-encode as the
    fallback for every record the rewrite cannot vouch for.

    One mapInArrow pass — the distributed analog of the reference's
    single listener loop (ReplicationApplication.java:63-78); the
    (partition, offset, timestamp) Arrow columns pass through untouched
    for downstream dedup/audit.

    ``on_error`` picks what a bad record does:

    - ``"abort"`` (the reference's semantics): the record raises, failing
      the whole batch before any commit — the NPE→transaction-abort of
      ReplicationApplication.java:71 (§3.1 step 6). A record without
      ``id`` raises ``ValueError``; an unknown schema id or a malformed
      frame raises the codec's own error.
    - ``"route"`` (the dead-letter production mode): the envelope passes
      through with NULL key/value and an ``error`` class, good records
      replicate normally, and the output has the ``DLQ_ENVELOPE`` schema.
      Classes, in the order they are caught: ``unknown_schema`` (frame
      carries a schema id absent from the plan-time snapshot — KeyError),
      ``missing_id`` (decoded record lacks the re-key field),
      ``decode_error`` (any other failure: malformed frame or payload).
      The main/DLQ split is a downstream ``filter`` each (both
      partition-local, no extra shuffle).
    """
    if on_error not in ("abort", "route"):
        raise ValueError(f"on_error must be 'abort' or 'route', got {on_error!r}")
    route = on_error == "route"
    schema = DLQ_ENVELOPE if route else KAFKA_ENVELOPE
    replicate = _replication_kernel(
        dict(schemas_by_id), dict(id_mapping), key_schema_id, route
    )

    def transform(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            keys, values, errors = replicate(batch.column("value"))
            columns = [
                keys,
                values,
                pa.array([target_topic] * batch.num_rows, pa.string()),
                batch.column("partition"),
                batch.column("offset"),
                batch.column("timestamp"),
            ]
            if route:
                columns.append(errors)
            yield pa.RecordBatch.from_arrays(columns, names=schema.fieldNames())

    return env.select("value", "partition", "offset", "timestamp").mapInArrow(
        transform, schema=schema
    )


def plan_replication(
    env: DataFrame,
    source_registry: MockSchemaRegistry,
    target_registry: MockSchemaRegistry,
    target_topic: str,
    value_schema=None,
    on_error: str = "abort",
) -> DataFrame:
    """Plan-time registry work (R6 auto-registration, README.adoc:27
    parity) + the transform: register the key schema on the target,
    snapshot the source registry for decode (seeded from ``value_schema``
    when the source registry is empty, as in direct batch use), propagate
    EVERY known source schema into the target registry (the
    auto-registration the Confluent serde does lazily, done eagerly at
    plan time), and build the distributed transform with the id mapping.
    This is the one place registry propagation happens, for both
    ``on_error`` modes of ``replicate_transform``."""
    key_id = target_registry.register(f"{target_topic}-key", STRING_SCHEMA)
    snapshot = source_registry.snapshot()
    if value_schema is not None and not snapshot:
        source_registry.register(f"{target_topic}-value", value_schema)
        snapshot = source_registry.snapshot()
    id_mapping = {
        src_id: target_registry.register(f"{target_topic}-value", schema)
        for src_id, schema in snapshot.items()
    }
    return replicate_transform(
        env, snapshot, target_topic, key_id, id_mapping, on_error=on_error
    )


# ---------------------------------------------------------------------------
# R7–R9: transactional sink, batch barrier, post-commit ack
# ---------------------------------------------------------------------------
def committed_marker(target_dir: str, batch_id: int) -> str:
    return os.path.join(target_dir, "commits", str(batch_id))


def _committing_writer(marker_dir: str, outputs):
    """foreachBatch body: write-then-commit-marker, idempotent on replay.

    ``outputs(batch_df)`` returns the ``(DataFrame, target_dir)`` pairs of
    one batch; it runs only for a batch that is not yet committed.

    - data lands in <target_dir>/data/<batch_id>/, each output in order
      (task failures abort the whole write — the R8 barrier);
    - ONE commit marker under ``marker_dir`` is created atomically AFTER
      every write succeeded (R7 transaction commit), so a batch with
      several outputs commits all of them or none;
    - a replayed batch (crash between marker and checkpoint ack) sees its
      marker and skips — effectively-exactly-once downstream; a replay of
      an uncommitted batch overwrites its partial data dirs;
    - Structured Streaming acks the checkpoint only after this returns
      (R9 post-commit offset ack).
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        marker = committed_marker(marker_dir, batch_id)
        if os.path.exists(marker):
            return  # replay of a committed batch: idempotent skip
        for df, target_dir in outputs(batch_df):
            # no dictionaries: keys, values and offsets are unique per
            # record, so parquet would build each dictionary only to drop it
            df.write.mode("overwrite").option("parquet.enable.dictionary", "false").parquet(
                os.path.join(target_dir, "data", str(batch_id))
            )
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            f.write("committed")
        os.rename(tmp, marker)  # atomic commit point

    return write


def batch_writer(target_dir: str):
    """foreachBatch body of the strict pipeline: each batch's records land
    under ``target_dir`` behind its commit marker."""
    return _committing_writer(target_dir, lambda batch_df: [(batch_df, target_dir)])


def dlq_batch_writer(main_dir: str, dlq_dir: str):
    """foreachBatch body for the DLQ split: good rows (error IS NULL,
    error column dropped) land under the main topic dir, routed rows
    (with their error class) under the dead-letter dir, and ONE commit
    marker under the main dir — created only after BOTH writes — covers
    the pair, so the main/DLQ split is batch-atomic: a crash between the
    writes replays the whole batch into both sinks idempotently."""

    def split(batch_df: DataFrame):
        batch_df = batch_df.localCheckpoint(eager=True)  # split reads it twice
        good = batch_df.filter(F.col("error").isNull()).drop("error")
        bad = batch_df.filter(F.col("error").isNotNull())
        return [(good, main_dir), (bad, dlq_dir)]

    return _committing_writer(main_dir, split)


def _drain(out: DataFrame, writer, checkpoint_dir: str, timeout_sec: int) -> None:
    """Run a replication stream once to the end of its source: every
    available offset, each micro-batch through ``writer``, offsets acked
    in ``checkpoint_dir`` after the writer returns (availableNow). Raises
    ``TimeoutError`` after stopping a stream that has not drained within
    ``timeout_sec``; its checkpoint lets a rerun resume."""
    q = (
        out.writeStream.foreachBatch(writer)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        drained = q.awaitTermination(timeout_sec)
    finally:
        q.stop()
    if not drained:
        raise TimeoutError(
            f"replication stream did not drain within {timeout_sec} s "
            f"(checkpoint {checkpoint_dir})"
        )


def replicate_stream_dlq(
    spark: SparkSession,
    source_dir: str,
    main_dir: str,
    dlq_dir: str,
    source_registry: MockSchemaRegistry,
    target_registry: MockSchemaRegistry,
    target_topic: str,
    value_schema,
    checkpoint_dir: str,
    corrupt=None,
    timeout_sec: int = 120,
) -> None:
    """The R1–R9 streaming pipeline in dead-letter mode: same source,
    registry propagation and checkpoint mechanics as ``replicate_stream``,
    but records flow through ``replicate_transform(on_error="route")`` and
    the two-sink ``dlq_batch_writer``. ``corrupt`` optionally maps the
    envelope DataFrame before the transform (test harnesses inject
    deterministic corruption there)."""
    env = spark.readStream.schema(KAFKA_ENVELOPE).parquet(source_dir)
    if corrupt is not None:
        env = corrupt(env)
    out = plan_replication(
        env, source_registry, target_registry, target_topic, value_schema,
        on_error="route",
    )
    _drain(out, dlq_batch_writer(main_dir, dlq_dir), checkpoint_dir, timeout_sec)


def read_committed(
    spark: SparkSession,
    target_dir: str,
    marker_dir: str | None = None,
    schema: StructType = KAFKA_ENVELOPE,
) -> DataFrame:
    """R2 on the output side: expose only batches whose commit marker
    exists (the read_committed isolation the reference's downstream
    consumers rely on, application.yml:10). Data is read from
    ``target_dir`` with ``schema``; markers from ``marker_dir``, which
    defaults to ``target_dir``. A dead-letter sink shares the main sink's
    markers (``dlq_batch_writer``), so it reads as
    ``read_committed(spark, dlq_dir, marker_dir=main_dir,
    schema=DLQ_ENVELOPE)``."""
    commits = os.path.join(marker_dir or target_dir, "commits")
    if not os.path.isdir(commits):
        return spark.createDataFrame([], schema)
    dirs = [
        os.path.join(target_dir, "data", b)
        # digit-only filter: a crash between the tmp-marker write and its
        # rename can leave "<id>.tmp" behind; an uncommitted marker must
        # never crash (or admit rows into) the read-committed view
        for b in sorted((x for x in os.listdir(commits) if x.isdigit()), key=int)
        if os.path.isdir(os.path.join(target_dir, "data", b))
    ]
    if not dirs:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*dirs)


class ReplicationProgressListener(StreamingQueryListener):
    """Per-batch observability, the reference's logging as structured
    metrics (ReplicationApplication.java:64 "Received batch of {} records",
    :73-75 per-record send, :101 post-commit ack log). Spark's listener
    bus delivers one progress event per micro-batch; we keep batch id,
    input rows, throughput and the phase durations (``durationMs``:
    addBatch, walCommit, commitOffsets, latestOffset, queryPlanning,
    getBatch, triggerExecution — whichever the batch ran) — what an
    operator dashboards at 100 TB."""

    def __init__(self) -> None:
        self.batches: list[dict] = []
        self.terminated = threading.Event()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API names)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.batches.append(
            {
                "batchId": p.batchId,
                "numInputRows": p.numInputRows,
                "processedRowsPerSecond": p.processedRowsPerSecond,
                "durationMs": dict(p.durationMs),
            }
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        self.terminated.set()

    def total_rows(self) -> int:
        return int(sum(b["numInputRows"] for b in self.batches))


def replicate_stream(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    source_registry: MockSchemaRegistry,
    target_registry: MockSchemaRegistry,
    target_topic: str,
    value_schema,
    checkpoint_dir: str,
    timeout_sec: int = 120,
    listener: ReplicationProgressListener | None = None,
) -> None:
    """The full R1–R9 streaming pipeline over a file-backed topic
    simulation (envelope parquet dir standing in for the Kafka source —
    swap the first line for format("kafka") + kafka_source_options on a
    real cluster; everything downstream is identical)."""
    if listener is not None:
        listener.terminated.clear()
        spark.streams.addListener(listener)
    env = spark.readStream.schema(KAFKA_ENVELOPE).parquet(source_dir)
    out = plan_replication(
        env, source_registry, target_registry, target_topic, value_schema
    )
    try:
        _drain(out, batch_writer(target_dir), checkpoint_dir, timeout_sec)
    finally:
        if listener is not None:
            # listener events ride an async bus that delivers them in
            # order, so once the termination event has arrived every
            # progress event of this run has too (a stable-count poll
            # could detach before a late first event)
            listener.terminated.wait(10)
            spark.streams.removeListener(listener)


# ---------------------------------------------------------------------------
# fixture production (test harness analog of scripts/produce-records.sh)
# ---------------------------------------------------------------------------
def write_envelope_fixture(
    spark: SparkSession,
    records: list[dict],
    out_dir: str,
    topic: str,
    registry: MockSchemaRegistry,
    value_schema,
    key_bytes: bytes | None = None,
) -> int:
    """Encode records as Confluent-framed Avro and write a source-topic
    envelope parquet dir (keyless input, like the reference's test
    producer — ReplicationApplicationTest.java:96-100). Returns the
    registered value schema id."""
    import datetime as dt

    sid = registry.register(f"{topic}-value", value_schema)
    rows = [
        (
            key_bytes,
            avro_codec.serialize_confluent(r, value_schema, sid),
            topic,
            0,
            i,
            dt.datetime(2024, 1, 1, 0, 0, i % 60),
        )
        for i, r in enumerate(records)
    ]
    spark.createDataFrame(rows, KAFKA_ENVELOPE).coalesce(1).write.mode(
        "overwrite"
    ).parquet(out_dir)
    return sid


def decode_envelope(
    env: DataFrame, schemas_by_id: dict, value_schema
) -> DataFrame:
    """Consumer-side deserializer (KafkaAvroDeserializer analog): key as
    an Avro string, each value decoded with its writer schema (Confluent
    frame id -> ``schemas_by_id``) and resolved onto the reader record
    ``value_schema``, one column per reader field, between ``kafka_key``
    and ``topic, offset``. Avro record resolution: a reader field the
    writer has takes the written value, one it lacks takes its default,
    writer-only fields drop. Reader fields must be ``string`` or
    ``["null", "string"]``; anything else raises here, at plan time."""
    snapshot = dict(schemas_by_id)
    reader = avro_codec.parse_schema(value_schema)
    fields = reader["fields"]
    for f in fields:
        if f["type"] not in ("string", ["null", "string"]):
            raise ValueError(
                f"decode_envelope reads string fields only; {f['name']!r} is {f['type']!r}"
            )
    names = [f["name"] for f in fields]
    defaults = [f.get("default") for f in fields]

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        resolved: set = set()  # writer schema ids checked against the reader
        for pdf in batches:
            out_keys = [
                None if kraw is None
                else avro_codec.deserialize_confluent(bytes(kraw), snapshot)[1]
                for kraw in pdf["key"]
            ]
            cols: list[list] = [[] for _ in names]
            for vraw in pdf["value"]:
                sid, record = avro_codec.deserialize_confluent(bytes(vraw), snapshot)
                if sid not in resolved:
                    # the codec's resolution raises, once per writer schema,
                    # on one the reader cannot read (not a record, or a
                    # reader field it lacks has no default); past that each
                    # field is the written value or the reader's default
                    avro_codec.resolve(record, snapshot[sid], reader)
                    resolved.add(sid)
                for col, name, default in zip(cols, names, defaults):
                    col.append(record.get(name, default))
            yield pd.DataFrame(
                {
                    "kafka_key": out_keys,
                    **dict(zip(names, cols)),
                    "topic": pdf["topic"],
                    "offset": pdf["offset"],
                }
            )

    return env.mapInPandas(
        dec,
        schema=StructType(
            [StructField("kafka_key", StringType())]
            + [StructField(n, StringType()) for n in names]
            + [StructField("topic", StringType()), StructField("offset", LongType())]
        ),
    )
