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
| R3 | KafkaAvroDeserializer              | graft_walk: a Java UDF walks each|
|    | (application.yml:12)               | payload by opcodes compiled from |
|    |                                    | the plan-time snapshot and checks|
|    |                                    | it would re-encode to itself;    |
|    |                                    | full decode only for the rows it |
|    |                                    | declines (a second job)          |
| R4 | consumerRecord.get("id") (:71)     | the walk returns id's byte span  |
| R5 | re-key with id.toString() (:70-71) | key = key frame + those bytes    |
|    |                                    | (jvm/GraftSink.java, one copy per|
|    |                                    | row; the Avro string of id, serde|
|    |                                    | parity)                          |
| R6 | KafkaAvroSerializer + auto-register| register() at plan time; value = |
|    | (application.yml:15-16,README:27)  | the payload with its schema id   |
|    |                                    | swapped for the target's         |
|    |                                    | (fallback: full re-encode)       |
| R7 | executeInTransaction (:66-78)      | replicate_stream's foreachBatch: |
|    |                                    | one JVM job over the batch, each |
|    |                                    | task rewriting and writing its   |
|    |                                    | rows as one parquet file (no     |
|    |                                    | dictionaries, no key/value stats,|
|    |                                    | UTC microsecond timestamps) and  |
|    |                                    | spilling the declined ones; then |
|    |                                    | the declined rows' job if any    |
|    |                                    | (with a dlq_dir, route mode: bad |
|    |                                    | records to the dead-letter sink),|
| R8 | future.get barrier → abort (:80-94)| then atomically create one commit|
|    |                                    | marker, the only commit point;   |
|    |                                    | any task failure fails the batch |
|    |                                    | before it exists                 |
| R9 | ack after commit (:99-100)         | checkpoint (offset WAL, commit   |
|    |                                    | log: FileContext atomic renames, |
|    |                                    | in a get_spark JVM through the   |
|    |                                    | fork-free GraftLocalFileSystem)  |
|    |                                    | advances only after foreachBatch |
|    |                                    | returns; the returned query's    |
|    |                                    | recentProgress logs each batch   |

Crash-window semantics (honest, mirroring README.adoc:22-25): a crash
after data-write but before marker leaves an uncommitted batch dir that
read_committed() ignores and a replay overwrites — effectively-exactly-
once for committed readers, exactly the reference's contract.
"""

from __future__ import annotations

import os
import shutil
import struct
from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
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
from ..session import graft_jar, jar_on_class_path
from ..streaming.replay import drain

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
# R3–R6: walk → re-key → re-frame in the JVM; full decode as the fallback
# ---------------------------------------------------------------------------
def _reencode(raw, snapshot: dict, mapping: dict, key_schema_id: int, route: bool):
    """The full path for one framed value: decode, extract ``id``, encode
    the key and re-encode the value; returns ``(key, value, error)``. It is
    the one place that classifies a bad record (see ``ReplicationPlan``)
    or, in abort mode, raises for it."""
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


_SPAN = "_span"  # the walked envelope's column: the id span, or -1 where declined

# The source envelope columns the full path reads: the walked rows it
# receives, and the declined rows the sink spills (jvm/GraftSink.java).
_DECLINED_ENVELOPE = StructType([KAFKA_ENVELOPE["value"]] + KAFKA_ENVELOPE.fields[3:])


def _ensure_walker(spark: SparkSession) -> None:
    """Register the JVM walker and rewrite (``graft_jar``) as the SQL
    functions ``graft_walk``, ``graft_key`` and ``graft_value``, once per
    session object like ``ensure_runtime_conf``. A JVM ``get_spark``
    launched has the jar on its class path; any other gets it by
    ``ADD JAR``."""
    if getattr(spark, "_graft_walk_registered", False):
        return
    if not jar_on_class_path():
        spark.sql(f"ADD JAR '{graft_jar()}'")
    spark.udf.registerJavaFunction("graft_walk", "sparkgraft.GraftWalk", LongType())
    spark.udf.registerJavaFunction("graft_key", "sparkgraft.GraftSink$Key", BinaryType())
    spark.udf.registerJavaFunction("graft_value", "sparkgraft.GraftSink$Value", BinaryType())
    spark._graft_walk_registered = True


class ReplicationPlan:
    """The plan-time half of R3–R6 for one registry snapshot: for each
    source envelope row, extract ``id`` from the Confluent-framed value and
    emit the target envelope with key = Avro-string(id) framed for the
    target registry and value = the record under ITS OWN schema's
    target-registry id (``id_mapping``: source schema id → target schema
    id). Per-record schema dispatch mirrors the GenericRecord serde of the
    reference — a topic carrying several schema versions replicates each
    record under the matching propagated schema, exactly like
    KafkaAvroSerializer. The (partition, offset, timestamp) columns pass
    through untouched for downstream dedup/audit.

    ``walk`` adds the JVM walker's verdict to each envelope row: the span of
    its ``id`` within the value, or -1 where the walker declines it (null,
    bad frame, unknown id, a schema it does not cover, a payload that would
    not re-encode to itself). The rows it vouches for take the JVM rewrite
    (``jvm/GraftSink.java``): key = the key frame + the id span; value =
    the payload with its schema id swapped for the target's; exactly the
    bytes the full path would encode, and no Python worker runs. The
    streaming sink (``batch_writer``) runs it in its task loop, the static
    ``transform`` as the SQL functions ``graft_key``/``graft_value``.
    ``_full`` runs ``_reencode`` over the declined rows only (one
    ``mapInArrow``), so both modes give the full path's output for every
    input.

    ``on_error`` picks what a bad record does:

    - ``"abort"`` (the reference's semantics): the record raises, failing
      the whole batch before any commit — the NPE→transaction-abort of
      ReplicationApplication.java:71 (§3.1 step 6). A record without
      ``id`` raises ``ValueError``; an unknown schema id or a malformed
      frame raises the codec's own error; a batch raises its first failing
      row's error.
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

    def __init__(self, spark: SparkSession, schemas_by_id: dict, target_topic: str,
                 key_schema_id: int, id_mapping: dict, on_error: str = "abort") -> None:
        if on_error not in ("abort", "route"):
            raise ValueError(f"on_error must be 'abort' or 'route', got {on_error!r}")
        _ensure_walker(spark)
        snapshot, mapping = dict(schemas_by_id), dict(id_mapping)
        route = on_error == "route"
        self.route = route
        self.schema = DLQ_ENVELOPE if route else KAFKA_ENVELOPE
        program, targets = [], b""
        for sid, schema in snapshot.items():
            ops = avro_codec.compile_walker(schema) if sid in mapping else None
            if ops is not None:
                program.append(struct.pack(">ii", sid, len(ops)) + ops)
                targets += struct.pack(">II", sid, mapping[sid])
        # the JVM rewrite's arguments: the key frame, the (source, target)
        # schema id pairs, the target topic
        self._rewrite = (avro_codec.frame(key_schema_id, b""), targets, target_topic)
        # Built once as SQL text: every Column method is a few py4j round
        # trips, so per-batch Column building made each micro-batch pay
        # hundreds of them; a selectExpr/where is one call.
        self._walk_sql = ["value", "`partition`", "`offset`", "`timestamp`",
                          f"graft_walk(value, X'{b''.join(program).hex()}') AS {_SPAN}"]
        self._rewrite_sql = [
            f"graft_key(value, {_SPAN}, X'{self._rewrite[0].hex()}') AS key",
            f"graft_value(value, X'{targets.hex()}') AS value",
            # the topic as UTF-8 bytes: no quoting or escaping rules apply
            f"CAST(X'{target_topic.encode().hex()}' AS STRING) AS topic",
            "`partition`", "`offset`", "`timestamp`",
        ] + (["CAST(NULL AS STRING) AS error"] if route else [])
        names = self.schema.fieldNames()

        def fallback(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                out = [_reencode(raw, snapshot, mapping, key_schema_id, route)
                       for raw in batch.column("value").to_pylist()]
                keys, values, errors = zip(*out) if out else ((), (), ())
                columns = [
                    pa.array(keys, pa.binary()),
                    pa.array(values, pa.binary()),
                    pa.array([target_topic] * batch.num_rows, pa.string()),
                    batch.column("partition"),
                    batch.column("offset"),
                    batch.column("timestamp"),
                ]
                if route:
                    columns.append(pa.array(errors, pa.string()))
                yield pa.RecordBatch.from_arrays(columns, names=names)

        self._fallback = fallback

    @classmethod
    def from_registries(cls, spark: SparkSession, source_registry: MockSchemaRegistry,
                        target_registry: MockSchemaRegistry, target_topic: str,
                        value_schema=None, on_error: str = "abort") -> ReplicationPlan:
        """Plan-time registry work (R6 auto-registration, README.adoc:27
        parity): register the key schema on the target, snapshot the source
        registry for decode (seeded from ``value_schema`` when the source
        registry is empty, as in direct batch use), and propagate EVERY
        known source schema into the target registry (the auto-registration
        the Confluent serde does lazily, done eagerly at plan time). This is
        the one place registry propagation happens, for both modes."""
        key_id = target_registry.register(f"{target_topic}-key", STRING_SCHEMA)
        snapshot = source_registry.snapshot()
        if value_schema is not None and not snapshot:
            source_registry.register(f"{target_topic}-value", value_schema)
            snapshot = source_registry.snapshot()
        id_mapping = {
            src_id: target_registry.register(f"{target_topic}-value", schema)
            for src_id, schema in snapshot.items()
        }
        return cls(spark, snapshot, target_topic, key_id, id_mapping, on_error)

    def walk(self, env: DataFrame) -> DataFrame:
        """The envelope columns the output keeps, plus the walker's span."""
        return env.selectExpr(*self._walk_sql)

    def _full(self, env: DataFrame) -> DataFrame:
        """The full path's output (``self.schema``) for every row of
        ``env``, a ``_DECLINED_ENVELOPE``."""
        return env.mapInArrow(self._fallback, schema=self.schema)

    def transform(self, env: DataFrame) -> DataFrame:
        """The whole output over a static ``env``, as one DataFrame. A
        JVM-only job counts the declined rows first (one parallel pass;
        ``isEmpty`` would scan partitions in waves): a Python stage costs
        its fixed price even over 0 rows, so a clean ``env`` gets the
        rewrite alone."""
        walked = self.walk(env)
        fast = walked.where(f"{_SPAN} >= 0").selectExpr(*self._rewrite_sql)
        declined = walked.where(f"{_SPAN} < 0")
        if not declined.count():
            return fast
        return fast.unionByName(self._full(declined.drop(_SPAN)))


def plan_replication(
    env: DataFrame,
    source_registry: MockSchemaRegistry,
    target_registry: MockSchemaRegistry,
    target_topic: str,
    value_schema=None,
    on_error: str = "abort",
) -> DataFrame:
    """``ReplicationPlan.from_registries`` (the registry propagation) +
    ``ReplicationPlan.transform`` over a static ``env``."""
    return ReplicationPlan.from_registries(
        env.sparkSession, source_registry, target_registry, target_topic, value_schema,
        on_error,
    ).transform(env)


# ---------------------------------------------------------------------------
# R7–R9: transactional sink, batch barrier, post-commit ack
# ---------------------------------------------------------------------------
def committed_marker(target_dir: str, batch_id: int) -> str:
    return os.path.join(target_dir, "commits", str(batch_id))


_DECLINED = ".declined"  # a batch dir's spill of the rows the walker declines


def _graft_sink(spark: SparkSession):
    """``jvm/GraftSink.java``'s class, for calls from this thread. py4j
    finds classes through the calling JVM thread's context class loader:
    in a JVM that has the jar by ``ADD JAR`` only, that is the session's
    jar class loader on the thread that ran ``ADD JAR`` alone, so any other
    thread (a stream started from another Python thread) is given it."""
    jvm = spark._jvm
    if not jar_on_class_path():
        jvm.java.lang.Thread.currentThread().setContextClassLoader(
            spark._jsparkSession.sharedState().jarClassLoader())
    return jvm.sparkgraft.GraftSink


def batch_writer(plan: ReplicationPlan, main_dir: str, dlq_dir: str | None = None):
    """foreachBatch body over ``plan.walk`` batches: write-then-commit-
    marker, idempotent on replay. ``dlq_dir`` is given in route mode only.

    - <main_dir>/data/<batch_id>/ is cleared, then one job
      (``jvm/GraftSink.java``) runs over the batch itself: each task
      rewrites the rows the walker vouches for into its part file and
      spills the declined ones to the dir's hidden ``.declined`` dir;
    - only if it spilled any does a second job run ``_reencode`` over the
      spill alone (the batch is not read again): in abort mode the output
      goes through the same writer into the same dir, or the job raises
      the first failing row's error; in route mode it is materialized
      once, the good rows written like abort mode's and the classified
      ones (Spark's writer) to <dlq_dir>/data/<batch_id>/ (a batch with
      none removes that dir, left by an earlier attempt);
    - task failures abort the whole write (the R8 barrier); ONE commit
      marker under ``main_dir`` is created atomically AFTER every write
      succeeded (R7 transaction commit), so a batch commits both sinks or
      neither; no other commit protocol runs (each part file is renamed
      into place by its task);
    - a replayed batch (crash between marker and checkpoint ack) sees its
      marker and skips — effectively-exactly-once downstream; a replay of
      an uncommitted batch replaces its partial data dirs;
    - Structured Streaming acks the checkpoint only after this returns
      (R9 post-commit offset ack).

    Files and markers are written through the local file system (java.nio
    in the tasks, ``os`` here); a cluster deployment moves both to its
    shared file system together.
    """
    if (dlq_dir is not None) != plan.route:
        raise ValueError("a dead-letter dir goes with an on_error='route' plan, and only then")

    def write(batch_df: DataFrame, batch_id: int) -> None:
        marker = committed_marker(main_dir, batch_id)
        if os.path.exists(marker):
            return  # replay of a committed batch: idempotent skip
        data = os.path.join(main_dir, "data", str(batch_id))
        shutil.rmtree(data, ignore_errors=True)
        os.makedirs(data)
        spark = batch_df.sparkSession
        sink = _graft_sink(spark)
        dead = None if dlq_dir is None else os.path.join(dlq_dir, "data", str(batch_id))
        spill = os.path.join(data, _DECLINED)
        if sink.write(batch_df._jdf, data, spill, *plan._rewrite):
            slow = plan._full(spark.read.schema(_DECLINED_ENVELOPE).parquet(spill))
            if dead is not None:
                slow = slow.localCheckpoint(eager=True)  # the split reads it twice
                # no dictionaries: offsets are unique per record
                slow.where("error IS NOT NULL").write.mode("overwrite").option(
                    "parquet.enable.dictionary", "false").parquet(dead)
                slow = slow.where("error IS NULL").drop("error")
            sink.append(slow._jdf, data, "full")
            shutil.rmtree(spill)
        elif dead is not None:
            # a replay whose first attempt routed rows that now pass (a
            # schema registered in between): its dead letters must not commit
            shutil.rmtree(dead, ignore_errors=True)
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            f.write("committed")
        os.rename(tmp, marker)  # atomic commit point

    return write


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
    dlq_dir: str | None = None,
) -> StreamingQuery:
    """The full R1–R9 streaming pipeline over a file-backed topic
    simulation (envelope parquet dir standing in for the Kafka source —
    swap the first line for format("kafka") + kafka_source_options on a
    real cluster; everything downstream is identical), run once to the
    end of its source (availableNow), each micro-batch through
    ``batch_writer``.

    Without ``dlq_dir`` a bad record aborts its batch (``on_error=
    "abort"``); with it, bad records are routed (``on_error="route"``) to
    ``dlq_dir`` and one marker under ``target_dir`` commits both sinks.
    Raises ``TimeoutError`` after stopping a stream that has not drained
    within ``timeout_sec``; its checkpoint lets a rerun resume.

    Returns the finished query. Its ``recentProgress`` holds one entry per
    micro-batch (the reference's per-batch log lines,
    ReplicationApplication.java:64,101, as structured metrics): batch id,
    ``numInputRows`` and the phase durations ``durationMs`` (addBatch,
    walCommit, commitOffsets, latestOffset, queryPlanning, getBatch,
    triggerExecution — whichever the batch ran)."""
    env = spark.readStream.schema(KAFKA_ENVELOPE).parquet(source_dir)
    plan = ReplicationPlan.from_registries(
        spark, source_registry, target_registry, target_topic, value_schema,
        on_error="abort" if dlq_dir is None else "route",
    )
    writer = plan.walk(env).writeStream.foreachBatch(batch_writer(plan, target_dir, dlq_dir))
    return drain(writer, checkpoint_dir, timeout_sec)


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
    markers (``batch_writer``), so it reads as
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
