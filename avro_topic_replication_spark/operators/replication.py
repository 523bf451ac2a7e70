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
|    |                                    | (Catalyst concat/substring; the  |
|    |                                    | Avro string of id, serde parity) |
| R6 | KafkaAvroSerializer + auto-register| register() at plan time; value = |
|    | (application.yml:15-16,README:27)  | 0x00 + the target id (CASE on the|
|    |                                    | source id) + the payload as is   |
|    |                                    | (fallback: full re-encode)       |
| R7 | executeInTransaction (:66-78)      | foreachBatch: write the accepted |
|    |                                    | rows, then the declined rows' job|
|    |                                    | if any (parquet without          |
|    |                                    | dictionaries), then atomically   |
| R8 | future.get barrier → abort (:80-94)| create the commit marker; any    |
|    |                                    | task failure fails the batch     |
|    |                                    | before the marker exists         |
| R9 | ack after commit (:99-100)         | checkpoint advances only after   |
|    |                                    | foreachBatch returns             |

Crash-window semantics (honest, mirroring README.adoc:22-25): a crash
after data-write but before marker leaves an uncommitted batch dir that
read_committed() ignores and a replay overwrites — effectively-exactly-
once for committed readers, exactly the reference's contract.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import struct
import subprocess
import tempfile
import threading
import zipfile
from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
import pyspark
from pyspark.sql import DataFrame, Observation, SparkSession
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
from ..streaming.replay import SCRATCH

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


_WALKER_SOURCE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                              "jvm", "GraftWalk.java")
_SPAN = "_span"  # the walked envelope's column: the id span, or -1 where declined


def _walker_jar() -> str:
    """The JVM walker's jar, compiled by ``javac`` against Spark's jars on
    first use into the scratch dir, named by the source's sha256 and
    moved into place whole (tmp dir + rename)."""
    with open(_WALKER_SOURCE, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:16]
    jar = os.path.join(SCRATCH, "jvm", f"GraftWalk-{digest}.jar")
    if os.path.exists(jar):
        return jar
    javac = shutil.which("javac")
    if javac is None:
        raise RuntimeError(
            "the replication fast path compiles jvm/GraftWalk.java with javac, "
            "which is not on PATH: install a JDK (17 or later)"
        )
    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    os.makedirs(os.path.dirname(jar), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.dirname(jar)) as tmp:
        built = subprocess.run(
            [javac, "--release", "17", "-cp", os.path.join(spark_home, "jars", "*"),
             "-d", tmp, _WALKER_SOURCE],
            capture_output=True, text=True,
        )
        if built.returncode:
            raise RuntimeError(f"javac failed on {_WALKER_SOURCE}:\n{built.stderr}")
        with zipfile.ZipFile(os.path.join(tmp, "walker.jar"), "w") as z:
            for root, _, files in os.walk(tmp):
                for name in files:
                    if name.endswith(".class"):
                        path = os.path.join(root, name)
                        z.write(path, os.path.relpath(path, tmp))
        os.rename(os.path.join(tmp, "walker.jar"), jar)
    return jar


def _ensure_walker(spark: SparkSession) -> None:
    """Add the walker's jar to ``spark`` and register it as the SQL
    function ``graft_walk`` (once per session object, like
    ``ensure_runtime_conf``)."""
    if getattr(spark, "_graft_walk_registered", False):
        return
    spark.sql(f"ADD JAR '{_walker_jar()}'")
    spark.udf.registerJavaFunction("graft_walk", "sparkgraft.GraftWalk", LongType())
    spark._graft_walk_registered = True


class ReplicationPlan:
    """The plan-time half of R3–R6 for one registry snapshot.

    ``walk`` adds the JVM walker's verdict to each envelope row: the span of
    its ``id`` within the value, or -1 where the walker declines it (null,
    bad frame, unknown id, a schema it does not cover, a payload that would
    not re-encode to itself). ``accepted`` rewrites the rows it vouches for
    with Catalyst expressions alone: key = the key frame + the id span;
    value = ``0x00`` + the target id (a ``CASE`` on the source id) + the
    payload as is; exactly the bytes the full path would encode, and no
    Python worker runs. ``declined`` runs ``_reencode`` over the other rows
    only (one ``mapInArrow``), so both modes give the full path's output
    for every input, and abort mode raises the first failing row's error.
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
        self.target_topic = target_topic
        self.key_frame = avro_codec.frame(key_schema_id, b"")
        program, self.targets = [], {}
        for sid, schema in snapshot.items():
            ops = avro_codec.compile_walker(schema) if sid in mapping else None
            if ops is not None:
                program.append(struct.pack(">ii", sid, len(ops)) + ops)
                self.targets[struct.pack(">I", sid)] = struct.pack(">I", mapping[sid])
        self.program = b"".join(program)
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
        span = F.call_udf("graft_walk", F.col("value"), F.lit(self.program))
        return env.select("value", "partition", "offset", "timestamp", span.alias(_SPAN))

    def accepted(self, walked: DataFrame) -> DataFrame:
        """The target envelope (``KAFKA_ENVELOPE``) of the rows the walker
        vouches for, built in the JVM."""
        span, value = F.col(_SPAN), F.col("value")
        start = F.shiftright(span, 32).cast("int")
        end = span.bitwiseAND(0xFFFFFFFF).cast("int")
        target = F.lit(None).cast("binary")
        for source, dest in self.targets.items():
            target = F.when(value.substr(2, 4) == F.lit(source), F.lit(dest)).otherwise(target)
        return walked.filter(span >= 0).select(
            F.concat(F.lit(self.key_frame), value.substr(start + 1, end - start)).alias("key"),
            F.concat(F.lit(avro_codec.MAGIC), target, value.substr(6, 2**31 - 1)).alias("value"),
            F.lit(self.target_topic).alias("topic"),
            "partition",
            "offset",
            "timestamp",
        )

    def declined(self, walked: DataFrame) -> DataFrame:
        """The full path's output (``self.schema``) for every row the
        walker declines."""
        return walked.filter(F.col(_SPAN) < 0).drop(_SPAN).mapInArrow(
            self._fallback, schema=self.schema)

    def transform(self, env: DataFrame) -> DataFrame:
        """Both halves over a static ``env``, as one DataFrame. A JVM-only
        job counts the declined rows first (one parallel pass; ``isEmpty``
        would scan partitions in waves): a Python stage costs its fixed
        price even over 0 rows, so a clean ``env`` gets the rewrite alone."""
        walked = self.walk(env)
        fast = self.accepted(walked)
        if self.route:
            fast = fast.withColumn("error", F.lit(None).cast("string"))
        if not walked.filter(F.col(_SPAN) < 0).count():
            return fast
        return fast.unionByName(self.declined(walked))


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
    ``ReplicationPlan``, with the full decode → re-encode as the fallback
    for every record the rewrite cannot vouch for. The (partition, offset,
    timestamp) columns pass through untouched for downstream dedup/audit.

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
    return ReplicationPlan(
        env.sparkSession, schemas_by_id, target_topic, key_schema_id, id_mapping, on_error
    ).transform(env)


def plan_replication(
    env: DataFrame,
    source_registry: MockSchemaRegistry,
    target_registry: MockSchemaRegistry,
    target_topic: str,
    value_schema=None,
    on_error: str = "abort",
) -> DataFrame:
    """``ReplicationPlan.from_registries`` (the registry propagation) +
    ``replicate_transform`` over a static ``env``."""
    return ReplicationPlan.from_registries(
        env.sparkSession, source_registry, target_registry, target_topic, value_schema,
        on_error,
    ).transform(env)


# ---------------------------------------------------------------------------
# R7–R9: transactional sink, batch barrier, post-commit ack
# ---------------------------------------------------------------------------
def committed_marker(target_dir: str, batch_id: int) -> str:
    return os.path.join(target_dir, "commits", str(batch_id))


def _write_parquet(df: DataFrame, target_dir: str, batch_id: int, mode: str) -> None:
    # no dictionaries: keys, values and offsets are unique per record, so
    # parquet would build each dictionary only to drop it
    df.write.mode(mode).option("parquet.enable.dictionary", "false").parquet(
        os.path.join(target_dir, "data", str(batch_id))
    )


def batch_writer(plan: ReplicationPlan, main_dir: str, dlq_dir: str | None = None):
    """foreachBatch body over ``plan.walk`` batches: write-then-commit-
    marker, idempotent on replay. ``dlq_dir`` is given in route mode only.

    - the rows the walker vouches for land in <main_dir>/data/<batch_id>/
      (overwrite), in one job that also counts the declined rows;
    - only if that count is above 0 does a second job run ``_reencode``
      over the declined rows: in abort mode they are appended to the same
      dir, or the job raises the first failing row's error; in route mode
      they are materialized once, the good ones appended to the main dir
      and the classified ones written to <dlq_dir>/data/<batch_id>/ (a
      batch with none removes that dir, left by an earlier attempt);
    - task failures abort the whole write (the R8 barrier); ONE commit
      marker under ``main_dir`` is created atomically AFTER every write
      succeeded (R7 transaction commit), so a batch commits both sinks or
      neither;
    - a replayed batch (crash between marker and checkpoint ack) sees its
      marker and skips — effectively-exactly-once downstream; a replay of
      an uncommitted batch overwrites its partial data dirs;
    - Structured Streaming acks the checkpoint only after this returns
      (R9 post-commit offset ack).
    """
    if (dlq_dir is not None) != plan.route:
        raise ValueError("a dead-letter dir goes with an on_error='route' plan, and only then")

    def write(batch_df: DataFrame, batch_id: int) -> None:
        marker = committed_marker(main_dir, batch_id)
        if os.path.exists(marker):
            return  # replay of a committed batch: idempotent skip
        declined = Observation()
        counted = batch_df.observe(declined, F.count_if(F.col(_SPAN) < 0).alias("n"))
        _write_parquet(plan.accepted(counted), main_dir, batch_id, "overwrite")
        if declined.get["n"]:
            slow = plan.declined(batch_df)
            if dlq_dir is None:
                _write_parquet(slow, main_dir, batch_id, "append")
            else:
                slow = slow.localCheckpoint(eager=True)  # the split reads it twice
                good = slow.filter(F.col("error").isNull()).drop("error")
                _write_parquet(good, main_dir, batch_id, "append")
                _write_parquet(slow.filter(F.col("error").isNotNull()), dlq_dir, batch_id,
                               "overwrite")
        elif dlq_dir is not None:
            # a replay whose first attempt routed rows that now pass (a
            # schema registered in between): its dead letters must not commit
            shutil.rmtree(os.path.join(dlq_dir, "data", str(batch_id)), ignore_errors=True)
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            f.write("committed")
        os.rename(tmp, marker)  # atomic commit point

    return write


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
    but bad records are routed (``on_error="route"``) and ``batch_writer``
    commits the main and dead-letter sinks under one marker. ``corrupt``
    optionally maps the envelope DataFrame before the transform (test
    harnesses inject deterministic corruption there)."""
    env = spark.readStream.schema(KAFKA_ENVELOPE).parquet(source_dir)
    if corrupt is not None:
        env = corrupt(env)
    plan = ReplicationPlan.from_registries(
        spark, source_registry, target_registry, target_topic, value_schema, on_error="route"
    )
    _drain(plan.walk(env), batch_writer(plan, main_dir, dlq_dir), checkpoint_dir, timeout_sec)


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
    plan = ReplicationPlan.from_registries(
        spark, source_registry, target_registry, target_topic, value_schema
    )
    try:
        _drain(plan.walk(env), batch_writer(plan, target_dir), checkpoint_dir, timeout_sec)
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
