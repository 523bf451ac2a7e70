"""Replication pipeline as driver-checkable queries.

The batch-path query is ORACLE-CHECKED: Foo records are synthesized from
the nation table (id = nationkey, name = nation name), pushed through the
full encode → replicate (decode, re-key, re-encode) → consume path, and
the decoded output must equal a trivial SELECT over nation — so the whole
Avro/Confluent/registry machinery is hash-verified, not just smoke-run.
The streaming-path query runs the R1–R9 pipeline (checkpoint, foreachBatch
transactional sink, read-committed consumer) end to end, rows-only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import replication as R
from ..sources.registry import MockSchemaRegistry
from ..streaming.replay import SCRATCH, scratch_tag
from . import query


def _nation_records(spark: SparkSession, sf_dir: str) -> list[dict]:
    rows = load_table(spark, sf_dir, "nation").orderBy("n_nationkey").collect()
    # 25 dimension rows: a fixture-parameter fetch, not a data collect.
    return [{"id": str(r["n_nationkey"]), "name": r["n_name"]} for r in rows]


def _staged_source(spark: SparkSession, sf_dir: str, registry: MockSchemaRegistry) -> str:
    """Deterministic source-topic fixture, written once per sf and reused
    (content depends only on nation + FOO_SCHEMA; a fresh registry
    always assigns the same first schema id, so the frames are stable)."""
    sf_tag = scratch_tag(sf_dir, ("nation",))
    src_dir = os.path.join(SCRATCH, "replq", sf_tag, "source-topic-a")
    if os.path.exists(os.path.join(src_dir, "_SUCCESS")):
        registry.register("source-topic-a-value", R.FOO_SCHEMA)  # same id 1
    else:
        R.write_envelope_fixture(
            spark,
            _nation_records(spark, sf_dir),
            src_dir,
            "source-topic-a",
            registry,
            R.FOO_SCHEMA,
        )
    return src_dir


def _corrupt(env: DataFrame) -> DataFrame:
    """Deterministic in-plan corruption of a source envelope: offset % 7
    == 0 → frame truncated to 3 bytes (an unparseable frame, the
    ``decode_error`` class); offset % 7 == 3 → schema-id field rewritten
    to 999 (a registry miss, the ``unknown_schema`` class)."""
    return env.withColumn(
        "value",
        F.when(F.col("offset") % 7 == 0, F.expr("substring(value, 1, 3)"))
        .when(
            F.col("offset") % 7 == 3,
            F.concat(
                F.expr("substring(value, 1, 1)"),
                F.lit(bytes([0, 0, 3, 231])),  # schema id 999
                F.expr("substring(value, 6, 2147483647)"),
            ),
        )
        .otherwise(F.col("value")),
    )


def _staged_corrupt_source(spark: SparkSession, sf_dir: str, registry: MockSchemaRegistry) -> str:
    """``_staged_source``'s topic with ``_corrupt`` applied, written once
    next to it (``source-topic-a-corrupt``) and reused."""
    src_dir = _staged_source(spark, sf_dir, registry)
    bad_dir = src_dir + "-corrupt"
    if not os.path.exists(os.path.join(bad_dir, "_SUCCESS")):
        _corrupt(spark.read.schema(R.KAFKA_ENVELOPE).parquet(src_dir)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(bad_dir)
    return bad_dir


@query(
    "replication_batch_roundtrip",
    oracle="""
        SELECT CAST(n_nationkey AS VARCHAR) AS kafka_key,
               CAST(n_nationkey AS VARCHAR) AS id,
               n_name AS name
        FROM nation
    """,
    tags=("replication", "avro"),
)
def replication_batch_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3–R6 in batch mode, oracle-verified: nation → Foo records →
    Confluent-framed Avro source envelope → replicate transform (decode,
    extract id, re-key, re-encode under the target registry) → consumer
    decode. Output key/fields must hash-match SELECT ... FROM nation."""
    src_reg, tgt_reg = MockSchemaRegistry(), MockSchemaRegistry()
    src_dir = _staged_source(spark, sf_dir, src_reg)
    env = spark.read.schema(R.KAFKA_ENVELOPE).parquet(src_dir)
    out = R.plan_replication(env, src_reg, tgt_reg, "target-topic-b", R.FOO_SCHEMA)
    decoded = R.decode_envelope(out, tgt_reg.snapshot(), R.FOO_SCHEMA)
    return decoded.select("kafka_key", "id", "name")


@query("replication_stream_live", oracle=None, tags=("replication", "avro", "live"))
def replication_stream_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full R1–R9 streaming pipeline: envelope-dir source (Kafka
    stand-in) → decode/re-key/encode → foreachBatch write-then-commit-
    marker sink with checkpointing → read-committed consumer decode.
    Rows-only (sink layout is engine-defined); the pytest golden test
    asserts the key==value.id contract on this exact path."""
    src_reg, tgt_reg = MockSchemaRegistry(), MockSchemaRegistry()
    base = R.run_dir()
    src_dir = _staged_source(spark, sf_dir, src_reg)
    tgt_dir = os.path.join(base, "target-topic-b")
    ckpt = os.path.join(base, "ckpt")
    R.replicate_stream(
        spark, src_dir, tgt_dir, src_reg, tgt_reg,
        "target-topic-b", R.FOO_SCHEMA, ckpt,
    )
    out_env = R.read_committed(spark, tgt_dir)
    return R.decode_envelope(out_env, tgt_reg.snapshot(), R.FOO_SCHEMA).select(
        "kafka_key", "id", "name", "topic", "offset"
    )


@query(
    "replication_stream_roundtrip",
    oracle="""
        SELECT CAST(n_nationkey AS VARCHAR) AS kafka_key,
               CAST(n_nationkey AS VARCHAR) AS id,
               n_name AS name
        FROM nation
    """,
    tags=("replication", "avro", "streaming"),
)
def replication_stream_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.3 capability statement, driver-hash-verified end to end on
    the STREAMING path: envelope-dir source (Kafka stand-in, R1) →
    read-committed filter (R2) → Confluent-Avro decode with registry
    dispatch (R3) → extract value.id (R4) → re-key key = str(id) (R5) →
    re-encode + auto-register on the target registry (R6) → foreachBatch
    transactional commit-marker sink with checkpointing (R7–R8, offsets
    acked post-commit R9) → read-committed consumer decode. The decoded
    target topic must hash-match ``SELECT ... FROM nation`` exactly —
    every record exactly once, key == value.id (mirrors
    reference ReplicationApplicationTest.java:118-124)."""
    src_reg, tgt_reg = MockSchemaRegistry(), MockSchemaRegistry()
    base = R.run_dir()
    src_dir = _staged_source(spark, sf_dir, src_reg)
    tgt_dir = os.path.join(base, "target-topic-b")
    ckpt = os.path.join(base, "ckpt")
    R.replicate_stream(
        spark, src_dir, tgt_dir, src_reg, tgt_reg,
        "target-topic-b", R.FOO_SCHEMA, ckpt,
    )
    out_env = R.read_committed(spark, tgt_dir)
    return R.decode_envelope(out_env, tgt_reg.snapshot(), R.FOO_SCHEMA).select(
        "kafka_key", "id", "name"
    )


@query(
    "replication_evolved_consumer",
    oracle="""
        SELECT CAST(n_nationkey AS VARCHAR) AS id,
               n_name AS name,
               CASE WHEN n_nationkey % 2 = 0 THEN 'untagged'
                    ELSE 'r' || CAST(n_regionkey AS VARCHAR) END AS tag
        FROM nation
    """,
    tags=("replication", "avro", "evolution"),
)
def replication_evolved_consumer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-schema-version topic read by an EVOLVED consumer, end to end
    and hash-verified: even nation keys are produced under Foo v1, odd
    keys under v2 (adds `tag` with default 'untagged'); the consumer
    decodes every record with its per-record writer schema (Confluent
    frame id -> registry snapshot) and resolves onto the v2 reader, so
    v1 records surface the default — registry BACKWARD compatibility on
    the real envelope path, not just the codec unit test. Decoded by the
    shared consumer decoder (``decode_envelope``) with the v2 reader; the
    registry snapshot is taken at plan time."""
    import datetime as dt

    from ..functions import avro_codec

    reg = MockSchemaRegistry()
    sid1 = reg.register("source-topic-a-value", R.FOO_SCHEMA)
    sid2 = reg.register("source-topic-a-value", R.FOO_SCHEMA_V2)
    rows = []
    for i, r in enumerate(
        load_table(spark, sf_dir, "nation").orderBy("n_nationkey").collect()
    ):  # 25 dimension rows: fixture production, not a data collect
        if r["n_nationkey"] % 2 == 0:
            payload = avro_codec.serialize_confluent(
                {"id": str(r["n_nationkey"]), "name": r["n_name"]},
                R.FOO_SCHEMA,
                sid1,
            )
        else:
            payload = avro_codec.serialize_confluent(
                {
                    "id": str(r["n_nationkey"]),
                    "name": r["n_name"],
                    "tag": f"r{r['n_regionkey']}",
                },
                R.FOO_SCHEMA_V2,
                sid2,
            )
        rows.append(
            (None, payload, "source-topic-a", 0, i, dt.datetime(2024, 1, 1))
        )
    env = spark.createDataFrame(rows, R.KAFKA_ENVELOPE)
    return R.decode_envelope(env, reg.snapshot(), R.FOO_SCHEMA_V2).select(
        "id", "name", "tag"
    )


@query(
    "replication_dlq_routing",
    oracle="""
        WITH d AS (
            SELECT n_nationkey AS off,
                   CASE WHEN n_nationkey % 7 = 0 THEN 'decode_error'
                        WHEN n_nationkey % 7 = 3 THEN 'unknown_schema'
                        ELSE 'ok' END AS disposition
            FROM nation
        )
        SELECT disposition,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(off) AS BIGINT) AS min_offset,
               CAST(MAX(off) AS BIGINT) AS max_offset,
               CASE WHEN disposition = 'ok'
                    THEN CAST(COUNT(DISTINCT off) AS BIGINT) END
                 AS n_distinct_ids
        FROM d GROUP BY disposition
    """,
    tags=("replication", "avro", "dlq"),
)
def replication_dlq_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing, oracle-verified: the clean nation-derived
    source topic is corrupted IN-PLAN deterministically (``_corrupt``),
    then the replicate transform in route mode (operators/replication.py
    ``plan_replication(..., on_error="route")``) routes each record: good
    ones re-key/re-encode as usual, bad ones pass through with an error
    class. The query emits per-disposition accounting, with the good
    rows' decoded ids counted through the full consumer decode — so the
    oracle verifies BOTH that exactly the corrupted offsets land in the
    DLQ with the right classification AND that the surviving records
    still replicate byte-correctly.

    The reference's semantics on a bad record is abort-the-batch
    (ReplicationApplication.java:71 NPE → transaction abort; mirrored by
    ``on_error="abort"`` + pytest test_missing_id_aborts_batch); this
    query is the DLQ production mode of the same transform: the JVM walker
    and rewrite, plus the declined rows' ``_reencode`` job.
    Scale shape: corruption + routing are per-row map work; the
    accounting is one 3-group aggregate.
    """
    src_reg, tgt_reg = MockSchemaRegistry(), MockSchemaRegistry()
    src_dir = _staged_source(spark, sf_dir, src_reg)
    env = _corrupt(spark.read.schema(R.KAFKA_ENVELOPE).parquet(src_dir))
    out = R.plan_replication(
        env, src_reg, tgt_reg, "target-topic-b", R.FOO_SCHEMA, on_error="route"
    )
    good = R.decode_envelope(
        out.filter(F.col("error").isNull()).drop("error"),
        tgt_reg.snapshot(),
        R.FOO_SCHEMA,
    ).select(F.col("offset"), F.col("id"))
    acc_bad = (
        out.filter(F.col("error").isNotNull())
        .groupBy(F.col("error").alias("disposition"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("offset").cast("bigint").alias("min_offset"),
            F.max("offset").cast("bigint").alias("max_offset"),
            F.lit(None).cast("bigint").alias("n_distinct_ids"),
        )
    )
    acc_good = good.agg(
        F.lit("ok").alias("disposition"),
        F.count("*").cast("bigint").alias("n"),
        F.min("offset").cast("bigint").alias("min_offset"),
        F.max("offset").cast("bigint").alias("max_offset"),
        F.countDistinct("id").cast("bigint").alias("n_distinct_ids"),
    )
    return acc_bad.unionAll(acc_good)


@query(
    "replication_stream_dlq",
    oracle=None,
    tags=("replication", "avro", "dlq", "live"),
)
def replication_stream_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dead-letter R1–R9 pipeline END TO END in streaming mode: the
    source topic corrupted deterministically (``_staged_corrupt_source``,
    the replication_dlq_routing classes) is replicated in route mode
    (``replicate_stream`` with a ``dlq_dir``: the JVM walker and rewrite,
    plus the declined rows' ``_reencode`` job), and committed through the
    two-sink batch-atomic ``batch_writer(plan, main_dir, dlq_dir)`` (one
    marker covers the main write AND the dead-letter write). The query
    then reads BOTH
    committed sinks back and emits per-disposition accounting with the
    good rows' ids verified through the consumer decode.

    Rows-only (sink layout is engine-defined); the batch twin
    ``replication_dlq_routing`` hash-verifies the identical routing
    against the nation oracle, and pytest covers the class taxonomy.
    """
    src_reg, tgt_reg = MockSchemaRegistry(), MockSchemaRegistry()
    base = R.run_dir()
    src_dir = _staged_corrupt_source(spark, sf_dir, src_reg)
    main_dir = os.path.join(base, "target-topic-b")
    ckpt = os.path.join(base, "ckpt")
    dlq_dir = os.path.join(base, "target-topic-b-dlq")
    R.replicate_stream(
        spark, src_dir, main_dir, src_reg, tgt_reg,
        "target-topic-b", R.FOO_SCHEMA, ckpt, dlq_dir=dlq_dir,
    )
    good = R.decode_envelope(
        R.read_committed(spark, main_dir), tgt_reg.snapshot(), R.FOO_SCHEMA
    )
    bad = R.read_committed(
        spark, dlq_dir, marker_dir=main_dir, schema=R.DLQ_ENVELOPE
    )
    acc_bad = bad.groupBy(F.col("error").alias("disposition")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("offset").cast("bigint").alias("min_offset"),
        F.countDistinct("offset").cast("bigint").alias("n_distinct"),
    )
    acc_good = good.agg(
        F.lit("ok").alias("disposition"),
        F.count("*").cast("bigint").alias("n"),
        F.min("offset").cast("bigint").alias("min_offset"),
        F.countDistinct("id").cast("bigint").alias("n_distinct"),
    )
    return acc_bad.unionAll(acc_good)
