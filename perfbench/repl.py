"""The replication workload: a closed-loop backfill drain through the
strict path.

It calls only the program's public replication API (``replicate_stream``,
``plan_replication``, ``read_committed``, ``decode_envelope``) and its
schema registry and codec modules.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import harness
import inputs as I
import verify as V

STREAM_TIMEOUT_S = 150
# Drains per run: at least MIN_DRAINS, then more until ``--seconds`` have
# passed, at most MAX_DRAINS. Throughput is their median.
MIN_DRAINS, MAX_DRAINS = 5, 10


class RegistryProxy:
    """Wraps a schema registry and counts and times the calls the
    replication layer makes into it."""

    def __init__(self, inner) -> None:
        self.inner = inner
        self.register_calls = 0
        self.snapshot_s = 0.0

    def register(self, subject, schema):
        self.register_calls += 1
        return self.inner.register(subject, schema)

    def snapshot(self):
        t = time.perf_counter()
        try:
            return self.inner.snapshot()
        finally:
            self.snapshot_s += time.perf_counter() - t

    def __getattr__(self, name):
        return getattr(self.inner, name)


def registries():
    """A fresh source registry holding the topic's schemas, and a fresh
    empty target registry behind a counting proxy."""
    from avro_topic_replication_spark.sources.registry import MockSchemaRegistry

    src = MockSchemaRegistry()
    for want, schema in I.SOURCE_SCHEMAS:
        got = src.register(f"{I.SOURCE_TOPIC}-value", schema)
        if got != want:
            raise RuntimeError(f"source registry gave id {got}, inputs framed with {want}")
    return RegistryProxy(src), RegistryProxy(MockSchemaRegistry())


def target_ids(target: RegistryProxy) -> "tuple[int, dict[int, int]]":
    """(key schema id, source schema id -> target schema id) as the target
    registry holds them after replication. Registration is idempotent, so
    asking again returns the existing ids."""
    reg = target.inner
    key = reg.register(f"{I.TARGET_TOPIC}-key", "string")
    return key, {sid: reg.register(f"{I.TARGET_TOPIC}-value", schema)
                 for sid, schema in I.SOURCE_SCHEMAS}


class Dirs:
    """Fresh target and checkpoint directories."""

    def __init__(self, base: str) -> None:
        self.main = os.path.join(base, "target")
        self.ckpt = os.path.join(base, "checkpoint")


def warm_backfill(spark, cache_dir: str, run_dir: str) -> None:
    """One small replication of the warm-up topic."""
    from avro_topic_replication_spark.operators import replication as R

    d = Dirs(os.path.join(run_dir, "warm"))
    src, tgt = registries()
    R.replicate_stream(spark, os.path.join(cache_dir, "warm"), d.main, src, tgt,
                       I.TARGET_TOPIC, I.FOO_V1, d.ckpt, timeout_sec=STREAM_TIMEOUT_S)


def run_backfill(spark, cache_dir: str, run_dir: str, seconds: float,
                 tracer: harness.Tracer) -> dict:
    """Drain the pre-filled topic again and again, each time on a fresh
    target and checkpoint, until ``seconds`` have passed (at least
    ``MIN_DRAINS`` and at most ``MAX_DRAINS`` drains)."""
    from avro_topic_replication_spark.operators import replication as R

    topic = os.path.join(cache_dir, "topic")
    drains = []
    start = time.time()
    while len(drains) < MIN_DRAINS or (
            len(drains) < MAX_DRAINS and time.time() - start < seconds):
        i = len(drains)
        d = Dirs(os.path.join(run_dir, f"drain-{i}"))
        src, tgt = registries()
        with tracer.span("replication.replicate_stream", trace_id=f"drain-{i}"):
            t0 = time.time()
            R.replicate_stream(spark, topic, d.main, src, tgt, I.TARGET_TOPIC,
                               I.FOO_V1, d.ckpt, timeout_sec=STREAM_TIMEOUT_S)
            t1 = time.time()
        drains.append({"dirs": d, "t0": t0, "t1": t1, "src": src, "tgt": tgt})
    return {"drains": drains}


def verify_backfill(cache_dir: str, res: dict) -> V.Report:
    """Verify every drain against the topic's truth."""
    truth = pq.read_table(os.path.join(cache_dir, "truth.parquet"))
    total = V.Report(0, 0)
    for dr in res["drains"]:
        key, tids = target_ids(dr["tgt"])
        rep = V.verify(V.read_replica(dr["dirs"].main), truth, key, tids)
        total.attempted += rep.attempted
        total.failed += rep.failed
        for k, v in rep.problems.items():
            total.problems[k] = total.problems.get(k, 0) + v
    return total


def backfill_layers(spark, cache_dir: str, run_dir: str, res: dict,
                    tracer: harness.Tracer) -> dict:
    """Traced run only: the transform alone, the read side, the codec on
    one thread, and the registry counters."""
    from avro_topic_replication_spark.functions import avro_codec
    from avro_topic_replication_spark.operators import replication as R

    out = {}
    topic = os.path.join(cache_dir, "topic")
    n = pq.read_metadata(os.path.join(cache_dir, "truth.parquet")).num_rows
    src, tgt = registries()
    with tracer.span("replication.transform_only", trace_id="layers"):
        t = time.perf_counter()
        env = spark.read.schema(R.KAFKA_ENVELOPE).parquet(topic)
        R.plan_replication(env, src, tgt, I.TARGET_TOPIC, I.FOO_V1).write.format(
            "noop").mode("overwrite").save()
        out["replication.transform_only_s"] = time.perf_counter() - t

    main = res["drains"][-1]["dirs"].main
    with tracer.span("replication.consume", trace_id="layers"):
        t = time.perf_counter()
        with tracer.span("replication.read_committed", trace_id="layers"):
            env = R.read_committed(spark, main)
        t1 = time.perf_counter()
        with tracer.span("replication.decode_envelope", trace_id="layers"):
            R.decode_envelope(env, res["drains"][-1]["tgt"].inner.snapshot(),
                              I.FOO_V1).write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
    out["replication.read_committed_s"] = t1 - t
    out["replication.decode_envelope_s"] = t2 - t1
    out["replication.consume_records_per_s"] = n / (t2 - t)

    first = res["drains"][0]
    out["registry.register_calls"] = float(first["src"].register_calls + first["tgt"].register_calls)
    out["registry.snapshot_s"] = first["src"].snapshot_s + first["tgt"].snapshot_s
    out.update(codec_layers(avro_codec, pq.read_table(
        os.path.join(cache_dir, "truth.parquet"), columns=["value"]).column("value"),
        tracer))
    return out


CODEC_SAMPLE = 100_000  # records timed on one thread in the traced run


def codec_layers(avro_codec, values: pa.ChunkedArray, tracer: harness.Tracer) -> dict:
    """Single-threaded decode and re-encode rates of the program's codec
    over the first ``CODEC_SAMPLE`` records of the workload, and the mean
    value size over all of them."""
    snapshot = dict(I.SOURCE_SCHEMAS)
    vals = values.slice(0, CODEC_SAMPLE).to_pylist()
    with tracer.span("avro_codec.deserialize", trace_id="layers"):
        t = time.perf_counter()
        decoded = [avro_codec.deserialize_confluent(v, snapshot) for v in vals]
        dt_d = time.perf_counter() - t
    with tracer.span("avro_codec.serialize", trace_id="layers"):
        t = time.perf_counter()
        for sid, rec in decoded:
            avro_codec.serialize_confluent(rec, snapshot[sid], sid)
        dt_s = time.perf_counter() - t
    return {
        "avro_codec.deserialize_rec_per_s": len(vals) / dt_d,
        "avro_codec.serialize_rec_per_s": len(decoded) / dt_s,
        "avro_codec.value_bytes_mean": float(pc.mean(pc.binary_length(values)).as_py()),
    }
