"""Golden binding the STREAMING DLQ arm to the driver-verified batch arm.

``replication_dlq_routing`` (batch) is hash-verified by the round driver
against the nation oracle (CORRECTNESS_r07: rows+schema+hash green). The
streaming twin ``replication_stream_dlq`` runs the same corruption classes
through the real two-sink batch-atomic writer and is rows-only by design
(its sink layout is engine-defined). This golden closes that gap: on the
SAME sf fixture, the stream arm's per-disposition accounting must equal
the batch arm's — count, min offset, and the ok-rows' distinct decoded
ids — so a regression in the streaming path (marker protocol, DLQ sink
schema, tolerant transform wiring) can no longer hide behind rows-only.
"""

from __future__ import annotations

import glob
import os

from tests.test_replication import dictionary_encoded_chunks

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_stream_dlq_accounting_equals_driver_green_batch_arm(spark):
    from avro_topic_replication_spark.operators import replication as R
    from avro_topic_replication_spark.queries import all_queries
    from avro_topic_replication_spark.streaming.replay import SCRATCH

    qs = all_queries()
    # stream runs only: the static arm's run dir has no checkpoint
    runs = os.path.join(SCRATCH, "replrun", "*", "ckpt")
    before = set(glob.glob(runs))
    batch = {
        r["disposition"]: r
        for r in qs["replication_dlq_routing"].fn(spark, SF_DIR).collect()
    }
    stream = {
        r["disposition"]: r
        for r in qs["replication_stream_dlq"].fn(spark, SF_DIR).collect()
    }

    # Identical disposition taxonomy (decode_error / unknown_schema / ok).
    assert set(batch) == set(stream) == {"decode_error", "unknown_schema", "ok"}

    for disp in sorted(batch):
        b, s = batch[disp], stream[disp]
        assert s["n"] == b["n"], disp
        assert s["min_offset"] == b["min_offset"], disp

    # Source offsets are unique, so the stream arm's distinct-offset count
    # on each DLQ class must equal the batch arm's row count — a DLQ sink
    # that duplicated or dropped rows across micro-batches would diverge.
    for disp in ("decode_error", "unknown_schema"):
        assert stream[disp]["n_distinct"] == batch[disp]["n"], disp

    # The good rows decode end-to-end in both arms: the stream arm's
    # distinct decoded ids (read back from the COMMITTED main sink) must
    # match the batch arm's driver-hash-verified count.
    assert stream["ok"]["n_distinct"] == batch["ok"]["n_distinct_ids"]

    # Both sinks of the stream arm were written without parquet
    # dictionaries (the run's scope dir is the one the query just made).
    (ckpt,) = set(glob.glob(runs)) - before
    run = os.path.dirname(ckpt)
    for sink in ("target-topic-b", "target-topic-b-dlq"):
        assert dictionary_encoded_chunks(os.path.join(run, sink)) == [], sink

    # The dead-letter sink is read committed through the main sink's
    # markers (the one marker per batch covers both writes): it holds
    # exactly the routed records, one row per corrupted source offset
    # with its class (``_corrupt``: offset % 7 == 0 truncated, == 3 an
    # unknown schema id).
    main, dlq = os.path.join(run, "target-topic-b"), os.path.join(run, "target-topic-b-dlq")

    def committed_dlq():
        df = R.read_committed(spark, dlq, marker_dir=main, schema=R.DLQ_ENVELOPE)
        return sorted((r["offset"], r["error"]) for r in df.select("offset", "error").collect())

    n_source = sum(b["n"] for b in batch.values())
    routed = [
        (o, "decode_error" if o % 7 == 0 else "unknown_schema")
        for o in range(n_source)
        if o % 7 in (0, 3)
    ]
    assert committed_dlq() == routed

    # A batch dir written before a crash, before its marker existed, stays
    # invisible — though a plain read of the sink's data dirs sees it.
    last = max(int(b) for b in os.listdir(os.path.join(main, "commits")) if b.isdigit())
    R.read_committed(spark, dlq, marker_dir=main, schema=R.DLQ_ENVELOPE).write.parquet(
        os.path.join(dlq, "data", str(last + 1))
    )
    everything = spark.read.schema(R.DLQ_ENVELOPE).parquet(os.path.join(dlq, "data", "*"))
    assert everything.count() == 2 * len(routed)
    assert committed_dlq() == routed
