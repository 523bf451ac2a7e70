"""Benchmark of the replicator and the query registry.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads:

- ``repl_backfill``: closed-loop drains of a pre-filled 300k-record topic
  through the strict path (``replicate_stream``, availableNow), repeated
  for ``--seconds`` (at least five times);
- ``query_mix``: passes of a fixed stratified sample of the query registry
  over a seeded star schema, through the noop sink, repeated for
  ``--seconds`` (at least two).

Every run is a fresh process. Inputs are generated from ``--seed`` (cached
per seed under ``.perfbench/cache``) before any clock starts. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). A traced run also writes its spans
to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402
import inputs as I  # noqa: E402
import querymix  # noqa: E402
import repl  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("repl_backfill", "query_mix")

E2E = {  # name -> unit
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "throughput_per_s": "1/s",
}
PER_LAYER = {
    "session.import_s": "s",
    "session.get_spark_s": "s",
    "session.warm_s": "s",
    "registry.register_calls": "count",
    "registry.snapshot_s": "s",
    "avro_codec.deserialize_rec_per_s": "1/s",
    "avro_codec.serialize_rec_per_s": "1/s",
    "avro_codec.value_bytes_mean": "B",
    "replication.transform_only_s": "s",
    "replication.read_committed_s": "s",
    "replication.decode_envelope_s": "s",
    "replication.consume_records_per_s": "1/s",
    **{f"stream.{p}_ms": "ms" for p in harness.PHASES},
    **{f"stream.{p}_ms_sum": "ms" for p in harness.PHASES},
    "stream.query_start_ms": "ms",
    "stream.batches": "count",
    "stream.rows_per_batch_p50": "count",
    "queries.build_s": "s",
    "queries.execute_s": "s",
    **{f"queries.{f}.{p}": "s" for f in querymix.FAMILIES for p in ("build_s", "execute_s")},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "memory.driver_mb": "MB",
    "memory.jvm_mb": "MB",
    "memory.workers_mb": "MB",
    **{f"traced.{m}": u for m, u in E2E.items()},
}


class BenchError(RuntimeError):
    """The checkout cannot run the benchmark."""


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def check_program() -> None:
    """Fail fast when the checkout does not hold the program."""
    sys.path.insert(0, ROOT)
    for mod in ("pyspark", "avro_topic_replication_spark"):
        if importlib.util.find_spec(mod) is None:
            raise BenchError(f"cannot import {mod} from {ROOT}")


def cache_dir(args) -> str:
    """Build (once per seed) the workload's inputs and return their path."""
    cache = I.InputCache(os.path.join(WORK, "cache"))
    if args.workload == "repl_backfill":
        return cache.get("backfill", args.seed, lambda p: I.build_backfill(p, args.seed),
                         tag=f"-n{I.BACKFILL_RECORDS}-w{I.WARM_BACKFILL_RECORDS}")
    return cache.get("tables", args.seed, lambda p: I.build_tables(p, args.seed),
                     tag=f"-sf{I.QUERY_SF}")


def prepare(args) -> str:
    """Generate inputs in a child process, so that the generator's memory
    never shows in this process's high-water mark."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--prepare"]
    out = subprocess.run(cmd, check=True, capture_output=True, text=True, timeout=600)
    return out.stdout.strip().splitlines()[-1]


# ---------------------------------------------------------------------------
# set-up: the program's session plus a warm-up of the timed pipeline
# ---------------------------------------------------------------------------
def set_up(args, cache: str, run_dir: str):
    t0 = time.perf_counter()
    from avro_topic_replication_spark.session import get_spark

    if args.workload == "repl_backfill":
        import avro_topic_replication_spark.operators.replication  # noqa: F401
    else:
        from avro_topic_replication_spark.queries import all_queries

        all_queries()  # loads every query module
    t1 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    t2 = time.perf_counter()
    if args.workload == "repl_backfill":
        repl.warm_backfill(spark, cache, run_dir)
    else:
        querymix.warm(spark, cache)
    t3 = time.perf_counter()
    return spark, {"setup_s": t3 - t0, "session.import_s": t1 - t0,
                   "session.get_spark_s": t2 - t1, "session.warm_s": t3 - t2}


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------
def workload_backfill(args, spark, cache, run_dir, tracer, listener, out) -> "tuple[int, int]":
    t0 = time.time()
    res = repl.run_backfill(spark, cache, run_dir, args.seconds, tracer)
    t1 = time.time()
    out.update(harness.peak_rss_mb(spark))
    walls = [d["t1"] - d["t0"] for d in res["drains"]]
    n = pq.read_metadata(os.path.join(cache, "truth.parquet")).num_rows
    out["throughput_per_s"] = harness.median([n / w for w in walls])
    if args.trace:
        harness.drain_listener(listener, len(walls))
        out.update(harness.stream_metrics(listener.progress, [w * 1e3 for w in walls]))
        out["window"] = (t0, t1)
        out.update(repl.backfill_layers(spark, cache, run_dir, res, tracer))
    harness.stop_session(spark)
    rep = repl.verify_backfill(cache, res)
    out["drains"] = float(len(walls))
    out["problems"] = rep.problems
    return rep.attempted, rep.failed


def workload_mix(args, spark, cache, run_dir, tracer, listener, out) -> "tuple[int, int]":
    t0 = time.time()
    res = querymix.run_mix(spark, cache, args.seconds, tracer)
    t1 = time.time()
    out.update(harness.peak_rss_mb(spark))
    walls = [r["wall_s"] for r in res["queries"]]
    out["throughput_per_s"] = len(walls) / sum(walls)
    out["passes"] = float(res["passes"])
    if args.trace:
        out.update(querymix.mix_layers(res))
        out["window"] = (t0, t1)
        out.update(harness.stream_metrics(listener.progress, []))
    t = time.perf_counter()
    failed, problems = querymix.verify_mix(spark, cache, res, ROOT)
    out["verify_s"] = time.perf_counter() - t
    harness.stop_session(spark)
    out["problems"] = problems
    return len(walls), failed


RUNNERS = {"repl_backfill": workload_backfill, "query_mix": workload_mix}


def main(argv) -> int:
    args = parse_args(argv)
    try:
        check_program()
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    if args.prepare:
        print(cache_dir(args))
        return 0
    t = time.perf_counter()
    cache = prepare(args)
    print(f"perfbench: inputs ready in {time.perf_counter() - t:.2f} s", file=sys.stderr)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return measure(args, cache, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, cache: str, run_dir: str) -> int:
    evdir = harness.configure_env(run_dir, bool(args.trace))
    tracer = harness.Tracer(bool(args.trace))
    with tracer.span("session.setup"):
        spark, setup = set_up(args, cache, run_dir)
    listener = None
    if args.trace:
        listener = harness.make_listener()
        spark.streams.addListener(listener)
    out: dict = dict(setup)
    with tracer.span(f"workload.{args.workload}"):
        attempted, failed = RUNNERS[args.workload](
            args, spark, cache, run_dir, tracer, listener, out)
    problems = out.pop("problems", {})
    window = out.pop("window", None)
    print("perfbench: " + json.dumps({k: round(v, 4) for k, v in out.items()
                                      if isinstance(v, float)}), file=sys.stderr)
    if any(problems.values()):
        print(f"perfbench: verification problems: {json.dumps(problems)[:2000]}",
              file=sys.stderr)

    if args.trace:
        out.update(harness.event_log_metrics(evdir, *window))
        report_overhead(args, out)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.write(os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json"))
    else:
        save_untraced(args, {k: out[k] for k in E2E})
    print(json.dumps(result_line(out, bool(args.trace), attempted, failed)))
    return 0 if failed == 0 else 1


def result_line(out: dict, trace: bool, attempted: int, failed: int) -> dict:
    """The last line of a run: every end-to-end metric, or with ``trace``
    every per-layer metric (the end-to-end ones as ``traced.*``; a layer
    the workload does not use reads 0), each with its unit."""
    if trace:
        out = dict(out, **{f"traced.{k}": out[k] for k in E2E})
        metrics = {k: (out.get(k, 0.0), u) for k, u in PER_LAYER.items()}
    else:
        metrics = {k: (out[k], u) for k, u in E2E.items()}
    return {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def _result_path(args) -> str:
    return os.path.join(WORK, "results", f"{args.workload}-s{args.seed}-untraced.json")


def save_untraced(args, metrics: dict) -> None:
    os.makedirs(os.path.dirname(_result_path(args)), exist_ok=True)
    with open(_result_path(args), "w") as f:
        json.dump(metrics, f)


def report_overhead(args, out: dict) -> None:
    """Tracing overhead: traced minus untraced value of each end-to-end
    metric, against the last untraced run of the same workload and seed."""
    try:
        with open(_result_path(args)) as f:
            base = json.load(f)
    except FileNotFoundError:
        print("perfbench: no untraced run of this seed; overhead not reported",
              file=sys.stderr)
        return
    diff = {k: out[k] - base[k] for k in E2E}
    print(f"perfbench: tracing overhead (traced - untraced): {json.dumps(diff)}",
          file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
