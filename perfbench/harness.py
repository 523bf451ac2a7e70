"""Process environment, session set-up, memory and tracing for one run.

Nothing here reaches into the program: it sets the launch environment,
calls the program's public functions, reads kernel counters from
``/proc`` and listens through Spark's public listener and event-log
interfaces.
"""

from __future__ import annotations

import glob
import json
import os
import shlex
import statistics
import subprocess
import time
from contextlib import contextmanager

# Cores and heap the program is launched with. Pinned so that one run's
# figures compare with another's; the heap also keeps the benchmark small
# on a shared host. The heap is fixed (-Xms = -Xmx) and touched in full at
# launch, so that the JVM's share of peak_rss_mb does not depend on how far
# the garbage collector happened to grow it.
CPUS = min(4, os.cpu_count() or 4)
DRIVER_MEM = "2g"


def configure_env(work: str, trace: bool) -> str:
    """Point every scratch location of Spark, the JVM and the Python
    workers into ``work``, before pyspark starts a JVM. With ``trace`` the
    JVM also writes an uncompressed event log; returns its directory."""
    evdir = os.path.join(work, "eventlog")
    tmp = os.path.join(work, "tmp")
    for d in (evdir, tmp, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    conf = [
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        conf += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{evdir}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=shlex.join(conf + ["pyspark-shell"]),
    )
    return evdir


def stop_session(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    try:
        proc.stdin.close()
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def median(values) -> float:
    return statistics.median(values)


# ---------------------------------------------------------------------------
# peak memory: kernel high-water marks, read once
# ---------------------------------------------------------------------------
def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass  # the process ended between listing and reading
    return 0


def _children(pid: int) -> "list[int]":
    """All live descendants of ``pid``, found through /proc parent links."""
    parent = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                text = f.read()
        except OSError:
            continue
        fields = text[text.rindex(")") + 2:].split()
        parent[int(stat.split("/")[2])] = int(fields[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def peak_rss_mb(spark) -> "dict[str, float]":
    """VmHWM in MiB of this Python driver, of the JVM and summed over the
    JVM's live descendants (the Python worker daemon and its workers), and
    their total."""
    jvm = spark.sparkContext._gateway.proc.pid
    out = {
        "memory.driver_mb": _vm_hwm_kb(os.getpid()) / 1024.0,
        "memory.jvm_mb": _vm_hwm_kb(jvm) / 1024.0,
        "memory.workers_mb": sum(_vm_hwm_kb(p) for p in _children(jvm)) / 1024.0,
    }
    out["peak_rss_mb"] = sum(out.values())
    return out


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------
class Tracer:
    """In-memory spans: name, start, end, parent span id and a trace id
    shared by the spans of one drain, query or run. Disabled tracers record
    nothing and cost one attribute check per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: "list[dict]" = []
        self._stack: "list[int]" = []

    @contextmanager
    def span(self, name: str, trace_id: str = "run"):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "trace": trace_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(with_self_times(self.spans), f)


def self_time(span: dict, children: "list[dict]") -> float:
    """The span's duration minus the part of it its children cover
    (overlapping children are counted once)."""
    lo, hi = span["start"], span["end"]
    ivs = sorted((max(lo, c["start"]), min(hi, c["end"])) for c in children)
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered


def with_self_times(spans: "list[dict]") -> "list[dict]":
    kids: "dict[int, list]" = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    return [dict(s, self=self_time(s, kids.get(s["id"], []))) for s in spans]


# ---------------------------------------------------------------------------
# Spark listener and event log
# ---------------------------------------------------------------------------
PHASES = ("triggerExecution", "addBatch", "walCommit", "commitOffsets",
          "latestOffset", "queryPlanning", "getBatch")


def make_listener():
    """A StreamingQueryListener that keeps each micro-batch's durationMs."""
    from pyspark.sql.streaming import StreamingQueryListener

    class PhaseListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: "list[dict]" = []

        def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            p = event.progress
            self.progress.append({
                "batchId": p.batchId, "rows": p.numInputRows,
                "durationMs": dict(p.durationMs), "received": time.time(),
            })

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

    return PhaseListener()


def drain_listener(listener, expected: int, timeout: float = 10.0) -> None:
    """Listener events ride an asynchronous bus: wait until ``expected``
    progress events arrived or the count stays put for half a second."""
    deadline = time.monotonic() + timeout
    seen = -1
    while time.monotonic() < deadline and len(listener.progress) < expected:
        if len(listener.progress) == seen:
            return
        seen = len(listener.progress)
        time.sleep(0.5)


def stream_metrics(progress: "list[dict]", cycle_walls_ms: "list[float]") -> dict:
    """Per-batch p50 and sums of each phase, batches, rows per batch, and
    the query start-up time: cycle wall time minus trigger execution."""
    out = {}
    for ph in PHASES:
        vals = [p["durationMs"].get(ph, 0) for p in progress] or [0]
        out[f"stream.{ph}_ms"] = float(median(vals))
        out[f"stream.{ph}_ms_sum"] = float(sum(vals))
    out["stream.batches"] = float(len(progress))
    out["stream.rows_per_batch_p50"] = float(median([p["rows"] for p in progress] or [0]))
    trig = sum(p["durationMs"].get("triggerExecution", 0) for p in progress)
    out["stream.query_start_ms"] = max(0.0, sum(cycle_walls_ms) - trig) / max(1, len(cycle_walls_ms))
    return out


def event_log_metrics(evdir: str, t0: float, t1: float) -> dict:
    """Jobs, stages and task metrics from the uncompressed event log, for
    work launched in the wall-clock window [t0, t1] (epoch seconds)."""
    lo, hi = t0 * 1000.0, t1 * 1000.0
    jobs = stages = tasks = 0
    run_ms = cpu_ns = gc_ms = rd = wr = 0
    for path in glob.glob(os.path.join(evdir, "**"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs += lo <= ev.get("Submission Time", 0) <= hi
                elif kind == "SparkListenerStageCompleted":
                    stages += lo <= ev["Stage Info"].get("Submission Time", 0) <= hi
                elif kind == "SparkListenerTaskEnd":
                    if not lo <= ev["Task Info"]["Launch Time"] <= hi:
                        continue
                    m = ev.get("Task Metrics") or {}
                    tasks += 1
                    run_ms += m.get("Executor Run Time", 0)
                    cpu_ns += m.get("Executor CPU Time", 0)
                    gc_ms += m.get("JVM GC Time", 0)
                    r = m.get("Shuffle Read Metrics") or {}
                    rd += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                    wr += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return {
        "spark.jobs": float(jobs), "spark.stages": float(stages),
        "spark.tasks": float(tasks), "spark.executor_run_s": run_ms / 1e3,
        "spark.executor_cpu_s": cpu_ns / 1e9, "spark.jvm_gc_s": gc_ms / 1e3,
        "spark.shuffle_read_mb": rd / 2**20, "spark.shuffle_write_mb": wr / 2**20,
    }
