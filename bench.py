#!/usr/bin/env python
"""Benchmark harness: time every registered query at $SPARK_GRAFT_SF_DIR.

Prints exactly one COMPACT JSON line on stdout (the last line), guaranteed
under ~1500 characters so a consumer that captures only a stdout tail still
sees the whole line:
    {"metric": "...", "value": N, "unit": "sec", "sf": ..., "n_queries": N,
     "failures": {...}, "queries": {<10 slowest>: sec}}

The FULL per-query timing map is written to BENCH_FULL.json next to this
script. Each query is materialized through the noop sink — full execution on
the cluster, zero driver-side collection — so the timing measures the plan,
not the transfer. Spark/JVM chatter goes to stderr; stdout carries only the
JSON line so the driver's parser always finds it.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys
import time


def _sf_dir_and_sf() -> "tuple[str, float | None]":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)/?$", sf_dir)
    return sf_dir, (float(m.group(1)) if m else None)


def _warm(spark, sf_dir: str) -> None:
    """Pay one-time session costs (JVM, parquet footers, the Python/Arrow
    worker pool) outside any timed section."""
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    from pyspark.sql.functions import col, pandas_udf  # noqa: PLC0415
    from pyspark.sql.functions import PandasUDFType  # noqa: PLC0415

    w = pandas_udf(lambda s: s * 1.0, "double", PandasUDFType.SCALAR)
    spark.range(100_000).select(w(col("id"))).write.format("noop").mode(
        "overwrite"
    ).save()


def _isolated_child(name: str) -> int:
    """One timing of one query in THIS fresh process; prints one JSON line.

    PLANS.md r7 showed shared-session full-bench timings swing >1.5x on
    identical code for sub-2s queries (accumulated broadcasts, JVM/GC
    state, codegen caches). A child process = a fresh JVM, so the number
    is the query's cold-plan steady cost, comparable across rounds.
    """
    sf_dir, _ = _sf_dir_and_sf()
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from avro_topic_replication_spark.queries import all_queries
    from avro_topic_replication_spark.session import get_spark

    q = all_queries()[name]
    spark = get_spark(app_name=f"bench-isolated-{name}")
    _warm(spark, sf_dir)
    t0 = time.perf_counter()
    q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    sec = round(time.perf_counter() - t0, 4)
    spark.stop()
    print(json.dumps({"name": name, "sec": sec}))
    return 0


def _isolated_min3(
    name: str, deadline: "float | None" = None
) -> "tuple[float | None, str | None]":
    """min-of-3 fresh-JVM timings of one query: (min_sec, error).

    A partial min (child failed or deadline hit before 3 runs) is
    DISCARDED — a min-of-fewer-than-3 is not protocol-comparable, so
    returning it would poison BENCH_ISOLATED.json baselines and drift
    verdicts (ADVICE r10). ``deadline`` (time.monotonic terms) bounds
    each child via subprocess timeout AND gates starting the next one,
    so one hung child can't stall the bench past its recheck budget."""
    script = os.path.abspath(__file__)
    runs: list[float] = []
    for _ in range(3):
        timeout = None
        if deadline is not None:
            timeout = deadline - time.monotonic()
            if timeout <= 0:
                return None, "recheck budget exhausted mid-protocol"
        try:
            r = subprocess.run(
                [sys.executable, script, "--isolated-child", name],
                capture_output=True,
                text=True,
                timeout=timeout,
            )
        except subprocess.TimeoutExpired:
            return None, "isolated child hit recheck-budget timeout"
        if r.returncode != 0:
            # A SIGKILLed child (e.g. OOM) emits no stderr; an empty error
            # string reads falsy downstream, so coalesce to the exit code.
            err = r.stderr.strip()[-200:]
            return None, err or f"child exited {r.returncode}"
        runs.append(json.loads(r.stdout.strip().splitlines()[-1])["sec"])
    return min(runs), None


def _isolated_parent(names: "list[str]") -> int:
    """min-of-3 over fresh-JVM child runs per query; the cross-round
    comparison protocol (BENCH_ISOLATED.json + one JSON line)."""
    sf_dir, sf = _sf_dir_and_sf()
    script = os.path.abspath(__file__)
    timings: dict[str, float] = {}
    failures: dict[str, str] = {}
    for name in names:
        t, err = _isolated_min3(name)
        if err is not None:
            failures[name] = err
        if t is not None:
            timings[name] = t
            print(f"isolated {name}: min = {t}", file=sys.stderr)
    result = _write_isolated(os.path.dirname(script), sf, timings, failures,
                             clobber_other_sf=True)
    print(json.dumps(result))
    return 0 if not failures else 1


def _load_prev_run(script_dir: str, sf: "float | None") -> "dict | None":
    """The same-sf per-query baseline to drift against: the PER-QUERY
    MEDIAN over the last (up to) 5 BENCH_HISTORY.json runs timed on this
    host (``_host_fingerprint``), else None. Timings from another host
    (other cores or memory, or an entry that predates the fingerprint)
    are never a baseline: they would flag the host, not the code.

    A single-run baseline ping-pongs: sub-2s min-of-3 timings still swing
    ~2x across runs on identical code (r12 measured 69 flags against the
    single r11 run, most of them r11's own flags mirrored back as
    "improvements"). A short median absorbs one outlier run in either
    direction while a real plan regression — which persists — still
    drifts every subsequent run against it."""
    hist_path = os.path.join(script_dir, "BENCH_HISTORY.json")
    try:
        runs = json.load(open(hist_path)).get("runs", [])
    except Exception:
        return None
    host = _host_fingerprint()
    recent = [r["queries"] for r in runs
              if r.get("sf") == sf and r.get("host") == host and r.get("queries")][-5:]
    if not recent:
        return None
    names = set().union(*recent)
    return {
        n: round(statistics.median([q[n] for q in recent if n in q]), 4)
        for n in names
    }


def _control_factor(prev: "dict | None",
                    timings: "dict[str, float]") -> "float | None":
    """Per-run container-weather index: the MEDIAN now/prev ratio over
    every query both runs timed at >=0.3s. PLANS.md r10 measured the
    shuffle-heavy registry head running 15-25% slow on one round's host
    while byte-identical control queries held — a whole-suite median is
    that control, robust to any single query actually regressing (a real
    regression moves its own ratio, not the median of ~200)."""
    if not prev:
        return None
    ratios = sorted(
        now / prev[name]
        for name, now in timings.items()
        if prev.get(name, 0) >= 0.3 and now >= 0.3
    )
    if len(ratios) < 10:  # too few shared slow queries to call weather
        return None
    return round(statistics.median(ratios), 4)


# Physical-plan markers of the Python/Arrow worker path. PLANS.md r11
# measured container weather hitting the two execution paths UNEQUALLY:
# every big raw regression that round was an Arrow/Python-worker query
# (3-3.8x) while JVM codegen queries held or improved — one suite-wide
# median can't normalize a path-specific slowdown, so each path gets its
# own control cohort.
_PY_PLAN_MARKERS = (
    "EvalPython",       # BatchEvalPython / ArrowEvalPython (scalar UDFs)
    "InPandas",         # MapInPandas / FlatMapGroupsInPandas / CoGroup
    "InArrow",          # PythonMapInArrow / FlatMapGroupsInArrow
    "AggregatePython",  # ArrowAggregatePython (pandas grouped-agg, Spark 4)
    "(Python)",         # BatchScan <name>[...] (Python) — Python datasource
)
# Nodes that mean "the work happened BEFORE this plan" (localCheckpoint
# in an iterative JVM loop, or rows materialized Python-side and handed
# to createDataFrame) — the final plan is silent about which path did
# that work, so classification falls back to the query's tags.
_PY_ORIGIN_MARKERS = ("ExistingRDD", "MapPartitions")
_PY_FALLBACK_TAGS = frozenset(
    ("udf", "multimodal", "avro", "replication", "scoring", "ml", "live")
)


def _query_path(df, tags: "tuple[str, ...]") -> str:
    """Classify one query's dominant execution path: "py" if its physical
    plan crosses the Python/Arrow worker boundary (or it is a live
    streaming query, whose real work — often applyInPandasWithState —
    happens in a separate streaming plan the returned batch result does
    not expose), else "jvm". Plans that only show pre-materialized input
    (ExistingRDD from a localCheckpointed JVM loop vs. a Python-built
    result look identical) defer to the query's tags."""
    if "live" in tags:
        return "py"
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception:
        return "jvm"
    if any(m in plan for m in _PY_PLAN_MARKERS):
        return "py"
    if any(m in plan for m in _PY_ORIGIN_MARKERS):
        return "py" if _PY_FALLBACK_TAGS.intersection(tags) else "jvm"
    return "jvm"


def _control_factors(prev: "dict | None", timings: "dict[str, float]",
                     paths: "dict[str, str] | None") -> "dict":
    """Container-weather medians per execution-path cohort, with the
    suite-wide median as both the "all" entry and the fallback for a
    cohort too small to call (<10 shared >=0.3s queries)."""
    allf = _control_factor(prev, timings)
    out = {"all": allf, "py": allf, "jvm": allf}
    for cohort in ("py", "jvm"):
        sub = {n: t for n, t in timings.items()
               if (paths or {}).get(n) == cohort}
        f = _control_factor(prev, sub)
        if f is not None:
            out[cohort] = f
    return out


def _host_fingerprint(meminfo: str = "/proc/meminfo") -> dict:
    """The host a run was timed on, kept with each history entry so that
    timings from different hosts are never compared unawares: its CPUs,
    the cores Spark runs on (``local[N]``) and its memory (None where
    ``meminfo`` cannot be read)."""
    from avro_topic_replication_spark.session import default_parallelism

    try:
        with open(meminfo) as f:
            kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        mem_total_mb = kib // 1024
    except (OSError, StopIteration, ValueError, IndexError):
        mem_total_mb = None
    return {"cpus": os.cpu_count(), "spark_cpus": default_parallelism(),
            "mem_total_mb": mem_total_mb}


def _record_history(script_dir: str, sf: "float | None",
                    timings: "dict[str, float]",
                    control_factor: "float | dict | None" = None,
                    paths: "dict[str, str] | None" = None) -> None:
    """Append this run to BENCH_HISTORY.json. The last 12 runs PER SF are
    kept (a global cap would let interleaved other-sf runs evict every
    same-sf baseline and silently no-op the drift check — ADVICE r10)."""
    hist_path = os.path.join(script_dir, "BENCH_HISTORY.json")
    hist: dict = {"runs": []}
    try:
        hist = json.load(open(hist_path))
        hist.setdefault("runs", [])
    except Exception:
        pass
    run: dict = {
        "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "sf": sf,
        "total": round(sum(timings.values()), 4),
        # 'control_factor' stays a FLOAT across the whole file (older
        # entries predate cohort factors); the per-cohort map gets its
        # own plural key, mirroring BENCH_DRIFT.json.
        "control_factor": (control_factor.get("all")
                           if isinstance(control_factor, dict)
                           else control_factor),
        "queries": timings,
        "host": _host_fingerprint(),
    }
    if isinstance(control_factor, dict):
        run["control_factors"] = control_factor
    if paths:
        run["paths"] = paths
    hist["runs"].append(run)
    keep: list = []
    seen_per_sf: dict = {}
    for r in reversed(hist["runs"]):
        k = r.get("sf")
        if seen_per_sf.get(k, 0) < 12:
            keep.append(r)
            seen_per_sf[k] = seen_per_sf.get(k, 0) + 1
    hist["runs"] = list(reversed(keep))
    with open(hist_path, "w") as f:
        json.dump(hist, f, indent=1, sort_keys=True)


def _write_isolated(script_dir: str, sf: "float | None",
                    timings: "dict[str, float]",
                    failures: "dict[str, str]", *,
                    clobber_other_sf: bool) -> "dict | None":
    """Merge (timings, failures) into BENCH_ISOLATED.json for ``sf`` —
    the ONE writer of that file (--isolated re-baselining and the
    drift-recheck seeding both go through here, so the supersede/totals
    rules can't diverge). An entry run this invocation fully supersedes
    its prior entry in BOTH maps: a now-green query must not keep a
    phantom prior failure, a now-failing one must not keep a stale
    timing in the total. A prior file tracking a DIFFERENT sf is
    replaced whole only under ``clobber_other_sf`` (explicit --isolated
    re-baselining at a new scale factor); the recheck-seeding path
    passes False so it can never destroy another sf's baselines.
    A prior file timed on another host, or on no recorded host, is no
    baseline here (``_drift_check`` ignores it), so it is replaced whole
    on either path. Returns the written dict, or None if the write was
    refused."""
    path = os.path.join(script_dir, "BENCH_ISOLATED.json")
    host = _host_fingerprint()
    prior = None
    try:
        prior = json.load(open(path))
    except Exception:
        pass
    if prior is not None and prior.get("host") != host:
        prior = None
    if prior is not None and prior.get("sf") == sf:
        ran = set(timings) | set(failures)
        timings = {**{k: v for k, v in prior.get("queries", {}).items()
                      if k not in ran}, **timings}
        failures = {**{k: v for k, v in prior.get("failures", {}).items()
                       if k not in ran}, **failures}
    elif prior is not None and not clobber_other_sf:
        return None
    result = {
        "metric": "isolated_min_of_3",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "sf": sf,
        "host": host,
        "n_queries": len(timings),
        "failures": failures,
        "queries": timings,
    }
    with open(path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    return result


def _drift_check(prev: "dict | None", timings: "dict[str, float]",
                 script_dir: str, sf: "float | None",
                 paths: "dict[str, str] | None" = None) -> "dict":
    """Flag >1.5x in-suite moves vs the previous same-sf run and re-check
    the regressions under the isolated fresh-JVM min-of-3 protocol, so
    suite-context noise (GC state, accumulated broadcasts, run order) is
    machine-separated from real plan regressions instead of judge-caught
    (r9: text_bpe_encode 0.22->1.98s and graph_common_neighbors
    4.97->6.67s were both in-suite artifacts). Sub-0.5s timings are
    noise-dominated and never flagged.

    Verdicts compare ISOLATED-to-ISOLATED (this recheck vs the query's
    prior BENCH_ISOLATED.json entry, timed on this host) — fresh-JVM
    numbers sit well above warm-suite numbers by protocol (PLANS.md), so comparing the recheck
    against the in-suite prev would call every recheck "real". The
    caller must terminate the suite JVM before invoking this (a resident
    bench heap next to the recheck children inflated a 6.7s isolated
    query to 46.6s, measured). Writes BENCH_DRIFT.json.

    The flag rule is CONTROL-NORMALIZED: each ratio is divided by the
    run's container-weather median (``_control_factor``) before the 1.5x
    test, so a uniformly 1.2x-slow host doesn't burn recheck budget on
    phantom regressions (r10: the whole shuffle-heavy head read 15-25%
    slow while controls held). Normalization is PER EXECUTION-PATH
    COHORT when ``paths`` is given (PLANS.md r11: one container ran the
    Python-worker path ~1.7x slow while JVM codegen held — the suite
    median mis-flagged byte-identical Arrow queries as "real"). Raw
    ratios are recorded alongside."""
    cfs = _control_factors(prev, timings, paths)
    flagged: list[dict] = []
    for name, now in timings.items():
        old = (prev or {}).get(name)
        if old is None:
            continue
        path = (paths or {}).get(name, "all")
        cf = cfs.get(path) or cfs["all"]
        adj = old * (cf if cf else 1.0)
        hi, lo = max(now, adj), min(now, adj)
        # Size-tiered threshold keyed on the BASELINE (adj), not the
        # noisy run: >=2s queries are run-to-run stable to ~1.2x, so
        # 1.5x is signal there; sub-2s min-of-3 timings swing ~2x
        # two-sided on identical code (r10 measured 4x tails; r12: a
        # flat 1.5x flagged 69 queries, nearly all last round's flags
        # mirrored back), so small-BASELINE queries only flag past 2.5x
        # — a 1.2-1.9s query spiking over 2s is exactly the noise class
        # the small tier exists for and must not leak into the 1.5x rule
        # (r12 live run: 2 of 3 rechecks burned on that leak, both came
        # back not-real).
        # (hi >= 0.5 keeps sub-half-second noise out entirely, and keeps
        # a tiny-baseline query that spikes large eligible for the 2.5x
        # small tier.)
        if lo > 0 and hi >= 0.5 and (
            hi / lo > (1.5 if adj >= 2.0 else 2.5)
        ):
            flagged.append({
                "name": name, "prev": old, "now": now,
                "path": path,
                "ratio": round(now / old, 2),
                "ratio_normalized": round(now / adj, 2),
                "direction": "regression" if now > adj else "improvement",
            })
    flagged.sort(key=lambda d: -max(d["prev"], d["now"]))
    iso_prior: dict = {}
    try:
        iso = json.load(open(os.path.join(script_dir, "BENCH_ISOLATED.json")))
        # a baseline only from this host: another host's timings would
        # judge the host, not the query
        if iso.get("sf") == sf and iso.get("host") == _host_fingerprint():
            iso_prior = iso.get("queries", {})
    except Exception:
        pass
    rechecked = 0
    # Rechecks ride the same invocation the round driver times: bound
    # them by wall clock (not just count) so a slow flagged query can't
    # push the whole bench past an external timeout.
    recheck_deadline = time.monotonic() + float(
        os.environ.get("SPARK_GRAFT_BENCH_RECHECK_BUDGET_S", "240")
    )
    if os.environ.get("SPARK_GRAFT_BENCH_NO_RECHECK") != "1":
        regressions = [f for f in flagged if f["direction"] == "regression"]
        # Regressions past the count cap get an explicit disposition too
        # (ADVICE r11): an unmarked flagged row is indistinguishable from
        # a row that was never a regression.
        for rest in regressions[4:]:
            rest["isolated_err"] = "recheck count cap"
        for i, d in enumerate(regressions[:4]):
            if time.monotonic() > recheck_deadline:
                # Mark EVERY remaining eligible regression, not just the
                # first (ADVICE r10): an unmarked flagged row is
                # indistinguishable from never-eligible.
                for rest in regressions[i:4]:
                    rest["isolated_err"] = "recheck budget exhausted"
                break
            t, err = _isolated_min3(d["name"], deadline=recheck_deadline)
            d["isolated_min3"] = t
            base = iso_prior.get(d["name"])
            if err is not None:
                d["isolated_err"] = err
            elif t is not None and base:
                d["isolated_prev"] = base
                d["verdict"] = (
                    "real" if t > base * 1.5 else "isolated-stable"
                )
            elif t is not None:
                d["verdict"] = "no-isolated-baseline"
                # The recheck just paid for a protocol-valid min-of-3 —
                # persist it so the NEXT flag on this query concludes
                # instead of rendering no-isolated-baseline again (both
                # r10 rechecks and one per round since burned budget on
                # queries outside the seeded set).
                iso_prior[d["name"]] = t
                _write_isolated(script_dir, sf, {d["name"]: t}, {},
                                clobber_other_sf=False)
            rechecked += 1
            print(f"drift recheck {d['name']}: in-suite {d['prev']}->"
                  f"{d['now']}, isolated min3 = {t} vs prior {base} "
                  f"({d.get('verdict', 'n/a')})", file=sys.stderr)
    report = {"sf": sf, "threshold": 1.5, "min_sec": 2.0,
              "small_threshold": 2.5, "small_min_sec": 0.5,
              "control_factor": cfs["all"], "control_factors": cfs,
              "compared_against_prev_run": prev is not None,
              "flagged": flagged, "rechecked": rechecked}
    with open(os.path.join(script_dir, "BENCH_DRIFT.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    return report


def main() -> int:
    sf_dir, sf = _sf_dir_and_sf()

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from avro_topic_replication_spark.queries import all_queries
    from avro_topic_replication_spark.session import get_spark

    script_dir = os.path.dirname(os.path.abspath(__file__))
    # The drift baseline is read before the retry pass, which uses it to
    # re-measure in-suite drift in place.
    prev_run = _load_prev_run(script_dir, sf)

    spark = get_spark(app_name="bench")
    _warm(spark, sf_dir)

    paths: dict[str, str] = {}

    def run_once(q) -> float:
        t0 = time.perf_counter()
        df = q.fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        sec = round(time.perf_counter() - t0, 4)
        if q.name not in paths:  # classification is outside the timing
            paths[q.name] = _query_path(df, q.tags)
        return sec

    queries = {n: q for n, q in sorted(all_queries().items()) if "bench_skip" not in q.tags}
    timings: dict[str, float] = {}
    failures: dict[str, str] = {}
    for i, (name, q) in enumerate(queries.items()):
        try:
            timings[name] = run_once(q)
        except Exception as e:  # a broken query must not kill the bench
            failures[name] = f"{type(e).__name__}: {e}"[:200]
            print(f"bench: {name} FAILED: {failures[name]}", file=sys.stderr)
        finally:
            # Evict per-query persisted lineage so later queries aren't
            # timed under the accumulated memory pressure of earlier ones.
            spark.catalog.clearCache()
            # Spark's ContextCleaner only releases accumulated broadcast
            # blocks / shuffle state on a DRIVER GC, and a 16 GiB heap may
            # never collect during a ~300 s bench — late queries otherwise
            # run under every broadcast built since startup. Hygiene, not
            # a measured speedup (PLANS.md r7: run-to-run host noise
            # dominates sub-2s timings); runs outside the timed sections.
            if (i + 1) % 50 == 0:
                spark._jvm.System.gc()

    # Queries whose first run was slow mostly paid one-time costs (codegen
    # of a large expression tree, scratch-fixture staging, state-store
    # directory creation). Re-run those up to twice more and keep the min
    # (min-of-3) so the recorded number is the query's steady-state cost,
    # not startup or GC noise. The same protection extends to any query
    # whose first run drifted >1.5x over ITS OWN previous-run time
    # (history-aware): sub-2s single-shot timings swing 2-4x on identical
    # code (measured r10 — median run-over-run ratio 1.07 with two-sided
    # 4x tails), so a noisy sample is re-measured in place instead of
    # being recorded and flagged as drift.
    _cfs = _control_factors(prev_run, timings, paths)
    retry = [
        name
        for name, t in timings.items()
        if t >= 2.0
        or (
            t >= 0.5
            and prev_run is not None
            and name in prev_run
            and prev_run[name] > 0
            and t > 1.5 * prev_run[name]
            * (_cfs.get(paths.get(name, "all")) or _cfs["all"] or 1.0)
        )
    ]
    for name in sorted(retry, key=lambda n: -timings[n]):
        for _ in range(2):
            try:
                timings[name] = min(timings[name], run_once(queries[name]))
            except Exception:
                break  # keep the best timing so far
            finally:
                spark.catalog.clearCache()

    total = round(sum(timings.values()), 4)
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    result = {
        "metric": "total_query_wall_time",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "failures": {k: v[:80] for k, v in list(failures.items())[:5]},
        "queries": slowest,
    }
    full = {**result, "queries": timings, "failures": failures,
            "paths": paths}
    with open(os.path.join(script_dir, "BENCH_FULL.json"), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    gateway = getattr(getattr(spark, "_sc", None), "_gateway", None)
    spark.stop()
    # spark.stop() leaves the gateway JVM resident with the whole bench
    # heap; the fresh-JVM drift-recheck children must not share the box
    # with it (measured: 6.7s isolated -> 46.6s next to the live heap).
    try:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.terminate()
                try:
                    proc.wait(timeout=10)
                except Exception:
                    proc.kill()
    except Exception:
        pass
    drift = _drift_check(prev_run, timings, script_dir, sf, paths)
    _record_history(script_dir, sf, timings,
                    drift.get("control_factors"), paths)
    result["drift_flagged"] = len(drift["flagged"])
    result["drift_rechecked"] = drift["rechecked"]
    line = json.dumps(result)
    if len(line) > 1500:  # hard guarantee: drop per-query detail before the line
        result["queries"] = {}
        line = json.dumps(result)
    print(line)
    return 0 if not failures else 1


def _isolated_top(n: int) -> int:
    """--isolated over the N slowest queries of the last full bench
    (BENCH_FULL.json) — the per-round regression-gate invocation."""
    full = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
    )
    timings = json.load(open(full))["queries"]
    names = [k for k, _ in sorted(timings.items(), key=lambda kv: -kv[1])[:n]]
    return _isolated_parent(names)


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--isolated-child":
        sys.exit(_isolated_child(sys.argv[2]))
    if len(sys.argv) > 2 and sys.argv[1] == "--isolated-top":
        sys.exit(_isolated_top(int(sys.argv[2])))
    if len(sys.argv) > 2 and sys.argv[1] == "--isolated":
        sys.exit(_isolated_parent(sys.argv[2:]))
    sys.exit(main())
