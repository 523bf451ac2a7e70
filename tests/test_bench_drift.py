"""Unit tests for bench.py's cross-round drift tracking (r10-r12):
history persistence, median-of-history baseline resolution over the
same host's runs only, the size-tiered flag
rule, per-path-cohort control factors, and the same-host isolated-to-isolated
verdict baseline. Spark-free except the final plan-marker classification
test (which pins the physical node names `_query_path` greps for, so a
Spark upgrade renaming them fails loudly here instead of silently
merging the cohorts) — the recheck subprocess path is disabled via
SPARK_GRAFT_BENCH_NO_RECHECK so the rest runs in milliseconds."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest


@pytest.fixture()
def bench():
    spec = importlib.util.spec_from_file_location(
        "bench_under_test",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture()
def no_recheck(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_NO_RECHECK", "1")


def test_prev_run_reads_only_same_host_history(bench, tmp_path, no_recheck, monkeypatch):
    """The drift baseline comes from this host's same-sf history runs only:
    not from BENCH_FULL.json (it carries no host), not from a run timed on
    other cores or memory, not from an entry that predates the host
    fingerprint."""
    d = str(tmp_path)
    assert bench._load_prev_run(d, 0.1) is None
    json.dump({"sf": 0.1, "queries": {"a": 1.0}}, open(os.path.join(d, "BENCH_FULL.json"), "w"))
    assert bench._load_prev_run(d, 0.1) is None
    here = bench._host_fingerprint()
    other = {**here, "spark_cpus": here["spark_cpus"] + 28, "mem_total_mb": 131072}
    json.dump({"runs": [
        {"sf": 0.1, "queries": {"a": 5.0}},  # recorded before the fingerprint
        {"sf": 0.1, "queries": {"a": 6.0}, "host": other},
    ]}, open(os.path.join(d, "BENCH_HISTORY.json"), "w"))
    assert bench._load_prev_run(d, 0.1) is None
    bench._record_history(d, 0.1, {"a": 2.0})
    assert bench._load_prev_run(d, 0.1) == {"a": 2.0}
    # a different sf must not seed
    assert bench._load_prev_run(d, 0.01) is None
    # the host is the Spark core count too, not only the machine
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(here["spark_cpus"] + 1))
    assert bench._load_prev_run(d, 0.1) is None


def test_prev_run_is_median_of_recent_history(bench, tmp_path):
    """The drift baseline is the per-query median over the last 5 same-sf
    runs — one outlier run (fast OR slow) must not move it (r12: a
    single-run baseline mirrored every noisy flag back the next round).
    Queries present in only some runs take the median of their runs."""
    d = str(tmp_path)
    for v in [1.0, 1.0, 9.0, 1.0, 1.0]:  # one 9x outlier run
        bench._record_history(d, 0.1, {"a": v})
    bench._record_history(d, 0.1, {"a": 1.0, "b": 3.0})  # b: one run only
    base = bench._load_prev_run(d, 0.1)
    assert base["a"] == 1.0  # median over (9,1,1,1... last5) ignores outlier
    assert base["b"] == 3.0


def test_history_caps_at_12_runs(bench, tmp_path):
    d = str(tmp_path)
    for i in range(15):
        bench._record_history(d, 0.1, {"a": float(i)})
    runs = json.load(open(os.path.join(d, "BENCH_HISTORY.json")))["runs"]
    assert len(runs) == 12
    assert runs[-1]["queries"] == {"a": 14.0}


def test_drift_flag_rule(bench, tmp_path, no_recheck):
    d = str(tmp_path)
    prev = {"reg": 2.0, "imp": 2.0, "small_reg": 0.6, "small_noise": 1.0,
            "tiny": 0.1, "steady": 1.0}
    now = {"reg": 3.8, "imp": 0.9, "small_reg": 1.8, "small_noise": 1.8,
           "tiny": 0.3, "steady": 1.2, "new": 9.0}
    rep = bench._drift_check(prev, now, d, 0.1)
    by = {f["name"]: f for f in rep["flagged"]}
    # size-tiered: >=2s flags at 1.5x both directions; sub-2s needs 2.5x
    # (small_reg 3.0x flags, small_noise 1.8x is within sub-2s noise);
    # sub-0.5s and steady and no-prev never flag
    assert set(by) == {"reg", "imp", "small_reg"}
    assert by["reg"]["direction"] == "regression"
    assert by["imp"]["direction"] == "improvement"
    assert by["small_reg"]["direction"] == "regression"
    assert os.path.exists(os.path.join(d, "BENCH_DRIFT.json"))


def test_tier_keys_on_baseline_not_noisy_run(bench, tmp_path, no_recheck):
    """The size tier must be chosen by the BASELINE, not max(now, adj):
    a sub-2s query whose noisy run spikes past 2s is exactly the class
    the 2.5x tier exists for — keying on the spike leaked it into the
    1.5x rule (r12 live run: text_quality_classifier 1.60->2.89 and
    profile_table_columns 1.18->2.43 burned 2 of 3 rechecks, both
    not-real). A tiny baseline spiking LARGE must still flag via the
    small tier."""
    prev = {"leak": 1.6, "leak2": 1.18, "real_small": 1.0, "tiny_spike": 0.2,
            "big": 2.5}
    now = {"leak": 2.89, "leak2": 2.43, "real_small": 2.6, "tiny_spike": 5.0,
           "big": 4.0}
    rep = bench._drift_check(prev, now, str(tmp_path), 0.1)
    by = {f["name"]: f for f in rep["flagged"]}
    # leak/leak2 (1.8x/2.06x on sub-2s baselines) stay unflagged even
    # though the spike crosses 2s; >=2.5x on small baselines and >=1.5x
    # on >=2s baselines still flag.
    assert set(by) == {"real_small", "tiny_spike", "big"}


def test_drift_verdict_uses_isolated_baseline(bench, tmp_path, monkeypatch):
    d = str(tmp_path)
    json.dump(
        {"sf": 0.1, "queries": {"q": 8.0}, "host": bench._host_fingerprint()},
        open(os.path.join(d, "BENCH_ISOLATED.json"), "w"),
    )
    monkeypatch.delenv("SPARK_GRAFT_BENCH_NO_RECHECK", raising=False)
    calls = []

    def fake_min3(name, deadline=None):
        calls.append(name)
        return 9.0, None  # above in-suite prev*1.5, below isolated*1.5

    monkeypatch.setattr(bench, "_isolated_min3", fake_min3)
    rep = bench._drift_check({"q": 2.0}, {"q": 4.0}, d, 0.1)
    (f,) = rep["flagged"]
    assert calls == ["q"]
    # 9.0 <= 8.0 * 1.5: isolated-stable, NOT "real" — the verdict must
    # compare isolated-to-isolated, never fresh-JVM-to-warm-suite
    assert f["verdict"] == "isolated-stable"
    assert f["isolated_prev"] == 8.0

def test_recheck_wall_budget_bounds_the_bench(bench, tmp_path, monkeypatch):
    """A zero recheck budget must stop before the first recheck — the
    round driver times the whole bench invocation, so rechecks may never
    push it unboundedly past the suite's own wall time."""
    d = str(tmp_path)
    monkeypatch.delenv("SPARK_GRAFT_BENCH_NO_RECHECK", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RECHECK_BUDGET_S", "-1")
    calls = []
    monkeypatch.setattr(
        bench,
        "_isolated_min3",
        lambda n, deadline=None: calls.append(n) or (1.0, None),
    )
    rep = bench._drift_check({"q": 2.0, "r": 2.0}, {"q": 4.0, "r": 5.0}, d, 0.1)
    assert calls == []
    # EVERY eligible-but-unrun regression is marked, not just the first
    # (ADVICE r10): an unmarked flagged row reads as never-eligible.
    assert len(rep["flagged"]) == 2
    assert all(
        f["isolated_err"] == "recheck budget exhausted" for f in rep["flagged"]
    )
    assert rep["rechecked"] == 0


def test_history_caps_per_sf_not_globally(bench, tmp_path):
    """Interleaved other-sf runs must not evict same-sf baselines
    (ADVICE r10: a global 12-run cap let sf0.01 runs silently no-op the
    sf0.1 drift check)."""
    d = str(tmp_path)
    for i in range(10):
        bench._record_history(d, 0.1, {"a": float(i)})
        bench._record_history(d, 0.01, {"a": float(i) / 10})
    runs = json.load(open(os.path.join(d, "BENCH_HISTORY.json")))["runs"]
    assert sum(1 for r in runs if r["sf"] == 0.1) == 10
    assert sum(1 for r in runs if r["sf"] == 0.01) == 10
    # baseline = per-query median over the last 5 same-sf runs (5..9 -> 7)
    assert bench._load_prev_run(d, 0.1) == {"a": 7.0}
    assert bench._load_prev_run(d, 0.01) == {"a": 0.7}
    for i in range(15):
        bench._record_history(d, 0.1, {"a": 100.0 + i})
    runs = json.load(open(os.path.join(d, "BENCH_HISTORY.json")))["runs"]
    assert sum(1 for r in runs if r["sf"] == 0.1) == 12
    assert sum(1 for r in runs if r["sf"] == 0.01) == 10  # survivors


def test_control_factor_normalizes_flags(bench, tmp_path, no_recheck):
    """A uniformly slow container (every query 2x) must flag NOTHING,
    while a query that moved beyond the weather (ratio 3.5 on a 2x-slow
    host = 1.75 normalized) still flags, with both ratios recorded."""
    prev = {f"q{i}": 1.0 for i in range(14)}
    now = {f"q{i}": 2.0 for i in range(14)}
    now["q0"] = 3.5
    assert bench._control_factor(prev, now) == 2.0
    rep = bench._drift_check(prev, now, str(tmp_path), 0.1)
    assert rep["control_factor"] == 2.0
    (f,) = rep["flagged"]
    assert f["name"] == "q0"
    assert f["direction"] == "regression"
    assert f["ratio"] == 3.5
    assert f["ratio_normalized"] == 1.75


def test_cohort_control_factors_separate_python_from_jvm(bench, tmp_path, no_recheck):
    """PLANS.md r11: one container ran the Python-worker path ~1.7x slow
    while JVM codegen held — the suite median mis-flagged byte-identical
    Arrow queries. With per-path cohorts, a uniform py-path slowdown
    flags NOTHING in the py cohort, a jvm query that moved beyond its own
    cohort's weather still flags, and the report carries both factors."""
    prev, now, paths = {}, {}, {}
    for i in range(12):
        prev[f"py{i}"], now[f"py{i}"], paths[f"py{i}"] = 1.0, 1.7, "py"
        prev[f"jvm{i}"], now[f"jvm{i}"], paths[f"jvm{i}"] = 1.0, 1.0, "jvm"
    # real move: 2.6x vs jvm cohort factor 1.0 — past the 2.5x small-
    # baseline tier (the 1.5x tier needs a >=2s baseline)
    now["jvm0"] = 2.6
    cfs = bench._control_factors(prev, now, paths)
    assert cfs["py"] == 1.7 and cfs["jvm"] == 1.0
    rep = bench._drift_check(prev, now, str(tmp_path), 0.1, paths)
    assert rep["control_factors"]["py"] == 1.7
    (f,) = rep["flagged"]
    assert f["name"] == "jvm0" and f["path"] == "jvm"
    # without cohorts the same data flags every py query as improvement-
    # vs-weather or misses jvm0 (suite median sits between the paths)
    rep_flat = bench._drift_check(prev, now, str(tmp_path), 0.1, None)
    assert len(rep_flat["flagged"]) != 1


def test_cohort_factor_falls_back_to_suite_median(bench):
    """A cohort with <10 shared >=0.3s queries cannot call its own
    weather — it inherits the suite-wide median."""
    prev = {f"q{i}": 1.0 for i in range(14)}
    now = {f"q{i}": 2.0 for i in range(14)}
    paths = {f"q{i}": ("py" if i < 3 else "jvm") for i in range(14)}
    cfs = bench._control_factors(prev, now, paths)
    assert cfs["all"] == 2.0
    assert cfs["py"] == 2.0  # fallback: only 3 py samples
    assert cfs["jvm"] == 2.0  # own cohort (11 samples) agrees here


def test_control_factor_needs_enough_samples(bench):
    """Fewer than 10 shared >=0.3s queries cannot call container weather
    — the factor must be None and flagging falls back to raw ratios."""
    prev = {"a": 1.0, "b": 1.0, "tiny": 0.1}
    assert bench._control_factor(prev, {"a": 2.0, "b": 2.0, "tiny": 0.2}) is None
    assert bench._control_factor(None, {"a": 2.0}) is None


def test_isolated_min3_discards_partial_runs(bench, monkeypatch):
    """A child failure mid-protocol must DISCARD the partial min (ADVICE
    r10: a min-of-fewer-than-3 masqueraded as protocol-valid in both
    BENCH_ISOLATED.json maps and skipped the drift verdict)."""
    import subprocess as sp

    calls = []

    def fake_run(cmd, capture_output, text, timeout=None):
        calls.append(timeout)

        class R:
            returncode = 0 if len(calls) < 2 else 1
            stdout = '{"name": "q", "sec": 1.0}'
            stderr = "boom"

        return R()

    monkeypatch.setattr(sp, "run", fake_run)
    t, err = bench._isolated_min3("q")
    assert t is None and err == "boom"
    assert len(calls) == 2


def test_no_baseline_recheck_seeds_the_baseline(bench, tmp_path, monkeypatch):
    """A recheck that renders no-isolated-baseline just paid for a
    protocol-valid min-of-3 — it must be persisted into
    BENCH_ISOLATED.json so the next flag on that query concludes."""
    d = str(tmp_path)
    host = bench._host_fingerprint()
    json.dump(
        {"sf": 0.1, "queries": {"other": 5.0}, "failures": {"q": "old"}, "host": host},
        open(os.path.join(d, "BENCH_ISOLATED.json"), "w"),
    )
    monkeypatch.delenv("SPARK_GRAFT_BENCH_NO_RECHECK", raising=False)
    monkeypatch.setattr(bench, "_isolated_min3", lambda n, deadline=None: (6.0, None))
    rep = bench._drift_check({"q": 2.0}, {"q": 4.0}, d, 0.1)
    (f,) = rep["flagged"]
    assert f["verdict"] == "no-isolated-baseline"
    iso = json.load(open(os.path.join(d, "BENCH_ISOLATED.json")))
    assert iso["queries"] == {"other": 5.0, "q": 6.0}
    assert iso["failures"] == {}  # a valid min supersedes a prior failure
    # second flag on the same query now concludes against the seeded value
    rep2 = bench._drift_check({"q": 2.0}, {"q": 4.0}, d, 0.1)
    (f2,) = rep2["flagged"]
    assert f2["verdict"] == "isolated-stable"
    # a different-sf baseline file is never clobbered
    json.dump(
        {"sf": 0.01, "queries": {"w": 1.0}, "host": host},
        open(os.path.join(d, "BENCH_ISOLATED.json"), "w"),
    )
    bench._drift_check({"q": 2.0}, {"q": 4.0}, d, 0.1)
    iso = json.load(open(os.path.join(d, "BENCH_ISOLATED.json")))
    assert iso == {"sf": 0.01, "queries": {"w": 1.0}, "host": host}


@pytest.mark.parametrize("host", [None, {"cpus": 32, "spark_cpus": 32, "mem_total_mb": 131072}],
                         ids=["no_host", "other_host"])
def test_isolated_baseline_from_another_host_is_no_baseline(bench, tmp_path, monkeypatch, host):
    """BENCH_ISOLATED.json judges a recheck only when it was timed on this
    host: a file from another host, or one that records none, gives no
    baseline, and the recheck's seeding replaces it (of either sf) instead
    of merging into it."""
    d = str(tmp_path)
    monkeypatch.delenv("SPARK_GRAFT_BENCH_NO_RECHECK", raising=False)
    monkeypatch.setattr(bench, "_isolated_min3", lambda n, deadline=None: (6.0, None))
    for sf in (0.1, 0.01):
        foreign = {"sf": sf, "queries": {"q": 2.0, "other": 5.0}, "failures": {"f": "x"}}
        if host is not None:
            foreign["host"] = host
        json.dump(foreign, open(os.path.join(d, "BENCH_ISOLATED.json"), "w"))
        rep = bench._drift_check({"q": 2.0}, {"q": 4.0}, d, 0.1)
        (f,) = rep["flagged"]
        # 6.0 > 2.0 * 1.5 would read "real" against the foreign baseline
        assert f["verdict"] == "no-isolated-baseline" and "isolated_prev" not in f
        iso = json.load(open(os.path.join(d, "BENCH_ISOLATED.json")))
        assert iso["queries"] == {"q": 6.0} and iso["failures"] == {}
        assert (iso["sf"], iso["host"]) == (0.1, bench._host_fingerprint())


def test_write_isolated_records_the_host(bench, tmp_path):
    """Every BENCH_ISOLATED.json write carries the host it was timed on,
    and merges only into a same-host file of the same sf."""
    d = str(tmp_path)
    out = bench._write_isolated(d, 0.1, {"a": 1.0}, {}, clobber_other_sf=False)
    assert out["host"] == bench._host_fingerprint()
    out = bench._write_isolated(d, 0.1, {"b": 2.0}, {}, clobber_other_sf=False)
    assert out["queries"] == {"a": 1.0, "b": 2.0}
    assert json.load(open(os.path.join(d, "BENCH_ISOLATED.json"))) == out


def test_count_cap_regressions_get_explicit_disposition(bench, tmp_path, monkeypatch):
    """Regressions ranked 5+ by the severity sort never enter the recheck
    loop (count cap 4); they must still carry an explicit disposition
    (ADVICE r11: unmarked rows read as never-regressions)."""
    monkeypatch.delenv("SPARK_GRAFT_BENCH_NO_RECHECK", raising=False)
    monkeypatch.setattr(bench, "_isolated_min3", lambda n, deadline=None: (1.0, None))
    prev = {f"q{i}": 1.0 for i in range(6)}
    now = {f"q{i}": 3.0 + i for i in range(6)}  # all 3x+ regressions
    # (3x+: past the 2.5x small-baseline tier — these 1.0s baselines
    # never qualify for the 1.5x large-query rule)
    rep = bench._drift_check(prev, now, str(tmp_path), 0.1)
    assert len(rep["flagged"]) == 6
    assert rep["rechecked"] == 4
    capped = [f for f in rep["flagged"] if "isolated_min3" not in f]
    assert len(capped) == 2
    assert all(f["isolated_err"] == "recheck count cap" for f in capped)


def test_isolated_min3_coalesces_empty_stderr(bench, monkeypatch):
    """A SIGKILLed child (e.g. OOM) emits no stderr; the error string must
    still be truthy so _drift_check records isolated_err (ADVICE r11)."""
    import subprocess as sp

    def fake_run(cmd, capture_output, text, timeout=None):
        class R:
            returncode = -9
            stdout = ""
            stderr = ""

        return R()

    monkeypatch.setattr(sp, "run", fake_run)
    t, err = bench._isolated_min3("q")
    assert t is None
    assert err == "child exited -9"


def test_isolated_min3_deadline_bounds_children(bench, monkeypatch):
    """The recheck deadline must reach subprocess.run as a timeout and
    gate starting later children (ADVICE r10: an un-timeouted hung child
    could stall the bench despite the wall-clock budget)."""
    import subprocess as sp
    import time as _time

    seen = []

    def fake_run(cmd, capture_output, text, timeout=None):
        seen.append(timeout)

        class R:
            returncode = 0
            stdout = '{"name": "q", "sec": 1.0}'
            stderr = ""

        return R()

    monkeypatch.setattr(sp, "run", fake_run)
    t, err = bench._isolated_min3("q", deadline=_time.monotonic() + 60)
    assert t == 1.0 and err is None
    assert len(seen) == 3 and all(0 < s <= 60 for s in seen)
    t, err = bench._isolated_min3("q", deadline=_time.monotonic() - 1)
    assert t is None and "budget exhausted" in err


def test_query_path_classification_markers(bench, spark):
    """Pin the physical-plan node names the py/jvm cohort classifier
    greps for against a live Spark session: a Spark upgrade that renames
    ArrowEvalPython / MapInPandas / etc. must fail here loudly, not
    silently classify every query jvm and merge the weather cohorts."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    base = spark.range(100).select(F.col("id").cast("double").alias("x"))

    # pure JVM codegen
    assert bench._query_path(base.groupBy().sum("x"), ()) == "jvm"

    # scalar pandas UDF -> ArrowEvalPython
    double_it = pandas_udf(lambda s: s * 2.0, "double")
    assert bench._query_path(base.select(double_it("x")), ()) == "py"

    # mapInPandas -> MapInPandas
    def ident(it):
        yield from it

    assert bench._query_path(base.mapInPandas(ident, "x double"), ()) == "py"

    # grouped-agg pandas UDF -> ArrowAggregatePython (Spark 4 name)
    from pyspark.sql.functions import PandasUDFType

    mean_udf = pandas_udf(lambda s: float(s.mean()), "double",
                          PandasUDFType.GROUPED_AGG)
    grouped = base.withColumn("g", F.col("x") % 2).groupBy("g").agg(
        mean_udf("x")
    )
    assert bench._query_path(grouped, ()) == "py"

    # pre-materialized input -> Scan ExistingRDD (a localCheckpointed
    # JVM loop and a Python-built result are string-identical here):
    # ambiguous, tags decide
    ck = base.limit(5).localCheckpoint()
    assert "ExistingRDD" in ck._jdf.queryExecution().executedPlan().toString()
    assert bench._query_path(ck, ("ml",)) == "py"
    assert bench._query_path(ck, ("graph", "iterative")) == "jvm"

    # live streaming queries classify py regardless of the batch plan
    assert bench._query_path(base, ("live",)) == "py"


def test_history_records_the_host_fingerprint(bench, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    bench._record_history(str(tmp_path), 0.1, {"a": 1.0})
    (run,) = json.load(open(tmp_path / "BENCH_HISTORY.json"))["runs"]
    assert run["host"]["cpus"] == os.cpu_count()
    assert run["host"]["spark_cpus"] == 3
    assert run["host"]["mem_total_mb"] > 0
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16456012 kB\nMemAvailable:   9000000 kB\n")
    assert bench._host_fingerprint(str(meminfo))["mem_total_mb"] == 16070
    assert bench._host_fingerprint(str(tmp_path / "missing"))["mem_total_mb"] is None
