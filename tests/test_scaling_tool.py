"""Unit tests for tools/scaling_analysis.py (SCALE.md r12): the
first-difference exponent fit, the input-growth family classification
(documents/embeddings are flat until sf0.1), and the super-linear exit
gate; plus tools/core_scaling.py's --cpus check and its partial report
on a failed child. Spark-free — the registry import is exercised but no
session."""

from __future__ import annotations

import importlib.util
import json
import math
import os

import pytest

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools", "scaling_analysis.py",
)


@pytest.fixture()
def tool():
    spec = importlib.util.spec_from_file_location("scaling_analysis", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_exponent_identity_for_power_law(tool):
    """For t = f + c*sf^e sampled at 10x-apart points, the difference
    ratio is exactly 10^e — the identity the whole analysis rests on."""
    for e in (0.5, 1.0, 1.5, 2.0):
        f, c = 0.7, 3.0
        t = [f + c * sf ** e for sf in (0.001, 0.01, 0.1)]
        d21, d32 = t[1] - t[0], t[2] - t[1]
        assert math.log10(d32 / d21) == pytest.approx(e, abs=1e-9)


def test_family_classification(tool):
    class Q:
        def __init__(self, name, oracle):
            self.name, self.oracle = name, oracle

    assert tool._family(Q("x", "SELECT * FROM lineitem")) == "10x"
    assert tool._family(Q("x", "SELECT * FROM documents")) == "flat-then-10x"
    # a mixed documents+facts query is dominated by the scaling table
    assert tool._family(Q("x", "FROM documents JOIN orders")) == "10x"
    assert tool._family(Q("x", "SELECT * FROM nation")) == "dims-only"
    # rows-only (no oracle): name-prefix inference
    assert tool._family(Q("vec_knn_query", None)) == "flat-then-10x"
    assert tool._family(Q("stream_live_tumbling", None)) == "10x"
    assert tool._family(Q("join_bucketed", None)) == "10x"


def test_latest_per_sf_reads_history(tool, tmp_path, monkeypatch):
    """The latest run per sf, among the newest run's host's runs only:
    runs from another host, or from before runs carried one, never mix
    into its differences."""
    big = {"cpus": 32, "spark_cpus": 32, "mem_total_mb": 131072}
    small = {"cpus": 4, "spark_cpus": 4, "mem_total_mb": 15360}
    hist = {"runs": [
        {"sf": 0.1, "queries": {"q": 1.0}},
        {"sf": 0.01, "queries": {"q": 0.5}},
        {"sf": 0.1, "queries": {"q": 2.0}},  # latest 0.1 wins
    ]}
    json.dump(hist, open(tmp_path / "BENCH_HISTORY.json", "w"))
    monkeypatch.setattr(tool, "REPO", str(tmp_path))
    assert tool._latest_per_sf([0.1, 0.01]) == [{"q": 2.0}, {"q": 0.5}]
    with pytest.raises(SystemExit):
        tool._latest_per_sf([0.001])
    hist["runs"] += [
        {"sf": 0.01, "queries": {"q": 0.3}, "host": big},
        {"sf": 0.1, "queries": {"q": 3.0}, "host": big},
        {"sf": 0.1, "queries": {"q": 4.0}, "host": small},
    ]
    json.dump(hist, open(tmp_path / "BENCH_HISTORY.json", "w"))
    with pytest.raises(SystemExit, match="newest run's host"):
        tool._latest_per_sf([0.1, 0.01])
    hist["runs"].append({"sf": 0.01, "queries": {"q": 0.6}, "host": small})
    json.dump(hist, open(tmp_path / "BENCH_HISTORY.json", "w"))
    assert tool._latest_per_sf([0.1, 0.01]) == [{"q": 4.0}, {"q": 0.6}]
    hist["runs"].append({"sf": 0.1, "queries": {"q": 5.0}, "host": big})
    json.dump(hist, open(tmp_path / "BENCH_HISTORY.json", "w"))
    assert tool._latest_per_sf([0.1, 0.01]) == [{"q": 5.0}, {"q": 0.3}]


def test_main_gates_on_super_linear(tool, tmp_path, monkeypatch, capsys):
    """A quadratic-growth lineitem query must flip the exit code (the
    scale-regression gate); the committed history must not."""

    class Q:
        def __init__(self, name, oracle):
            self.name, self.oracle = name, oracle

    def fake_registry():
        return {"quad": Q("quad", "FROM lineitem"),
                "lin": Q("lin", "FROM lineitem")}

    hist = {"runs": [
        {"sf": sf, "queries": {
            # quad: d32/d21 = 100 (e=2), both deltas over the 0.3s
            # noise floor; lin: e = 1 -> "~linear", not flagged
            "quad": 0.5 + 5000 * sf ** 2,
            "lin": 0.5 + 50 * sf,
        }} for sf in (0.001, 0.01, 0.1)
    ]}
    json.dump(hist, open(tmp_path / "BENCH_HISTORY.json", "w"))
    monkeypatch.setattr(tool, "REPO", str(tmp_path))
    monkeypatch.setattr(tool.sys, "argv", ["scaling_analysis.py"])
    import avro_topic_replication_spark.queries as reg
    monkeypatch.setattr(reg, "all_queries", fake_registry)
    assert tool.main() == 1
    out = capsys.readouterr().out
    assert "SUPER-LINEAR" in out and "quad" in out


def _core_scaling():
    path = os.path.join(os.path.dirname(_TOOL), "core_scaling.py")
    spec = importlib.util.spec_from_file_location("core_scaling", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_core_scaling_rejects_other_than_two_core_counts(monkeypatch):
    """The report has one low/high ratio per query, so `run` refuses a
    third core count up front instead of timing it and dropping it."""
    tool = _core_scaling()

    def no_child(*a, **k):
        raise AssertionError("no child may start for a rejected --cpus")

    monkeypatch.setattr(tool.subprocess, "run", no_child)
    for cpus in ([8], [8, 16, 32]):
        with pytest.raises(SystemExit, match="exactly two core counts"):
            tool.run(["q"], cpus, runs=1, passes=1)


def test_core_scaling_reports_partial_table_on_child_failure(monkeypatch, capsys):
    """A failing child still leaves the timings measured before it."""
    tool = _core_scaling()
    calls = []

    class Done:
        def __init__(self, rc, out):
            self.returncode, self.stdout, self.stderr = rc, out, ""

    def fake_child(cmd, env, **k):
        calls.append(env["SPARK_GRAFT_CPUS"])
        if len(calls) == 1:
            return Done(0, json.dumps({"q": 2.0}))
        return Done(1, "")

    monkeypatch.setattr(tool.subprocess, "run", fake_child)
    with pytest.raises(SystemExit, match="child at 32 cores failed"):
        tool.run(["q"], [8, 32], runs=1, passes=1)
    table = json.loads(capsys.readouterr().out)["queries"]
    assert table == {"q": {"c8": 2.0, "c32": None, "ratio": None}}
