"""Fast checks of the benchmark's own parts; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import struct
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import harness  # noqa: E402
import inputs as I  # noqa: E402
import run  # noqa: E402
import verify as V  # noqa: E402

KEY_ID, TARGET_IDS = 1, {1: 2, 2: 3}


# ---------------------------------------------------------------------------
# seeded inputs
# ---------------------------------------------------------------------------
def test_backfill_records_are_deterministic_per_seed():
    a, b = I.backfill_records(7, n=2000), I.backfill_records(7, n=2000)
    assert a.equals(b)
    assert not a.equals(I.backfill_records(8, n=2000))


def test_star_schema_is_deterministic_per_seed():
    a, b, c = (I.star_schema(s, sf=0.001) for s in (3, 3, 4))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_star_schema_uses_the_input_contracts_timestamp_units():
    t = I.star_schema(3, sf=0.001)
    assert t["events"].schema.field("ts").type == pa.timestamp("ns")
    assert t["orders"].schema.field("o_orderdate").type == pa.timestamp("ms")
    assert t["lineitem"].schema.field("l_shipdate").type == pa.timestamp("ms")


def test_hand_encoded_foo_values_match_the_avro_layout():
    rec = I.backfill_records(1, n=50).to_pylist()
    for r in rec:
        v = r["value"]
        assert v[:1] == b"\x00" and struct.unpack(">I", v[1:5])[0] == r["src_id"]
        assert v[5:].startswith(I.avro_string(r["id"]))
    assert I.zigzag_varint(-1) == b"\x01" and I.zigzag_varint(64) == b"\x80\x01"


# ---------------------------------------------------------------------------
# verifier
# ---------------------------------------------------------------------------
def _replica(tmp_path, truth: pa.Table, batches: int = 2) -> str:
    """A correct replica of ``truth`` in the program's on-disk layout:
    data/<batch>/ parquet and one commit marker per batch."""
    main = str(tmp_path / "main")
    exp = V.expected_frames(truth, KEY_ID, TARGET_IDS)
    n = truth.num_rows
    for b in range(batches):
        rows = exp.slice(b * n // batches, (b + 1) * n // batches - b * n // batches)
        d = os.path.join(main, "data", str(b))
        os.makedirs(d)
        pq.write_table(pa.table({
            "key": rows.column("exp_key"), "value": rows.column("exp_value"),
            "topic": pa.array([I.TARGET_TOPIC] * rows.num_rows),
            "partition": rows.column("partition"), "offset": rows.column("offset"),
        }), os.path.join(d, "part-0.parquet"))
        os.makedirs(os.path.join(main, "commits"), exist_ok=True)
        with open(os.path.join(main, "commits", str(b)), "w") as f:
            f.write("committed")
    return main


def _check(main, truth):
    return V.verify(V.read_replica(main), truth, KEY_ID, TARGET_IDS)


@pytest.fixture
def truth(tmp_path):
    return I.write_topic(str(tmp_path / "topic"), I.backfill_records(11, n=400), 4)


def test_verifier_accepts_a_correct_replica(tmp_path, truth):
    main = _replica(tmp_path, truth)
    rep = _check(main, truth)
    assert rep.ok and rep.attempted == truth.num_rows


def _edit(path, fn):
    t = pq.read_table(path)
    pq.write_table(fn(t), path)


def test_verifier_catches_a_duplicate(tmp_path, truth):
    main = _replica(tmp_path, truth)
    src = os.path.join(main, "data", "0", "part-0.parquet")
    pq.write_table(pq.read_table(src).slice(0, 1),
                   os.path.join(main, "data", "1", "part-9.parquet"))
    rep = _check(main, truth)
    assert rep.problems["duplicated"] == 1 and rep.failed == 1


def test_verifier_catches_a_missing_record(tmp_path, truth):
    main = _replica(tmp_path, truth)
    _edit(os.path.join(main, "data", "1", "part-0.parquet"), lambda t: t.slice(1))
    rep = _check(main, truth)
    assert rep.problems["missing"] == 1 and rep.failed == 1


def test_verifier_ignores_batches_without_a_commit_marker(tmp_path, truth):
    main = _replica(tmp_path, truth)
    os.remove(os.path.join(main, "commits", "1"))
    rep = _check(main, truth)
    assert rep.problems["missing"] > 0 and not rep.ok


def test_verifier_catches_a_flipped_byte(tmp_path, truth):
    main = _replica(tmp_path, truth)

    def flip(t):
        vals = t.column("value").to_pylist()
        vals[3] = vals[3][:-1] + bytes([vals[3][-1] ^ 0x01])
        return t.set_column(t.column_names.index("value"), "value",
                            pa.array(vals, pa.binary()))

    _edit(os.path.join(main, "data", "0", "part-0.parquet"), flip)
    rep = _check(main, truth)
    assert rep.problems["wrong_bytes"] == 1 and rep.failed == 1


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------
def _span(i, start, end, parent=None):
    return {"id": i, "name": f"s{i}", "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_the_union_of_children_clipped_to_the_parent():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 2.0, 5.0, 0), _span(3, 8.0, 12.0, 0)]
    assert harness.self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 2.0)
    assert harness.self_time(parent, []) == pytest.approx(10.0)


def test_self_times_of_a_span_tree_add_up_to_the_root():
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 6.0, 0), _span(2, 2.0, 3.0, 1),
             _span(3, 7.0, 9.0, 0)]
    self_by_id = {s["id"]: s["self"] for s in harness.with_self_times(spans)}
    assert self_by_id == pytest.approx({0: 3.0, 1: 4.0, 2: 1.0, 3: 2.0})
    assert sum(self_by_id.values()) == pytest.approx(10.0)


def test_tracer_records_parents_and_nothing_when_disabled():
    on, off = harness.Tracer(True), harness.Tracer(False)
    for tr in (on, off):
        with tr.span("outer", trace_id="q1"):
            with tr.span("inner", trace_id="q1"):
                pass
    assert [(s["name"], s["parent"], s["trace"]) for s in on.spans] == [
        ("outer", None, "q1"), ("inner", 0, "q1")]
    assert off.spans == []


# ---------------------------------------------------------------------------
# metrics and the result line
# ---------------------------------------------------------------------------
def _benchmark_json():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_every_metric_the_runner_emits_with_its_unit():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
def test_result_line_carries_every_metric_with_its_unit(trace):
    out = {name: 1.5 for name in run.E2E}
    res = run.result_line(out, bool(trace), attempted=10, failed=0)
    names = run.PER_LAYER if trace else run.E2E
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["attempted"] == 10 and res["failed"] == 0
    assert {k: v["unit"] for k, v in res["metrics"].items()} == names
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())
    json.dumps(res)
