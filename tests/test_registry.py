"""Registry invariants: the driver harness samples a fixed-size prefix of
the registry's presentation order for its correctness gate, so the prefix
must always be spent on oracle-bearing queries that most need a driver
CORRECTNESS row. Which rows exist is read from the committed
CORRECTNESS_rNN.json files (``_sampling_ledger``). Pure-Python — no
SparkSession needed."""

from __future__ import annotations

import json

import pytest

from avro_topic_replication_spark.queries import (
    _RESAMPLE_FIRST,
    _sampling_ledger,
    all_queries,
)

WINDOW = 50  # the harness's per-round sample size


def test_sample_window_drains_the_backlog():
    """While never-driver-sampled oracle queries exist, every slot of the
    harness's 50-row window must hold one of them (no slot wasted on a
    query that already has a driver row, or on a rows-only query that
    cannot produce a hash row)."""
    reg = all_queries()
    names = list(reg)
    sampled = set(_sampling_ledger())
    backlog = [
        n
        for n in names
        if reg[n].oracle is not None
        and n not in sampled
        and "defer-sample" not in reg[n].tags
    ]
    window = names[: min(WINDOW, len(backlog))]
    for n in window:
        assert reg[n].oracle is not None, f"rows-only query in window: {n}"
        assert n not in sampled, f"already-sampled query in window: {n}"


def test_rewritten_queries_lead_the_window():
    """Every _RESAMPLE_FIRST query (implementation rewritten since its
    last driver row) must sit inside the next 50-row sample window, ahead
    of mere staleness re-samples — and must actually exist and carry an
    oracle (a rows-only query can't produce the hash row the re-sample is
    for)."""
    reg = all_queries()
    names = list(reg)
    window = set(names[:WINDOW])
    for n in _RESAMPLE_FIRST:
        assert n in reg, f"_RESAMPLE_FIRST names unknown query: {n}"
        assert reg[n].oracle is not None, f"rows-only in _RESAMPLE_FIRST: {n}"
        assert n in window, f"rewritten query not in sample window: {n}"
    assert len(_RESAMPLE_FIRST) <= WINDOW


def test_resamples_rotate_stalest_first():
    """With the backlog drained (r11: 307/307 oracle-bearing queries
    driver-green), each round's 50-row window must re-verify the STALEST
    rows — the window's newest last-sampled round may not exceed the
    oldest last-sampled round outside it (defer-tagged additions excepted —
    they sort to the back until their tag drops — and _RESAMPLE_FIRST
    rewrites excepted: a rewritten implementation outranks staleness)."""
    reg = all_queries()
    oracle = [
        n for n, q in reg.items()
        if q.oracle is not None
        and "defer-sample" not in q.tags
        and n not in _RESAMPLE_FIRST
    ]
    in_window = oracle[: WINDOW - len(_RESAMPLE_FIRST)]
    rest = oracle[WINDOW - len(_RESAMPLE_FIRST):]
    if not rest:
        return
    ledger = _sampling_ledger()
    newest_in = max(ledger.get(n, 0) for n in in_window)
    oldest_out = min(ledger.get(n, 0) for n in rest)
    assert newest_in <= oldest_out, (newest_in, oldest_out)


def test_driver_sampled_names_exist():
    """Every name with a row in the committed CORRECTNESS files must still
    be a registered query — a rename would silently re-enqueue its old
    driver row."""
    reg = all_queries()
    missing = sorted(set(_sampling_ledger()) - set(reg))
    assert not missing, missing


def test_every_query_has_fn_and_unique_oracle_columns():
    """Oracle-bearing queries must keep the compare contract: non-empty
    SQL text and a callable."""
    for name, q in all_queries().items():
        assert callable(q.fn), name
        if q.oracle is not None:
            assert q.oracle.strip(), name


def _rows(path, rows):
    path.write_text(json.dumps({n: {"hash_match": ok} for n, ok in rows.items()}))


def test_sampling_ledger_takes_the_numeric_maximum_round(tmp_path):
    """Each name maps to the largest N over exactly-named
    CORRECTNESS_rN.json files: N is compared as an integer (r10 beats
    r9), a non-green row still counts as sampled, and a file whose name
    only looks like a round file is ignored."""
    _rows(tmp_path / "CORRECTNESS_r9.json", {"a": True, "b": True, "c": False})
    _rows(tmp_path / "CORRECTNESS_r10.json", {"a": True, "c": False})
    _rows(tmp_path / "CORRECTNESS_r12_c8.json", {"a": True, "d": True})
    _rows(tmp_path / "CORRECTNESS_r13.json.bak", {"a": True, "e": True})
    (tmp_path / "BENCH_r13.json").write_text("{}")
    assert _sampling_ledger(str(tmp_path)) == {"a": 10, "b": 9, "c": 10}


def test_sampling_ledger_raises_without_correctness_files(tmp_path):
    """No round file at all means the package is not in its repository:
    ordering the driver's window without the ledger must fail loudly."""
    with pytest.raises(FileNotFoundError):
        _sampling_ledger(str(tmp_path))
    _rows(tmp_path / "CORRECTNESS_r12_c8.json", {"a": True})
    with pytest.raises(FileNotFoundError):
        _sampling_ledger(str(tmp_path))
