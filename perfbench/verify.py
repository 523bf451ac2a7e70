"""Output verifier for the replication workload, independent of the
program's codec.

It reads the committed target parquet with pyarrow and checks every source
record against the generator's truth:

- each source (partition, offset) appears exactly once, under a batch whose
  commit marker exists;
- its key is a hand-built frame of its ``id`` under the target key schema
  id;
- its value is ``0x00`` + the target schema id + the source payload (Foo
  v1/v2 re-encoding is canonical, so a full re-encode and a header rewrite
  must both produce exactly these bytes).

A record that is missing, duplicated or byte-wrong counts as one failed
record; a row that matches no source record counts as one more.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from inputs import _VARINTS, _join

_TYPES = {"partition": pa.int32(), "offset": pa.int64(), "key": pa.binary(),
          "value": pa.binary(), "batch": pa.int64()}


@dataclass
class Report:
    attempted: int
    failed: int
    problems: "dict[str, int]" = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return self.failed == 0


def committed_batches(main_dir: str) -> "list[int]":
    commits = os.path.join(main_dir, "commits")
    if not os.path.isdir(commits):
        return []
    return sorted(int(x) for x in os.listdir(commits) if x.isdigit())


def read_replica(main_dir: str) -> pa.Table:
    """(partition, offset, key, value, batch) of every row under a commit
    marker."""
    parts = []
    for b in committed_batches(main_dir):
        d = os.path.join(main_dir, "data", str(b))
        if not os.path.isdir(d):
            continue
        t = pq.read_table(d)
        parts.append(pa.table({
            **{c: t.column(c).cast(_TYPES[c]) for c in ("partition", "offset", "key", "value")},
            "batch": pa.array(np.full(t.num_rows, b, np.int64)),
        }))
    if not parts:
        return pa.table({c: pa.array([], t) for c, t in _TYPES.items()})
    return pa.concat_tables(parts)


def expected_frames(truth: pa.Table, key_id: int, target_ids: "dict[int, int]") -> pa.Table:
    """The truth with the key and value each record must carry."""
    n = truth.num_rows
    ids = truth.column("id").cast(pa.binary())
    key = _join(pa.array([b"\x00" + struct.pack(">I", key_id)] * n, pa.binary()),
                _VARINTS.take(pc.binary_length(ids)), ids)
    src = truth.column("src_id").to_numpy()
    tid = np.array([target_ids.get(int(s), 0) for s in range(int(src.max()) + 1)])
    header = pa.array([b"\x00" + struct.pack(">I", int(t)) for t in tid], pa.binary())
    value = _join(header.take(src), pc.binary_slice(truth.column("value"), 5, 1 << 30))
    return pa.table({
        "partition": truth.column("partition"),
        "offset": truth.column("offset"),
        "exp_key": key,
        "exp_value": value,
    })


def verify(actual: pa.Table, truth: pa.Table, key_id: int,
           target_ids: "dict[int, int]") -> Report:
    exp = expected_frames(truth, key_id, target_ids)
    counts = actual.group_by(["partition", "offset"]).aggregate([("batch", "count")])
    joined = exp.join(counts, ["partition", "offset"], join_type="left outer")
    cnt = pc.fill_null(joined.column("batch_count"), 0).to_numpy()
    missing = int((cnt == 0).sum())
    duplicated = int((cnt > 1).sum())
    stray = actual.num_rows - int(cnt.sum())

    once = joined.filter(pc.equal(joined.column("batch_count"), 1)).select(
        ["partition", "offset", "exp_key", "exp_value"])
    rows = once.join(actual, ["partition", "offset"], join_type="inner")
    right = pc.fill_null(pc.and_(pc.equal(rows.column("key"), rows.column("exp_key")),
                                 pc.equal(rows.column("value"), rows.column("exp_value"))),
                         False)
    wrong = int(pc.sum(pc.invert(right)).as_py() or 0)
    problems = {"missing": missing, "duplicated": duplicated,
                "wrong_bytes": wrong, "stray_rows": stray}
    return Report(
        attempted=truth.num_rows,
        failed=missing + duplicated + wrong + stray,
        problems=problems,
    )
