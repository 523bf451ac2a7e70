"""Seeded input generation for the two workloads, cached per seed.

Everything here is the benchmark's own cost: it runs before any clock
starts and never counts towards ``setup_s`` or a timed region. The program
under test only ever sees the files written here.

Values are Confluent-framed Avro built by a small hand-written encoder, so
neither the inputs nor the verifier depend on the program's codec. The
two record schemas match the program's Foo v1/v2 fixtures field for field.
"""

from __future__ import annotations

import os
import shutil
import struct

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FOO_V1 = {
    "type": "record",
    "name": "Foo",
    "namespace": "com.foo",
    "fields": [
        {"name": "id", "type": "string"},
        {"name": "name", "type": ["null", "string"], "default": None},
    ],
}
FOO_V2 = {
    "type": "record",
    "name": "Foo",
    "namespace": "com.foo",
    "fields": [
        {"name": "id", "type": "string"},
        {"name": "name", "type": ["null", "string"], "default": None},
        {"name": "tag", "type": "string", "default": "untagged"},
    ],
}
# Source-registry ids: a fresh registry numbers schemas 1, 2 in
# registration order. The runner registers them in this order and checks
# the ids it gets back before replicating anything.
SOURCE_SCHEMAS = ((1, FOO_V1), (2, FOO_V2))
SOURCE_TOPIC = "foo-source"
TARGET_TOPIC = "foo-replica"

ENVELOPE = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
    ]
)

# repl_backfill: records over enough topic-partition files that every core
# of a 4-core host gets two tasks.
BACKFILL_RECORDS = 300_000
BACKFILL_PARTITIONS = 8
# query_mix: the scale factor of the generated star schema.
QUERY_SF = 0.1
# The warm-up topic of the set-up, one file per partition. It must be big
# enough to bring the JVM's hot paths up to speed: after a 20k-record
# warm-up five 300k-record drains took 5.7, 5.0, 4.6, 4.5 and 4.6 s; after
# a 100k-record warm-up the first drain ran as fast as the second
# (4-core host).
WARM_BACKFILL_RECORDS = 100_000

_NAME_ALPHABET = list("abcdefghijklmnopqrstuvwxyz ABCDEFG") + [
    "é", "ß", "ø", "ж", "λ", "日", "本", "語", "😀",
]
CACHE_KEEP = 3  # cached seeds kept per input kind


# ---------------------------------------------------------------------------
# hand-written Avro binary encoding (zigzag varints, length-prefixed UTF-8)
# ---------------------------------------------------------------------------
def zigzag_varint(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def avro_string(s: str) -> bytes:
    b = s.encode("utf-8")
    return zigzag_varint(len(b)) + b


def frame(schema_id: int, payload: bytes) -> bytes:
    return b"\x00" + struct.pack(">I", schema_id) + payload


def foo_payload(rid: str, name: "str | None", tag: "str | None") -> bytes:
    """Foo v1 payload when ``tag`` is None, Foo v2 otherwise."""
    out = avro_string(rid)
    out += b"\x00" if name is None else b"\x02" + avro_string(name)
    if tag is not None:
        out += avro_string(tag)
    return out


# ---------------------------------------------------------------------------
# record generation (vectorised with Arrow: 10^6 records in about a second)
# ---------------------------------------------------------------------------
_VARINTS = pa.array([zigzag_varint(i) for i in range(4096)], pa.binary())


def _bin(values) -> pa.Array:
    return pa.array(values, pa.binary())


def _join(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*parts, b"")


def _names(rng: np.random.Generator, n: int) -> "tuple[pa.Array, np.ndarray]":
    """UTF-8 names of varied length with multi-byte characters, and a
    ~10% null mask."""
    lengths = rng.integers(0, 48, n)
    chars = rng.integers(0, len(_NAME_ALPHABET), int(lengths.sum()))
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    letters = pa.array(_NAME_ALPHABET, pa.string()).take(chars)
    names = pc.binary_join(pa.ListArray.from_arrays(offsets, letters), "")
    return names.cast(pa.binary()), rng.random(n) < 0.10


def _foo_records(rng: np.random.Generator, n: int, prefix: str) -> pa.Table:
    """``n`` Foo records (70% v1, 30% v2) as a table of source schema id,
    id and source frame."""
    names, null = _names(rng, n)
    v2 = rng.random(n) < 0.30
    salt = rng.integers(0, 1 << 20, n).tolist()
    tags = rng.integers(0, 16, n)
    ids = [f"{prefix}{i:07d}-{s:05x}" for i, s in enumerate(salt)]
    id_bytes = _bin([s.encode() for s in ids])
    name_len = pc.binary_length(names).to_numpy()
    src_id = np.where(v2, 2, 1).astype(np.int32)
    value = _join(
        _bin([frame(1, b""), frame(2, b"")]).take(src_id - 1),
        _VARINTS.take(pc.binary_length(id_bytes)),
        id_bytes,
        _bin([b"\x02", b"\x00"]).take(null.astype(np.int8)),
        pc.if_else(pa.array(null), _bin([b""]).take(np.zeros(n, np.int8)),
                   _VARINTS.take(name_len)),
        pc.if_else(pa.array(null), _bin([b""]).take(np.zeros(n, np.int8)), names),
        pc.if_else(pa.array(v2),
                   _bin([avro_string(f"tag-{k}") for k in range(16)]).take(tags),
                   _bin([b""]).take(np.zeros(n, np.int8))),
    )
    return pa.table({
        "src_id": pa.array(src_id),
        "id": pa.array(ids, pa.string()),
        "value": value,
    })


def _envelope(values: pa.Array, partitions, offsets, ts_us) -> pa.Table:
    n = len(values)
    return pa.table(
        {
            "key": pa.nulls(n, pa.binary()),
            "value": values,
            "topic": pa.array([SOURCE_TOPIC] * n, pa.string()),
            "partition": pa.array(partitions, pa.int32()),
            "offset": pa.array(offsets, pa.int64()),
            "timestamp": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
        },
        schema=ENVELOPE,
    )


def write_topic(out_dir: str, records: pa.Table, n_partitions: int) -> pa.Table:
    """Write ``records`` round-robin over ``n_partitions`` envelope parquet
    files (one per topic-partition) and return them with their partition
    and offset: the truth the verifier checks the replica against."""
    os.makedirs(out_dir, exist_ok=True)
    n = records.num_rows
    parts = (np.arange(n) % n_partitions).astype(np.int32)
    offs = np.arange(n) // n_partitions
    base_us = 1_700_000_000_000_000
    for p in range(n_partitions):
        idx = np.nonzero(parts == p)[0]
        tbl = _envelope(
            records.column("value").take(idx).combine_chunks(),
            parts[idx], offs[idx], base_us + idx,
        )
        pq.write_table(tbl, os.path.join(out_dir, f"part-{p:03d}.parquet"))
    return records.append_column("partition", pa.array(parts)).append_column(
        "offset", pa.array(offs))


def backfill_records(seed: int, n: int = BACKFILL_RECORDS) -> pa.Table:
    return _foo_records(np.random.default_rng([seed, 1]), n, "foo-")


def warm_records(seed: int, n: int) -> pa.Table:
    return _foo_records(np.random.default_rng([seed, 3]), n, "warm-")


# ---------------------------------------------------------------------------
# query_mix: a seeded star schema with the table shapes of FIXTURES.md
# ---------------------------------------------------------------------------
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]


def _day_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_schema(seed: int, sf: float = QUERY_SF) -> "dict[str, pa.Table]":
    rng = np.random.default_rng([seed, 4])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    # Physical timestamp units as the program's input contract has them
    # (FIXTURES.md, catalog.py): dates in ms, the event time in ns, which
    # the program reads as a long and normalises itself.
    ms, ns = pa.timestamp("ms"), pa.timestamp("ns")
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    seg = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": seg[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN])
    ptype = np.array(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"])
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()],
        "p_type": ptype[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    day = 86_400_000_000
    d0, d1 = _day_us(1995, 1, 1), _day_us(2001, 8, 1)
    odate = d0 + rng.integers(0, (d1 - d0) // day + 1, n_ord) * day
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(odate // 1000, ms),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    lok = rng.integers(0, n_ord, n_line).astype(np.int64)
    t["lineitem"] = pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array((odate[lok] + rng.integers(1, 122, n_line) * day) // 1000, ms),
    })
    e0 = _day_us(2024, 1, 1)
    ev_ts = np.sort(e0 + rng.integers(0, 30 * day, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts * 1000, ns),
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": np.array(["signup", "purchase", "view", "click", "error"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()],
    })
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    return t


def _documents(rng, n: int = 5000) -> pa.Table:
    """Word-salad documents over a small vocabulary, with ~0.2% exact
    duplicates and ~1% near duplicates so the dedup operators find work."""
    lens = rng.integers(8, 90, n)
    widx = rng.integers(0, len(_WORDS), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens.tolist():
        texts.append(" ".join(_WORDS[w] for w in widx[pos:pos + ln]))
        pos += ln
    for i in rng.choice(n, size=n // 500, replace=False).tolist():
        texts[i] = texts[(i + 1) % n]
    for i in rng.choice(n, size=n // 100, replace=False).tolist():
        src = texts[(i + 7) % n].split()
        src[len(src) // 2] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        texts[i] = " ".join(src)
    lang = np.array(["en", "zh", "es", "fr", "de"])[
        rng.choice(5, size=n, p=[0.41, 0.15, 0.15, 0.15, 0.14])]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int = 2000, dim: int = 64, k: int = 10) -> pa.Table:
    """Unit vectors scattered around ``k`` label centroids."""
    centroids = rng.normal(size=(k, dim))
    label = rng.integers(0, k, n)
    v = centroids[label] + rng.normal(scale=1.5, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


# ---------------------------------------------------------------------------
# per-seed cache
# ---------------------------------------------------------------------------
class InputCache:
    """Seeded inputs under ``root``, one directory per (kind, seed, size),
    complete only once its ``DONE`` file exists. Keeps the newest
    ``CACHE_KEEP`` directories per kind."""

    def __init__(self, root: str) -> None:
        self.root = root

    def get(self, kind: str, seed: int, build, tag: str = "") -> str:
        path = os.path.join(self.root, f"{kind}-s{seed}{tag}")
        done = os.path.join(path, "DONE")
        if os.path.exists(done):
            os.utime(done)
            return path
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        build(path)
        with open(done, "w") as f:
            f.write("ok")
        self._evict(kind)
        return path

    def _evict(self, kind: str) -> None:
        entries = []
        for d in os.listdir(self.root):
            done = os.path.join(self.root, d, "DONE")
            if d.startswith(kind + "-s") and os.path.exists(done):
                entries.append((os.path.getmtime(done), d))
        for _, d in sorted(entries)[:-CACHE_KEEP]:
            shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)


def build_backfill(path: str, seed: int) -> None:
    truth = write_topic(os.path.join(path, "topic"), backfill_records(seed),
                        BACKFILL_PARTITIONS)
    pq.write_table(truth, os.path.join(path, "truth.parquet"))
    write_topic(os.path.join(path, "warm"),
                warm_records(seed, WARM_BACKFILL_RECORDS), BACKFILL_PARTITIONS)


def build_tables(path: str, seed: int) -> None:
    for name, tbl in star_schema(seed).items():
        pq.write_table(tbl, os.path.join(path, f"{name}.parquet"))
