#!/usr/bin/env python
"""Cross-SF scaling analysis over recorded bench runs (SCALE.md r12).

Reads BENCH_HISTORY.json (next to bench.py) and, for each query, compares
the latest run at each of three scale factors (default 0.001/0.01/0.1) to
estimate how the DATA-DEPENDENT cost scales. The suite is
overhead-dominated (~0.72 s/query fixed job cost, measured at sf0.001
where data is negligible), so scaling is read from FIRST DIFFERENCES,
where the fixed cost cancels: for inputs sampled 10x apart, a power-law
data term t = f + c*n^e satisfies

    t3-t2 = c*(n2*10)^e - c*n2^e = c*n2^e*(10^e - 1)
    t2-t1 = c*n1^e*(10^e - 1)          (n2 = 10*n1)
    =>  (t3-t2)/(t2-t1) = 10^e,  so  e = log10(d32/d21).

Input caveat baked in: `documents` is 500 rows at BOTH sf0.001 and
sf0.01, then 5000 at sf0.1; `embeddings` is 500/500/2000. Queries fed
only by those tables get a single-decade check (their d21, measured on
identical inputs, doubles as a per-query noise estimate); the exponent
fit applies only to queries over 10x-per-decade tables (TPC-H facts,
events).

Usage:  python tools/scaling_analysis.py            # table + counts
        python tools/scaling_analysis.py 0.01 0.1   # custom sf points
                                                    # (2 points: decade
                                                    # ratios only)

Run `SPARK_GRAFT_SF_DIR=/root/testdata/sfX python bench.py` once per sf
first — each run appends to BENCH_HISTORY.json under its own sf key, with
its host; only runs from the newest run's host are compared.
"""
from __future__ import annotations

import collections
import json
import math
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NOISE = 0.3  # sec: sub-noise differences are overhead jitter, not data

SCALING = {"customer", "supplier", "part", "orders", "lineitem", "events"}
FLATISH = {"documents", "embeddings"}
ALL_TABLES = SCALING | FLATISH | {"region", "nation"}


def _latest_per_sf(sfs: "list[float]") -> "list[dict[str, float]]":
    """The latest run at each sf, among runs timed on the host of the
    newest run (its ``host`` fingerprint; entries without one form their
    own host): differences across hosts would measure the hosts."""
    runs = json.load(open(os.path.join(REPO, "BENCH_HISTORY.json")))["runs"]
    host = runs[-1].get("host") if runs else None
    out = []
    for sf in sfs:
        matching = [r["queries"] for r in runs if r.get("sf") == sf and r.get("host") == host]
        if not matching:
            sys.exit(f"no BENCH_HISTORY run at sf={sf} on the newest run's host; "
                     "run bench.py there first")
        out.append(matching[-1])
    return out


def _family(q) -> str:
    """Which input-growth regime feeds this query: '10x' per decade,
    'flat-then-10x' (documents/embeddings), or 'dims-only'."""
    hits = {t for t in ALL_TABLES if re.search(rf"\b{t}\b", q.oracle or "")}
    if not hits:  # rows-only: infer from the name prefix
        n = q.name
        if n.startswith(("vec_", "ml_")):
            hits = {"embeddings"}
        elif n.startswith(("text_", "dedup_", "sample_", "mm_", "pack_",
                           "pipeline_", "split_", "shuffle_")):
            hits = {"documents"}
        elif n.startswith(("stream_", "ts_", "events_")):
            hits = {"events"}
        else:
            hits = {"lineitem"}
    if hits & SCALING:
        return "10x"
    if hits & FLATISH:
        return "flat-then-10x"
    return "dims-only"


def main() -> int:
    sfs = [float(a) for a in sys.argv[1:]] or [0.001, 0.01, 0.1]
    if len(sfs) != 3:
        sys.exit("need exactly 3 sf points for the exponent fit")
    q1, q2, q3 = _latest_per_sf(sfs)

    sys.path.insert(0, REPO)
    from avro_topic_replication_spark.queries import all_queries

    tenx, flat = [], []
    for name, q in sorted(all_queries().items()):
        if not all(name in m for m in (q1, q2, q3)):
            continue
        t1, t2, t3 = q1[name], q2[name], q3[name]
        d21, d32 = t2 - t1, t3 - t2
        fam = _family(q)
        if fam == "10x":
            if d32 < NOISE:
                e, v = None, "flat"
            elif d21 < NOISE:
                e, v = None, "grew-last-decade"
            else:
                e = math.log10(d32 / d21)
                v = ("SUPER-LINEAR" if e > 1.3 else
                     "~linear" if e > 0.7 else "sub-linear")
            tenx.append((name, t1, t2, t3, d21, d32, e, v))
        elif fam == "flat-then-10x":
            v = ("data-bound" if d32 >= max(NOISE, 0.3 * t2)
                 else "overhead-dominated")
            flat.append((name, t1, t2, t3, d21, d32, None, v))

    hdr = (f"{'query':42s} " + " ".join(f"t{sf:g}".rjust(7) for sf in sfs)
           + f" {'d21':>7s} {'d32':>7s} {'exp':>6s}  verdict")
    print("== 10x-per-decade inputs (TPC-H facts / events) ==")
    print(hdr)
    for r in sorted(tenx, key=lambda r: -r[5]):
        e = f"{r[6]:6.2f}" if r[6] is not None else "     -"
        print(f"{r[0]:42s} {r[1]:7.2f} {r[2]:7.2f} {r[3]:7.2f} "
              f"{r[4]:7.2f} {r[5]:7.2f} {e}  {r[7]}")
    print("\n== flat-then-10x inputs (documents/embeddings) ==")
    for r in sorted(flat, key=lambda r: -r[5]):
        print(f"{r[0]:42s} {r[1]:7.2f} {r[2]:7.2f} {r[3]:7.2f} "
              f"{r[4]:7.2f} {r[5]:7.2f}      -  {r[7]}")

    print("\n10x counts:", dict(collections.Counter(r[7] for r in tenx)))
    print("flat counts:", dict(collections.Counter(r[7] for r in flat)))
    for label, m in zip((f"sf{sf:g}" for sf in sfs), (q1, q2, q3)):
        print(f"total {label}: {sum(m.values()):.1f}s over {len(m)} queries")
    supers = [r for r in tenx if r[7] == "SUPER-LINEAR"]
    print("super-linear queries:", [r[0] for r in supers] or "none")
    return 1 if supers else 0


if __name__ == "__main__":
    sys.exit(main())
