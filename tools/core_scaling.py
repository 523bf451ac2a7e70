#!/usr/bin/env python
"""Core-scaling measurement at a synthetic larger SF (SCALE.md r13).

VERDICT r12 item 10: at sf0.1 the suite is fixed-overhead-bound, so the
8-vs-32-core bench ratios can't distinguish "too small to parallelize"
from "accidentally serial" — the 100 TB parallelism story was argued
from plans, not demonstrated. The driver testdata is read-only and tops
out at sf0.1, so this tool DERIVES a larger dataset from sf0.1 (default
5×: key-shifted copies unioned, foreign keys shifted consistently,
document text uniquified per copy so the dedup families keep a realistic
duplicate rate) and then times head queries in fresh child processes at
two core counts (SPARK_GRAFT_CPUS drives both master and shuffle width,
exactly like the round driver's own scaling run).

The derived data is measurement scaffolding ONLY: it lives under
.scratch (never /root/testdata), no query result is cached, and neither
bench.py nor the registry reference it. The multi-file layout also means
every table has ≥ mult row groups, so the one-row-group rebalance shim
in catalog.load_table is a structural no-op here — the measurement sees
the plain at-scale scan path.

Usage:
    python tools/core_scaling.py build [--mult 5]
    python tools/core_scaling.py run [--cpus 8,32] [--runs 2] [QUERY ...]
    python tools/core_scaling.py child QUERY...   # internal
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEST = os.path.join(REPO, ".scratch", "core_scaling_sfx")

# Default head set: the queries whose 100 TB posture claims parallelism
# (top of BENCH_FULL + the families VERDICT r12 called out).
HEAD = [
    "graph_common_neighbors",
    "graph_pagerank_suppliers",
    "graph_pagerank_fixed_point",
    "dedup_semantic_prune",
    "dedup_clusters",
    "dedup_cluster_representatives",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_contamination_check",
    "text_boilerplate_coverage",
    "stat_bootstrap_poisson_ci",
    "agg_multiple_regression",
    "agg_percentiles",
    "ts_mad_anomaly",
    "vec_label_centroid_classify",
]

# (table, [(column, shift_base_table)]) — shift_base names whose key max
# defines the offset so FK relationships survive the copy.
SHIFTS = {
    "region": [],
    "nation": [],
    "customer": [("c_custkey", "customer")],
    "supplier": [("s_suppkey", "supplier")],
    "part": [("p_partkey", "part")],
    "orders": [("o_orderkey", "orders"), ("o_custkey", "customer")],
    "lineitem": [
        ("l_orderkey", "orders"),
        ("l_partkey", "part"),
        ("l_suppkey", "supplier"),
    ],
    "events": [("event_id", "events"), ("user_id", "customer")],
    "documents": [("doc_id", "documents")],
    "embeddings": [("vec_id", "embeddings")],
}

KEY_OF = {
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def build(mult: int) -> None:
    from pyspark.sql import functions as F

    from avro_topic_replication_spark.session import get_spark

    spark = get_spark(app_name="core-scaling-build")
    os.makedirs(DEST, exist_ok=True)

    # per-base-table key offsets: max(key)+1, rounded up so shifted ids
    # stay readable and (for custkey) comfortably below 2^31
    offs: dict[str, int] = {}
    for t, key in KEY_OF.items():
        mx = (
            spark.read.parquet(os.path.join(SRC, f"{t}.parquet"))
            .agg(F.max(key))
            .first()[0]
        )
        offs[t] = int(mx) + 1

    for t, shifts in SHIFTS.items():
        src = spark.read.parquet(os.path.join(SRC, f"{t}.parquet"))
        if not shifts:  # dims: single copy
            out = src
        else:
            copies = []
            for i in range(mult):
                c = src
                for col, base in shifts:
                    dtype = dict(src.dtypes)[col]
                    c = c.withColumn(
                        col, (F.col(col) + F.lit(i * offs[base])).cast(dtype)
                    )
                if t == "documents" and i > 0:
                    # uniquify text so cross-copy docs are not exact
                    # clones (keeps the dedup families' duplicate rate
                    # realistic instead of forcing mult-sized clusters)
                    c = c.withColumn(
                        "text", F.concat(F.lit(f"x{i} "), F.col("text"))
                    ).withColumn(
                        "n_chars",
                        F.length("text").cast(dict(src.dtypes)["n_chars"]),
                    )
                copies.append(c)
            out = copies[0]
            for c in copies[1:]:
                out = out.unionByName(c)
        out.repartition(max(mult, 4)).write.mode("overwrite").parquet(
            os.path.join(DEST, f"{t}.parquet")
        )
        print(f"built {t} x{mult if shifts else 1}", file=sys.stderr)
    spark.stop()
    print(json.dumps({"dest": DEST, "mult": mult}))


def child(names: list[str], runs: int) -> None:
    from avro_topic_replication_spark.queries import all_queries
    from avro_topic_replication_spark.session import get_spark

    qs = all_queries()
    spark = get_spark(app_name="core-scaling-child")
    # same one-time-cost warmup as bench.py: parquet footers AND the
    # Python/Arrow worker pool — a fresh JVM at N cores pays ~N worker
    # spin-ups on its first pandas-UDF stage, which otherwise reads as
    # fake inverse core-scaling for UDF-bearing queries
    spark.read.parquet(os.path.join(DEST, "lineitem.parquet")).count()
    from pyspark.sql.functions import col, pandas_udf

    w = pandas_udf(lambda s: s * 1.0, "double")
    spark.range(100_000).select(w(col("id"))).write.format("noop").mode(
        "overwrite"
    ).save()
    out = {}
    for name in names:
        best = None
        for _ in range(runs):
            spark.sparkContext.setJobDescription(f"core-scaling: {name}")
            t0 = time.time()
            qs[name].fn(spark, DEST).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
        print(f"  {name}: {best:.3f}", file=sys.stderr)
    spark.stop()
    print(json.dumps(out))


def run(names: list[str], cpus: list[int], runs: int, passes: int) -> None:
    if len(cpus) != 2:
        # the table reports one low/high ratio per query; a third core
        # count would be timed and then silently dropped
        sys.exit(f"--cpus takes exactly two core counts, got {cpus}")
    # Alternate core counts across passes (8,32,8,32,…) and keep the min
    # per (cpu, query): container weather drifts on multi-minute scales,
    # so back-to-back same-order children bias the ratio — alternation
    # cancels it (the r12 interleaved-A/B lesson, applied to processes).
    results: dict[int, dict[str, float]] = {c: {} for c in cpus}
    for p_i in range(passes):
        for c in cpus:
            env = dict(os.environ)
            env["SPARK_GRAFT_CPUS"] = str(c)
            env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
            print(f"=== pass {p_i} / {c} cores ===", file=sys.stderr)
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "child",
                 "--runs", str(runs), *names],
                env=env, capture_output=True, text=True, timeout=7200,
            )
            sys.stderr.write(p.stderr[-2000:])
            if p.returncode != 0:
                # keep what earlier children measured before giving up
                _report(names, cpus, runs, passes, results)
                sys.exit(f"child at {c} cores failed rc={p.returncode}")
            got = json.loads(p.stdout.strip().splitlines()[-1])
            for n, t in got.items():
                prev = results[c].get(n)
                results[c][n] = t if prev is None else min(prev, t)
    _report(names, cpus, runs, passes, results)


def _report(names, cpus, runs, passes, results) -> None:
    """Print the low/high-core table; a query a failed run never timed
    at some core count shows null there."""
    lo, hi = min(cpus), max(cpus)
    table = {}
    for n in names:
        t_lo, t_hi = results[lo].get(n), results[hi].get(n)
        table[n] = {
            f"c{lo}": t_lo,
            f"c{hi}": t_hi,
            "ratio": round(t_lo / t_hi, 2) if t_lo is not None and t_hi else None,
        }
    print(json.dumps({"cpus": cpus, "runs": runs, "passes": passes,
                      "queries": table}, indent=1))


def main() -> int:
    args = sys.argv[1:]
    if not args:
        print(__doc__)
        return 2
    cmd, rest = args[0], args[1:]
    mult, cpus, runs, passes, names = 5, [8, 32], 2, 1, []
    i = 0
    while i < len(rest):
        a = rest[i]
        if a == "--mult":
            mult = int(rest[i + 1]); i += 2
        elif a == "--cpus":
            cpus = [int(x) for x in rest[i + 1].split(",")]; i += 2
        elif a == "--runs":
            runs = int(rest[i + 1]); i += 2
        elif a == "--passes":
            passes = int(rest[i + 1]); i += 2
        else:
            names.append(a); i += 1
    names = names or list(HEAD)
    if cmd == "build":
        build(mult)
    elif cmd == "child":
        child(names, runs)
    elif cmd == "run":
        run(names, cpus, runs, passes)
    else:
        print(__doc__)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
