"""query_mix: a fixed stratified sample of the query registry over a seeded
star schema, each query built, then executed through the noop sink, in
repeated passes.

The sample comes from the registry's short tail, where per-query fixed
cost (plan building, job scheduling, the sink) dominates. It was drawn
once, stratified by family prefix (the part of a query's name before its
first ``_``): from the 164 queries the repository's committed sf0.1 bench
recorded under 0.5 s, excluding ``replication_*``, each family with ``n``
such queries gave ``round(n / 10)`` picks with ``random.Random(20261017)``,
families and names in sorted order. That draw has no query that replays a
stream, so ``stream_live_dedup_unbounded``, the shortest ``stream_live_*``
query in the same bench, was added to measure ``streaming.replay``. The list is fixed rather
than drawn from ``--seed``: query costs differ by two orders of magnitude,
so a per-seed sample would move the mix's time by far more than any change
under test. ``--seed`` varies the table contents instead.
"""

from __future__ import annotations

import sys
import time

import harness

MIX = (
    "agg_minmax", "events_activity_streaks", "fn_datetime", "fn_json_tuple",
    "fn_schema_of_json", "join_asof_click_view", "mm_video_frame_stats",
    "sample_weighted_reservoir", "setop_union_all", "source_text_lines",
    "sql_pivot_clause", "stat_diff_in_diff", "stream_live_dedup_unbounded",
    "text_readability", "udf_scalar_python", "vec_norms", "win_topk_per_group",
)
FAMILIES = tuple(sorted({n.split("_")[0] for n in MIX}))
# Passes of the mix per run: at least MIN_PASSES, then more until
# ``--seconds`` have passed, at most MAX_PASSES.
MIN_PASSES, MAX_PASSES = 2, 4


def warm(spark, sf_dir: str) -> None:
    """A scan and one pandas-UDF job: starts the Python worker pool and
    pays first-job costs before any query is timed."""
    import os

    from pyspark.sql.functions import col, pandas_udf

    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    twice = pandas_udf(lambda s: s * 2.0, "double")
    spark.range(100_000).select(twice(col("id"))).write.format("noop").mode(
        "overwrite").save()


def run_mix(spark, sf_dir: str, seconds: float, tracer: harness.Tracer) -> dict:
    """Run the mix pass after pass: at least ``MIN_PASSES``, then more until
    ``seconds`` have passed, at most ``MAX_PASSES``. Each query's build,
    execute and wall time is its median over the passes; the DataFrame of
    its last pass is kept for the oracle check."""
    from avro_topic_replication_spark.queries import all_queries

    reg = all_queries()
    runs = {name: [] for name in MIX}
    start = time.perf_counter()
    passes = 0
    while passes < MIN_PASSES or (
            passes < MAX_PASSES and time.perf_counter() - start < seconds):
        for name in MIX:
            runs[name].append(_run_query(spark, reg[name], name, sf_dir, tracer))
        passes += 1
    results = []
    for name in MIX:
        rs = runs[name]
        errors = [r["error"] for r in rs if r["error"] is not None]
        rec = {"name": name, "family": name.split("_")[0], "passes": len(rs),
               "error": errors[0] if errors else None, "df": rs[-1].get("df")}
        for k in ("build_s", "execute_s", "wall_s"):
            rec[k] = harness.median([r[k] for r in rs])
        results.append(rec)
    return {"queries": results, "passes": passes}


def _run_query(spark, q, name: str, sf_dir: str, tracer: harness.Tracer) -> dict:
    spark.catalog.clearCache()
    rec = {"error": None}
    with tracer.span("queries.query", trace_id=name):
        t0 = time.perf_counter()
        try:
            with tracer.span("queries.build", trace_id=name):
                df = q.fn(spark, sf_dir)
            t1 = time.perf_counter()
            with tracer.span("queries.execute", trace_id=name):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            rec.update(build_s=t1 - t0, execute_s=t2 - t1, df=df)
        except Exception as e:  # a failed query is a failed operation
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
            rec.update(build_s=0.0, execute_s=time.perf_counter() - t0)
    rec["wall_s"] = rec["build_s"] + rec["execute_s"]
    return rec


def verify_mix(spark, sf_dir: str, res: dict, repo_root: str) -> "tuple[int, dict]":
    """Compare each oracle-bearing query's result (its timed DataFrame,
    executed again) with its DuckDB twin by the rule of the repository's
    oracle mirror; returns (failed, problems by query)."""
    sys.path.insert(0, repo_root)
    from tests.oracle import compare, duckdb_connection

    from avro_topic_replication_spark.queries import all_queries

    reg = all_queries()
    con = duckdb_connection(sf_dir)
    failed, problems = 0, {}
    for rec in res["queries"]:
        if rec["error"] is not None:
            failed += 1
            problems[rec["name"]] = [rec["error"]]
            continue
        q = reg[rec["name"]]
        if q.oracle is None:
            continue
        spark.catalog.clearCache()
        try:
            probs = compare(rec["df"], con, q.oracle)
        except Exception as e:  # an oracle run that raises is a mismatch
            probs = [f"{type(e).__name__}: {e}"[:300]]
        if probs:
            failed += 1
            problems[rec["name"]] = probs[:3]
    return failed, problems


def mix_layers(res: dict) -> dict:
    out = {"queries.build_s": 0.0, "queries.execute_s": 0.0}
    for rec in res["queries"]:
        out["queries.build_s"] += rec["build_s"]
        out["queries.execute_s"] += rec["execute_s"]
        for part in ("build_s", "execute_s"):
            k = f"queries.{rec['family']}.{part}"
            out[k] = out.get(k, 0.0) + rec[part]
    return out
