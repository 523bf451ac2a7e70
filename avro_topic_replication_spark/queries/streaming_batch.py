"""Streaming operators (SURVEY.md §2.2 "Streaming-only operators").

Two tiers:

- Batch twins (oracle-checked): tumbling / sliding / session windows and
  keyed dedup ARE SQL-expressible over the bounded events table —
  ``window()`` / ``session_window()`` aggregations run identically in a
  batch plan, and DuckDB reproduces them with date_trunc arithmetic and
  gaps-and-islands, so the driver hash-checks the exact semantics.
- Real streams (rows-only): the same operators executed through
  ``readStream`` (file replay of events.parquet) with watermarks, memory
  sink, Trigger.AvailableNow — proving the streaming runtime path end to
  end. Engine-native execution → rows-only driver check.

Scale: windowed aggregation state is bounded by the watermark; streaming
dedup keyed on event_id with a watermark bounds state by the lateness
horizon — both are the standard 100-TB streaming shapes (R1-R9 analogs
run in replication.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import events_ts, load_table
from ..functions.numeric import dec_sum, dec_sum_sql
from . import query


@query(
    "stream_tumbling_window",
    oracle=f"""
        SELECT date_trunc('hour', ts) AS wstart,
               date_trunc('hour', ts) + INTERVAL 1 HOUR AS wend,
               event_type,
               COUNT(*) AS n_events,
               {dec_sum_sql('value')} AS total_value
        FROM events
        GROUP BY 1, 2, 3
    """,
    tags=("streaming", "window"),
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window aggregation (batch twin of the
    streaming query; epoch-aligned 1h buckets == date_trunc('hour'))."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dec_sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("wstart"),
            F.col("w.end").alias("wend"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "stream_sliding_window",
    oracle=f"""
        SELECT date_trunc('hour', ts) - (k * INTERVAL 1 HOUR) AS wstart,
               date_trunc('hour', ts) - (k * INTERVAL 1 HOUR) + INTERVAL 2 HOUR AS wend,
               COUNT(*) AS n_events,
               {dec_sum_sql('value')} AS total_value
        FROM events CROSS JOIN unnest([0, 1]) AS s(k)
        GROUP BY 1, 2
    """,
    tags=("streaming", "window"),
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (2h length, 1h slide): every event lands in exactly
    two windows; the oracle replays that by unioning the two shifted
    tumbling assignments."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_events"), dec_sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("wstart"),
            F.col("w.end").alias("wend"),
            "n_events",
            "total_value",
        )
    )


@query(
    "stream_session_window",
    oracle="""
        WITH marked AS (
            SELECT user_id, ts,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
            FROM events
        ), numbered AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS session_id
            FROM marked
        )
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events
        FROM numbered
        GROUP BY user_id, session_id
    """,
    tags=("streaming", "window", "session"),
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) per user. Spark's session_window
    end = last event + gap; the oracle reproduces it with the classic
    gaps-and-islands (lag + running sum) formulation."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "stream_dedup_keyed",
    oracle="""
        SELECT user_id, event_type,
               CAST(min(event_id) AS BIGINT) AS first_event,
               COUNT(*) AS n_dups
        FROM events
        GROUP BY user_id, event_type
    """,
    tags=("streaming", "dedup"),
)
def stream_dedup_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup, keep-earliest (the deterministic batch twin of
    streaming dropDuplicates: arbitrary-survivor semantics can't be
    oracle-checked, min_by-style can)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event"), F.count("*").alias("n_dups")
    )


# ---------------------------------------------------------------------------
# Real streaming executions (readStream → watermark → sink), rows-only.
# ---------------------------------------------------------------------------
@query("stream_live_tumbling", oracle=None, tags=("streaming", "live"))
def stream_live_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling-window agg executed on a real stream: file replay →
    withWatermark(1h) → window agg → memory sink (AvailableNow). Complete
    mode so end-of-stream windows (never passed by the watermark) are
    visible; on an unbounded source this would be append + late-data
    drops."""
    from ..streaming.replay import events_stream, run_to_memory

    sdf = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("wstart"), "event_type", "n_events"
        )
    )
    return run_to_memory(sdf, output_mode="complete")


@query("stream_live_dedup", oracle=None, tags=("streaming", "live"))
def stream_live_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on event_id bounded by a watermark
    (dropDuplicatesWithinWatermark): state evicts once the lateness
    horizon passes — the only dedup that survives an unbounded stream."""
    from ..streaming.replay import events_stream, run_to_memory

    sdf = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "ts")
    )
    return run_to_memory(sdf, output_mode="append")


@query("stream_live_dedup_unbounded", oracle=None, tags=("streaming", "live"))
def stream_live_dedup_unbounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain streaming dropDuplicates on event_id (no watermark bound):
    the exact-once-per-key semantics when keys can recur arbitrarily far
    apart. State grows with distinct keys forever — the trade the
    within-watermark variant (stream_live_dedup) exists to avoid; both
    are live so the state-size decision is explicit, not implicit."""
    from ..streaming.replay import events_stream, run_to_memory

    sdf = (
        events_stream(spark, sf_dir)
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type", "ts")
    )
    return run_to_memory(sdf, output_mode="append")


@query("stream_live_session", oracle=None, tags=("streaming", "live", "session"))
def stream_live_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) executed through the streaming
    runtime: watermark-bounded merging session state per user — the
    dynamic-gap analog of the oracle-checked batch twin
    (stream_session_window). Complete mode so end-of-stream sessions
    (never passed by the watermark in a bounded replay) stay visible —
    on an unbounded source this would be append + state eviction once
    the watermark passes a session's close."""
    from ..streaming.replay import events_stream, run_to_memory

    sdf = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return run_to_memory(sdf, output_mode="complete")


@query(
    "stream_live_dynamic_session",
    oracle=None,
    tags=("streaming", "live", "session"),
)
def stream_live_dynamic_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-gap session windows through the streaming runtime: the
    per-event gap Column (purchase holds 40 min, everything else 15)
    drives watermark-bounded merging session state per user — the live
    twin of the oracle-checked stream_dynamic_session_window. Complete
    mode for the bounded replay (append + state eviction on an unbounded
    source once the watermark passes a session close);
    tests/test_sinks.py pins stream == batch equality."""
    from ..streaming.replay import events_stream, run_to_memory

    gap = F.when(
        F.col("event_type") == "purchase", F.lit("40 minutes")
    ).otherwise(F.lit("15 minutes"))
    sdf = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return run_to_memory(sdf, output_mode="complete")


@query("stream_live_static_join", oracle=None, tags=("streaming", "live"))
def stream_live_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against a static
    (broadcastable) dimension built from customer nations — the standard
    streaming enrichment; the static side is re-planned per micro-batch."""
    from ..streaming.replay import events_stream, run_to_memory

    static_dim = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_nationkey", "c_mktsegment")
    )
    sdf = (
        events_stream(spark, sf_dir)
        .join(F.broadcast(static_dim), "user_id", "inner")
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    return run_to_memory(sdf, output_mode="complete")


@query("stream_live_stateful", oracle=None, tags=("streaming", "live"))
def stream_live_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming: applyInPandasWithState keeping a
    per-user running (count, max value) across micro-batches — the escape
    hatch for operators watermark windows can't express (custom session
    logic, CEP, counters). GroupStateTimeout bounds state life."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..streaming.replay import events_stream, run_to_memory

    def track(key, pdfs, state: GroupState):
        cnt, mx = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            cnt += len(pdf)
            mx = max(mx, float(pdf["value"].max()))
        state.update((cnt, mx))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [cnt], "max_value": [mx]})

    sdf = (
        events_stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            track,
            outputStructType="user_id long, n_events long, max_value double",
            stateStructType="cnt long, mx double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return run_to_memory(sdf, output_mode="update")


@query("stream_live_stream_join", oracle=None, tags=("streaming", "live"))
def stream_live_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join: clicks joined to views of the same user within
    the preceding hour, both sides watermarked so the join state is
    bounded by the lateness horizon + time-range condition — the standard
    unbounded-join shape. Two independent readStream instances replay the
    same topic (a self-join of the event stream)."""
    from ..streaming.replay import events_stream, run_to_memory

    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "30 minutes")
    )
    views = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "30 minutes")
    )
    joined = clicks.join(
        views,
        (F.col("c_user") == F.col("v_user"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("click_id", "view_id", "c_user", "click_ts", "view_ts")
    # A stream-stream join opens FOUR state stores per partition
    # (keyToNumValues/keyWithIndex × left/right), so per-partition store
    # open+commit dominates bounded replay state: interleaved A/B at
    # sf0.1 reads 1.65/1.73/2.20/3.6 s at 2/4/8/16 partitions. 4 keeps
    # half the session's stateful parallelism while shedding the store
    # overhead; a real deployment sizes this to state volume instead
    # (the SPARK_GRAFT_STREAM_STATE_PARTITIONS knob covers the rest of
    # the family — this explicit value documents the join-specific
    # 4-stores trade, r13 measured).
    return run_to_memory(joined, output_mode="append", state_partitions=4)


@query("stream_live_stream_outer_join", oracle=None, tags=("streaming", "live"))
def stream_live_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: every click emits, with its matched
    view or NULLs. Outer stream-stream joins are watermark-driven — a
    click's null row can only be emitted once the watermark proves no
    matching view can still arrive, so the join state holds unmatched
    left rows exactly until the lateness horizon + join window passes:
    the semantics (and the state-eviction bound) that distinguish this
    from the inner twin (stream_live_stream_join)."""
    from ..streaming.replay import events_stream, run_to_memory

    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "30 minutes")
    )
    views = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "30 minutes")
    )
    joined = clicks.join(
        views,
        (F.col("c_user") == F.col("v_user"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    ).select(
        "click_id",
        "c_user",
        "click_ts",
        "view_id",
        F.col("view_id").isNull().alias("unmatched"),
    )
    # state_partitions=4: same 4-stores-per-partition trade as
    # stream_live_stream_join (see the comment there; measured r13).
    return run_to_memory(joined, output_mode="append", state_partitions=4)


@query("stream_live_chained_stateful", oracle=None, tags=("streaming", "live"))
def stream_live_chained_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO stateful operators chained in one streaming query — watermarked
    dedup followed by a tumbling event-time aggregation — exercising
    Spark's multiple-stateful-operator support (3.5+): the watermark
    propagates through the dedup into the window operator, which emits a
    window only after the (propagated) watermark passes its end, so the
    query runs in append mode end-to-end. On an unbounded pipeline this
    is the canonical "dedup the firehose, then rate it per window" shape
    with both state stores watermark-evicted; in a bounded replay the
    final open window is withheld by design (append semantics), which is
    why the row set is smaller than the complete-mode twin
    (stream_live_tumbling over raw events)."""
    from ..streaming.replay import events_stream, run_to_memory

    sdf = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(F.col("window.start").alias("wstart"), "event_type", "n_events", "total_value")
    )
    return run_to_memory(sdf, output_mode="append")


@query(
    "ts_resample_gapfill",
    oracle=f"""
        WITH hourly AS (
            SELECT user_id, date_trunc('hour', ts) AS hour,
                   COUNT(*) AS n_events,
                   {dec_sum_sql('value')} AS hour_value
            FROM events WHERE user_id < 40 GROUP BY 1, 2
        ),
        span AS (
            SELECT user_id,
                   date_trunc('hour', min(ts)) AS h0,
                   date_trunc('hour', max(ts)) AS h1
            FROM events WHERE user_id < 40 GROUP BY 1
        ),
        grid AS (
            SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
            FROM span
        )
        SELECT g.user_id, g.hour,
               COALESCE(h.n_events, 0) AS n_events,
               last_value(h.hour_value IGNORE NULLS)
                   OVER (PARTITION BY g.user_id ORDER BY g.hour) AS value_filled,
               CAST(h.hour_value IS NULL AS INT) AS is_gap
        FROM grid g
        LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour
    """,
    tags=("timeseries", "window"),
)
def ts_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample to a fixed 1-hour grid with gap-fill: per-user
    hourly aggregate, a generated dense hour grid spanning each user's own
    activity window (sequence + explode — no driver loop), left join, and
    last-observation-carried-forward interpolation via a running
    `last(value, ignorenulls)` window. The missing-bucket marker (is_gap)
    stays explicit so downstream consumers can distinguish observed zeros
    from interpolated rows. Bounded to user_id < 40 so the grid is
    O(users × span) at every sf. At 100 TB: the grid explode is
    embarrassingly parallel per user, the join + window shuffle once on
    user_id — the standard resample shape for sensor/metric backfills."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").alias("n_events"), dec_sum("value").alias("hour_value"))
    span = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = span.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hour"),
    )
    joined = grid.join(hourly, ["user_id", "hour"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "hour",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.last("hour_value", ignorenulls=True).over(w).alias("value_filled"),
        F.col("hour_value").isNull().cast("int").alias("is_gap"),
    )


@query(
    "ts_rollup_hierarchy",
    oracle=f"""
        SELECT date_trunc('day', ts) AS day,
               event_type,
               COUNT(*) AS n_events,
               {dec_sum_sql('value')} AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    tags=("timeseries", "rollup"),
)
def ts_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup served FROM PARTIALS: the daily aggregate is
    computed by re-aggregating the hourly rollup, never touching raw
    events a second time — the continuous-aggregate pattern (hypertable
    rollups, OLAP cubes): materialize the finest grain once, answer every
    coarser grain from it. The oracle aggregates the RAW table directly,
    so the hash-match proves re-aggregation is lossless — true because
    counts and decimal sums are exactly mergeable (which is why the
    engine aggregates doubles through the decimal domain: IEEE partial
    sums would NOT re-aggregate bit-identically). At 100 TB the hourly
    table is ~5 orders of magnitude smaller than raw events, so every
    downstream grain costs near-nothing."""
    ev = load_table(spark, sf_dir, "events")
    # finest grain: exact decimal partials per (hour, type) — kept as
    # decimal (not rounded to double) so coarser grains merge losslessly
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("value_dec"),
    )
    # coarser grain from partials only: sum of counts, sum of decimal sums
    return (
        hourly.groupBy(F.date_trunc("day", "hour").alias("day"), "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("value_dec"), 2).cast("double").alias("total_value"),
        )
    )


@query(
    "events_funnel_conversion",
    oracle="""
        WITH tagged AS (
            SELECT event_id, user_id, ts,
                   CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click,
                   CASE WHEN event_type = 'view' THEN ts END AS view_ts
            FROM events WHERE event_type IN ('view', 'click')
        ),
        cf AS (
            SELECT *,
                   last_value(view_ts IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, is_click, event_id
                   ) AS last_view_ts
            FROM tagged
        )
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               COUNT(*) AS n_clicks,
               CAST(count_if(last_view_ts >= ts - INTERVAL 30 MINUTE) AS BIGINT)
                 AS n_converted,
               CAST(CAST(count_if(last_view_ts >= ts - INTERVAL 30 MINUTE) AS BIGINT)
                    AS DOUBLE) / COUNT(*) AS conversion_rate
        FROM cf WHERE is_click = 1
        GROUP BY 1
    """,
    tags=("timeseries", "funnel"),
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion: per day, the share of clicks preceded by a view
    from the same user within 30 minutes — the attribution query every
    clickstream warehouse runs. Same scale-safe shape as the as-of join:
    union-tag both event kinds, ONE window per user carrying the last
    view timestamp forward (views sort before clicks on timestamp ties),
    then a per-day aggregate — one shuffle on user_id, one partial-agg
    shuffle on day; never a click×view pair join, so hot users cost
    linear work."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    tagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        (F.col("event_type") == "click").cast("int").alias("is_click"),
        F.when(F.col("event_type") == "view", F.col("ts")).alias("view_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_click", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cf = tagged.withColumn("last_view_ts", F.last("view_ts", ignorenulls=True).over(w))
    converted = (
        F.col("last_view_ts") >= F.col("ts") - F.expr("INTERVAL 30 MINUTES")
    ).cast("int")
    return (
        cf.filter(F.col("is_click") == 1)
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(
            F.count("*").alias("n_clicks"),
            F.sum(converted).cast("bigint").alias("n_converted"),
            (F.sum(converted).cast("double") / F.count("*")).alias("conversion_rate"),
        )
    )


def _sliced_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a stream of four micro-batches: staged once
    (per source content, ``scratch_tag``) as four files, deterministic
    slices by ``event_id``, and read one file per trigger
    (maxFilesPerTrigger=1)."""
    import os
    import shutil

    from ..session import ensure_runtime_conf
    from ..streaming.replay import SCRATCH, scratch_tag

    ensure_runtime_conf(spark)
    stage_dir = os.path.join(SCRATCH, "replay_multi", scratch_tag(sf_dir, ("events",)))
    if not os.path.exists(os.path.join(stage_dir, "_done")):
        shutil.rmtree(stage_dir, ignore_errors=True)
        ev = load_table(spark, sf_dir, "events")
        ev.withColumn("slice", F.pmod(F.col("event_id"), F.lit(4))).write.mode(
            "overwrite"
        ).partitionBy("slice").parquet(stage_dir)
        with open(os.path.join(stage_dir, "_done"), "w") as f:
            f.write("ok")
    return (
        spark.readStream.schema(load_table(spark, sf_dir, "events").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(stage_dir, "slice=*"))
    )


@query("stream_live_multibatch", oracle=None, tags=("streaming", "live"))
def stream_live_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genuinely incremental micro-batching: the events table is staged as
    FOUR files and the file source is throttled to one file per trigger
    (maxFilesPerTrigger=1 — the file-source analog of the reference's
    ≤500-record poll batches, README.adoc:34), so the windowed aggregate
    is built across four separate micro-batches with state carried in the
    store between them — not one bulk pass. The output must equal the
    single-batch answer; n_batches is surfaced so the multi-batch
    execution is visible, not assumed."""
    from ..streaming.replay import run_to_memory

    sdf = events_ts(_sliced_events_stream(spark, sf_dir))
    sdf = sdf.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("window.start").alias("wstart"), "event_type", "n_events")
    )
    return run_to_memory(agg, output_mode="complete")


def _merge_upsert_batch(batch_df, batch_id: int, state_dir: str) -> None:
    """foreachBatch body of stream_live_upsert: MERGE the micro-batch's
    per-user delta into the keyed parquet state table.

    foreachBatch is at-least-once: a crash after the state swap but before
    the streaming checkpoint commit replays the same batch_id, so the
    last-applied batch id is persisted WITH the state (``_last_batch``,
    swapped atomically alongside the data) and a replayed batch is a no-op
    — the batch-id dedup pattern production foreachBatch MERGE sinks use.
    Batch ids are monotone within a query, so ``batch_id <= last`` means
    already applied."""
    import os
    import shutil

    meta = os.path.join(state_dir, "_last_batch")
    if os.path.exists(meta):
        with open(meta) as f:
            if batch_id <= int(f.read().strip()):
                return
    delta = batch_df.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("total_value"),
    )
    if os.path.exists(os.path.join(state_dir, "_SUCCESS")):
        cur = batch_df.sparkSession.read.parquet(state_dir)
        merged = cur.join(delta.select("user_id"), "user_id", "left_anti").unionByName(
            cur.join(delta, "user_id", "left_semi")
            .unionByName(delta)
            .groupBy("user_id")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("total_value").alias("total_value"),
            )
        )
    else:
        merged = delta
    # parquet has no transactional MERGE: write-new-then-swap gives the
    # same all-or-nothing visibility per batch in this sandbox
    tmp = state_dir + f".b{batch_id}"
    merged.write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, "_last_batch"), "w") as f:
        f.write(str(batch_id))
    if os.path.exists(state_dir):
        shutil.rmtree(state_dir)
    os.rename(tmp, state_dir)


@query("stream_live_upsert", oracle=None, tags=("streaming", "live", "sink"))
def stream_live_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE: every micro-batch upserts per-user running totals
    into a keyed parquet state table through foreachBatch (anti-join out
    the changed keys, union the fresh rows — the same merge shape as
    sink_upsert_merge, driven incrementally). The throttled 4-file replay
    (one file per trigger) makes it a genuine multi-batch merge; the
    final table must hold exactly one row per user with totals equal to
    the batch answer — checked by the rows-only harness via row count and
    by pytest via value equality. This is the streaming→serving-table
    pattern every warehouse ingest runs; on a lakehouse the foreachBatch
    body becomes a transactional MERGE INTO."""
    import os
    import uuid

    from ..streaming.replay import SCRATCH, drain

    run_id = uuid.uuid4().hex[:12]
    state_dir = os.path.join(SCRATCH, "upsert_state", run_id)
    writer = _sliced_events_stream(spark, sf_dir).writeStream.foreachBatch(
        lambda batch_df, batch_id: _merge_upsert_batch(batch_df, batch_id, state_dir)
    )
    drain(writer, os.path.join(SCRATCH, "ckpt", f"upsert_{run_id}"), 120)
    return spark.read.parquet(state_dir).orderBy("user_id")


@query(
    "stream_live_doc_curation",
    oracle=None,
    tags=("streaming", "live", "llm"),
)
def stream_live_doc_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time corpus curation through the streaming runtime: the
    documents table replayed as a stream (each micro-batch ≙ a crawl
    drop), quality-gated with THE shared char-level gate
    (llm_text.quality_gate), exact-deduplicated on the whitespace-
    normalized content fingerprint with a DETERMINISTIC survivor
    (min-doc_id per fingerprint, one streaming aggregation — state is
    one 16-byte key per distinct doc, the streaming twin of
    dedup_incremental_batch's corpus side), then rolled up into
    per-language admitted counts. pytest pins the result equal to
    running the identical gates in batch.

    At scale the source swaps for the Kafka/drop-box ingest feed and the
    dedup state lives in the state store keyed by fingerprint — new
    drops check against everything already admitted without any batch
    recompute."""
    from ..streaming.replay import documents_stream, run_to_memory
    from .llm_text import quality_gate

    sdf = documents_stream(spark, sf_dir)
    # Deterministic survivor per fingerprint: min_by(lang, doc_id) in ONE
    # streaming aggregation (streaming dropDuplicates keeps the arbitrary
    # first arrival, and duplicate fingerprints can span languages — the
    # counts would then depend on micro-batch order). The per-language
    # rollup runs in batch on the memory-sink result: two chained
    # arbitrary groupBys are not a supported streaming shape, and the
    # admitted-fingerprint table is already dedup-sized.
    admitted = (
        sdf.filter(quality_gate())
        .withColumn(
            "fp", F.md5(F.regexp_replace(F.lower("text"), r"\s+", " "))
        )
        .groupBy("fp")
        .agg(F.min_by("lang", "doc_id").alias("lang"))
    )
    kept = run_to_memory(admitted, output_mode="complete")
    return kept.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_admitted")
    )


@query(
    "events_cohort_retention",
    oracle="""
        WITH first_seen AS (
            SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT f.cohort_week,
                   CAST(date_diff('day', f.cohort_week,
                                  date_trunc('week', e.ts)) // 7 AS INTEGER)
                       AS weeks_since,
                   e.user_id
            FROM events e JOIN first_seen f USING (user_id)
        ),
        cohort_sizes AS (
            SELECT cohort_week, COUNT(*) AS cohort_size FROM first_seen
            GROUP BY cohort_week
        )
        SELECT CAST(a.cohort_week AS DATE) AS cohort_week,
               a.weeks_since,
               CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS active_users,
               CAST(s.cohort_size AS BIGINT) AS cohort_size,
               round(CAST(COUNT(DISTINCT a.user_id) AS DOUBLE)
                     / s.cohort_size, 6) AS retention
        FROM activity a JOIN cohort_sizes s USING (cohort_week)
        GROUP BY a.cohort_week, a.weeks_since, s.cohort_size
    """,
    tags=("events", "analytics"),
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen week, one row
    per (cohort, weeks-since) with active distinct users and the
    retention fraction of the cohort — the canonical product-analytics
    rollup.

    Scale shape: first-seen is one groupBy(user) aggregate; the join
    back is user-keyed (broadcastable while the user dimension fits, the
    usual case — events outnumber users by orders of magnitude); the
    final aggregate partial-aggregates map-side. Week truncation is ISO
    Monday-start in both engines, and weeks_since is integer day-diff
    div 7 — no float time math anywhere."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.join(F.broadcast(first_seen), "user_id").select(
        "user_id",
        "cohort_week",
        (
            F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
            / 7
        )
        .cast("int")
        .alias("weeks_since"),
    )
    sizes = first_seen.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_size")
    )
    return (
        activity.join(F.broadcast(sizes), "cohort_week")
        .groupBy("cohort_week", "weeks_since", "cohort_size")
        .agg(F.countDistinct("user_id").cast("bigint").alias("active_users"))
        .select(
            F.col("cohort_week").cast("date").alias("cohort_week"),
            "weeks_since",
            "active_users",
            F.col("cohort_size").cast("bigint").alias("cohort_size"),
            F.round(
                F.col("active_users").cast("double") / F.col("cohort_size"), 6
            ).alias("retention"),
        )
    )


@query(
    "events_markov_transitions",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type
            FROM events
        ),
        trans AS (
            SELECT prev_type AS from_type, event_type AS to_type,
                   COUNT(*) AS n
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY 1, 2
        ),
        totals AS (
            SELECT from_type, SUM(n) AS tot FROM trans GROUP BY from_type
        )
        SELECT t.from_type, t.to_type, CAST(t.n AS BIGINT) AS n,
               round(CAST(t.n AS DOUBLE) / x.tot, 6) AS p
        FROM trans t JOIN totals x USING (from_type)
    """,
    tags=("events", "analytics", "window"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: consecutive event-type pairs (deterministic order by
    (ts, event_id)), transition counts, and row-normalized transition
    probabilities — the sequence-analytics primitive behind journey
    mining and next-event prediction baselines.

    Scale shape: ONE user-keyed window (lag) — per-user partitions,
    no global sort — then a states²-bounded aggregate (|event_types|² =
    25 rows here; bounded by the vocabulary of states, not by event
    volume) whose totals join is a broadcast of a states-sized table."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n"))
    )
    totals = trans.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return trans.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n").cast("double") / F.col("tot"), 6).alias("p"),
    )


@query(
    "events_time_to_convert",
    oracle="""
        WITH firsts AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'signup' THEN ts END) AS signup_ts,
                   MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS purchase_ts
            FROM events GROUP BY user_id
        ),
        conv AS (
            SELECT user_id,
                   CAST(date_diff('second', signup_ts, purchase_ts) AS BIGINT)
                       AS secs_to_convert
            FROM firsts
            WHERE signup_ts IS NOT NULL AND purchase_ts IS NOT NULL
              AND purchase_ts >= signup_ts
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
               CAST(MIN(secs_to_convert) AS BIGINT) AS min_secs,
               CAST(MAX(secs_to_convert) AS BIGINT) AS max_secs,
               CAST(CAST(SUM(secs_to_convert) AS DOUBLE) / COUNT(*) AS DOUBLE)
                   AS avg_secs,
               CAST(median(secs_to_convert) AS DOUBLE) AS median_secs
        FROM conv
    """,
    tags=("events", "analytics"),
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: per user, the gap between first
    signup and first purchase (when the purchase follows), summarized as
    count/min/max/mean/median — the funnel-latency readout next to
    events_funnel_conversion's step counts.

    Scale shape: ONE user-keyed aggregate builds both first-event
    timestamps via conditional MIN (no self-join of the events table),
    then a scalar summary. The exact median runs through the two-phase
    bucket-rank helper (r6: the latency table is users-sized, and at
    1e9 users a single-buffer `percentile()` is the same scale-killer
    the fact-table queries were purged of) and rides back as a
    broadcast 1-row relation. Integer second arithmetic everywhere —
    the mean is one IEEE divide of an exact integer sum."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "signup_ts"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "purchase_ts"
        ),
    )
    conv = firsts.filter(
        F.col("signup_ts").isNotNull()
        & F.col("purchase_ts").isNotNull()
        & (F.col("purchase_ts") >= F.col("signup_ts"))
    ).select(
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("signup_ts")
        ).alias("secs_to_convert")
    ).localCheckpoint(eager=True)  # users-sized; consumed by 2 passes below
    from .aggregates import _exact_percentiles_scalable

    med = _exact_percentiles_scalable(
        spark, conv, "secs_to_convert", {"median_secs": 0.5}
    )
    return conv.agg(
        F.count("*").cast("bigint").alias("n_converted"),
        F.min("secs_to_convert").cast("bigint").alias("min_secs"),
        F.max("secs_to_convert").cast("bigint").alias("max_secs"),
        (F.sum("secs_to_convert").cast("double") / F.count("*")).alias(
            "avg_secs"
        ),
    ).crossJoin(F.broadcast(med))


@query(
    "events_rfm_segmentation",
    oracle="""
        WITH rfm AS (
            SELECT user_id,
                   date_diff('day', MAX(ts), TIMESTAMP '2024-02-01 00:00:00')
                       AS recency_days,
                   COUNT(*) AS frequency,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR)
                        AS DOUBLE) AS monetary
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id
        ),
        scored AS (
            SELECT user_id, recency_days, frequency, monetary,
                   ntile(4) OVER (ORDER BY recency_days, user_id) AS r_score,
                   ntile(4) OVER (ORDER BY frequency DESC, user_id) AS f_score,
                   ntile(4) OVER (ORDER BY monetary DESC, user_id) AS m_score
            FROM rfm
        )
        SELECT r_score, f_score, m_score,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(CAST(SUM(CAST(monetary AS DECIMAL(18,4))) AS VARCHAR)
                    AS DOUBLE) AS segment_value
        FROM scored GROUP BY 1, 2, 3
    """,
    tags=("events", "analytics", "window"),
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per purchasing user, recency (days before the
    analysis date), frequency, and monetary value, quartile-scored with
    deterministic tie-breaks (user_id), rolled up to segment counts and
    value — the classic customer-value cube.

    Scale shape: one purchase-filtered user aggregate (events never
    self-join); the three ntile windows run over the users-sized table.
    The windows here are unpartitioned because the scored table is
    users-sized; at 100 TB with billions of users the quartile cuts come
    from approx quantiles (sketch_quantile_bottomk's shape) applied as
    map-side predicates instead — the output contract is identical.
    Monetary sums are decimal-exact (via-string double conversion, the
    agg_corr pattern)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    rfm = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.datediff(
                F.lit("2024-02-01").cast("timestamp"), F.max("ts")
            ).alias("recency_days"),
            F.count("*").alias("frequency"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("string")
            .cast("double")
            .alias("monetary"),
        )
    )
    scored = rfm.select(
        "monetary",
        F.ntile(4)
        .over(Window.orderBy("recency_days", "user_id"))
        .alias("r_score"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("frequency"), F.asc("user_id")))
        .alias("f_score"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("monetary"), F.asc("user_id")))
        .alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum(F.col("monetary").cast("decimal(18,4)"))
        .cast("string")
        .cast("double")
        .alias("segment_value"),
    )


@query(
    "events_activity_streaks",
    oracle="""
        WITH days AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        ),
        grp AS (
            SELECT user_id, d,
                   d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                            AS INTEGER) AS anchor
            FROM days
        ),
        streaks AS (
            SELECT user_id, COUNT(*) AS len, MIN(d) AS streak_start
            FROM grp GROUP BY user_id, anchor
        ),
        best AS (
            SELECT user_id, len, streak_start,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY len DESC, streak_start) AS rn
            FROM streaks
        )
        SELECT user_id, CAST(len AS BIGINT) AS longest_streak_days,
               streak_start
        FROM best WHERE rn = 1
    """,
    tags=("events", "analytics", "window"),
)
def events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (classic
    gaps-and-islands: distinct active days, anchor = day minus its
    per-user rank so consecutive runs share an anchor, longest island
    wins with earliest-start tie-break) — the engagement metric next to
    the cohort matrix.

    Scale shape: distinct(user, day) collapses events to at most
    users×days rows in one partial-aggregated shuffle; both windows
    partition by user (no global ordering); everything else is integer
    date arithmetic, identical in both engines."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.withColumn(
        "anchor", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    streaks = grp.groupBy("user_id", "anchor").agg(
        F.count("*").alias("len"), F.min("d").alias("streak_start")
    )
    best_w = Window.partitionBy("user_id").orderBy(
        F.desc("len"), F.asc("streak_start")
    )
    return (
        streaks.withColumn("rn", F.row_number().over(best_w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("len").cast("bigint").alias("longest_streak_days"),
            "streak_start",
        )
    )


@query(
    "events_sessionize_batch",
    oracle="""
        WITH ordered AS (
            SELECT user_id, ts, event_id, event_type,
                   lag(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_ts
            FROM events
        ),
        flagged AS (
            SELECT *, CASE WHEN prev_ts IS NULL
                             OR date_diff('microsecond', prev_ts, ts)
                                > 1800 * 1000000
                           THEN 1 ELSE 0 END AS new_sess
            FROM ordered
        ),
        sess AS (
            SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING) AS session_idx
            FROM flagged
        )
        SELECT user_id,
               CAST(session_idx AS BIGINT) AS session_idx,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MIN(ts) AS session_start,
               CAST(date_diff('microsecond', MIN(ts), MAX(ts)) // 1000000
                    AS BIGINT) AS duration_sec,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_event_types
        FROM sess
        GROUP BY user_id, session_idx
    """,
    tags=("events", "analytics", "window"),
)
def events_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization (the 30-minute-inactivity rule):
    per user, a new session starts whenever the gap to the previous
    event exceeds 1800 s; sessions are numbered by a running sum of the
    new-session flags, then aggregated to per-session stats (event
    count, start, duration, distinct event types). The batch twin of
    ``stream_session_window`` — the same session boundaries a streaming
    session window with a 30-minute gap would close, computed over the
    historical table.

    Scale shape: both windows and the final aggregate partition by
    user_id — one shuffle key end to end, no global ordering anywhere;
    the running sum is per-user ROWS UNBOUNDED PRECEDING (streamable
    frame, no buffering beyond the partition). Gap arithmetic uses
    timestampdiff on the NTZ timestamps — timezone-free and identical
    in both engines; (ts, event_id) makes the within-user order total,
    so session numbering is deterministic."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_sess",
        F.when(
            F.col("prev_ts").isNull()
            | (F.expr("timestampdiff(MICROSECOND, prev_ts, ts)") > 1800 * 1000000),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_idx",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.expr("timestampdiff(MICROSECOND, min(ts), max(ts)) div 1000000")
        .cast("bigint")
        .alias("duration_sec"),
        F.countDistinct("event_type").cast("bigint").alias("n_event_types"),
    )


@query(
    "events_pattern_regex",
    oracle="""
        WITH seq AS (
            SELECT user_id,
                   string_agg(substring(event_type, 1, 1), ''
                              ORDER BY ts, event_id) AS s
            FROM events GROUP BY user_id
        )
        SELECT user_id,
               CAST(length(s) AS BIGINT) AS n_events,
               CAST(length(regexp_replace(s, '[^v]', '', 'g')) AS BIGINT)
                   AS n_views,
               regexp_matches(s, 'v[^p]*c[^p]*p') AS funnel_vcp,
               regexp_matches(s, 'ee') AS error_burst,
               CAST((length(s) - length(regexp_replace(s, 'vp', '', 'g'))) // 2
                    AS BIGINT) AS quick_convert_count
        FROM seq
    """,
    tags=("events", "analytics", "pattern"),
)
def events_pattern_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern detection over event streams (the MATCH_RECOGNIZE
    workload, expressed portably): each user's history collapses to an
    order-pinned string of event initials, and patterns become regexes —
    view→click→purchase with no intervening purchase (`v[^p]*c[^p]*p`),
    consecutive-error bursts (`ee`), and immediate view→purchase
    conversions counted by replacement-length arithmetic. Far more
    expressive than the fixed-step funnel query and still one shuffle.

    Scale shape: ONE user-keyed aggregation builds the sequence string
    (order_by inside string_agg — per-group sort, no global order); the
    regexes run per user-row in codegen. Sequence length is bounded by
    per-user activity, not corpus size; a pathological power-user's
    string is capped in production by windowing the history (the
    session/cohort queries' pattern)."""
    ev = load_table(spark, sf_dir, "events")
    seq = ev.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("c"))
                    )
                ),
                lambda s: s["c"],
            ),
        ).alias("s")
    )
    s = F.col("s")
    return seq.select(
        "user_id",
        F.length(s).cast("bigint").alias("n_events"),
        F.length(F.regexp_replace(s, "[^v]", "")).cast("bigint").alias("n_views"),
        s.rlike("v[^p]*c[^p]*p").alias("funnel_vcp"),
        s.rlike("ee").alias("error_burst"),
        F.floor(
            (F.length(s) - F.length(F.regexp_replace(s, "vp", ""))) / 2
        ).cast("bigint").alias("quick_convert_count"),
    )


@query(
    "events_attribution_last_touch",
    oracle="""
        WITH marked AS (
            SELECT user_id, ts, event_id, event_type, value,
                   max(CASE WHEN event_type = 'click'
                            THEN epoch_us(ts) END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS last_click_us
            FROM events
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_purchases,
               CAST(SUM(CASE WHEN last_click_us IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_attributed,
               CAST(CAST(SUM(CASE WHEN last_click_us IS NOT NULL
                                  THEN CAST(value AS DECIMAL(18,4)) END)
                         AS VARCHAR) AS DOUBLE) AS attributed_value,
               CAST(MAX(epoch_us(ts) - last_click_us) AS BIGINT)
                   AS max_click_to_buy_us
        FROM marked
        WHERE event_type = 'purchase'
        GROUP BY user_id
    """,
    tags=("events", "analytics", "attribution"),
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase is credited to the user's
    most recent PRECEDING click (the marketing-analytics counterpart of
    the as-of join) — per user, how many purchases were attributable,
    the attributed revenue, and the longest click-to-buy latency.

    Scale shape: the same carry-forward trick as join_asof_click_view —
    a per-user running MAX over the conditional click timestamp (ROWS
    ... 1 PRECEDING excludes self-attribution when a click and purchase
    share a timestamp) — one shuffle on user_id, linear in events, never
    a click×purchase pair join. Decimal-exact value sums; timestamps
    compare in epoch microseconds (timezone-free on NTZ)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = ev.withColumn(
        "ts_us", us
    ).withColumn(
        "last_click_us",
        F.max(F.when(F.col("event_type") == "click", F.col("ts_us"))).over(w),
    )
    attributed = F.col("last_click_us").isNotNull()
    return (
        marked.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_purchases"),
            F.sum(attributed.cast("int")).cast("bigint").alias("n_attributed"),
            F.sum(F.when(attributed, F.col("value").cast("decimal(18,4)")))
            .cast("string")
            .cast("double")
            .alias("attributed_value"),
            F.max(F.col("ts_us") - F.col("last_click_us"))
            .cast("bigint")
            .alias("max_click_to_buy_us"),
        )
    )


@query(
    "events_dau_wau_mau",
    oracle="""
        WITH days AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        ),
        bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM days),
        contrib AS (
            SELECT user_id, d AS active_day,
                   d + CAST(g.i AS INTEGER) AS target_day
            FROM days, LATERAL (SELECT unnest(range(0, 30)) AS i) g
        ),
        rolled AS (
            SELECT target_day,
                   COUNT(DISTINCT CASE WHEN target_day = active_day
                                       THEN user_id END) AS dau,
                   COUNT(DISTINCT CASE WHEN target_day - active_day <= 6
                                       THEN user_id END) AS wau,
                   COUNT(DISTINCT user_id) AS mau
            FROM contrib GROUP BY target_day
        )
        SELECT target_day AS day,
               CAST(dau AS BIGINT) AS dau,
               CAST(wau AS BIGINT) AS wau,
               CAST(mau AS BIGINT) AS mau
        FROM rolled, bounds
        WHERE target_day <= hi
    """,
    tags=("events", "analytics", "window"),
)
def events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling active-user counts — DAU / WAU (7-day) / MAU (30-day) per
    calendar day, the engagement dashboard every product pipeline ships.
    COUNT DISTINCT over a sliding frame isn't a window aggregate in
    either engine, so the portable shape is contribution-explode: each
    (user, active day) row contributes to the 30 target days it keeps
    the user "monthly active" for, then one hash aggregate per target
    day counts conditional distincts (DAU at lag 0, WAU at lag ≤ 6, MAU
    all 30). Days beyond the observed range are trimmed.

    Scale shape: events collapse FIRST to the distinct (user, day) grain
    (one partial-aggregated shuffle over the corpus); the ×30 explode
    multiplies only that day-grain table — bounded by users × active
    days, independent of raw event volume — and lands in a day-keyed
    aggregate. The max-day bound rides as a broadcast 1-row aggregate."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    bounds = days.agg(F.max("d").alias("hi"))
    contrib = days.select(
        "user_id",
        F.col("d").alias("active_day"),
        F.explode(F.sequence(F.lit(0), F.lit(29))).alias("i"),
    ).select(
        "user_id",
        "active_day",
        F.expr("date_add(active_day, i)").alias("target_day"),
        F.col("i").alias("lag"),
    )
    rolled = contrib.groupBy("target_day").agg(
        F.countDistinct(
            F.when(F.col("lag") == 0, F.col("user_id"))
        ).cast("bigint").alias("dau"),
        F.countDistinct(
            F.when(F.col("lag") <= 6, F.col("user_id"))
        ).cast("bigint").alias("wau"),
        F.countDistinct("user_id").cast("bigint").alias("mau"),
    )
    return (
        rolled.crossJoin(F.broadcast(bounds))
        .filter(F.col("target_day") <= F.col("hi"))
        .select(
            F.col("target_day").alias("day"), "dau", "wau", "mau"
        )
    )
