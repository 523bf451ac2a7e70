"""SparkSession factory tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` but every setting here is
chosen to survive a multi-executor cluster at ~100 TB: AQE for runtime
re-planning (coalesce + skew joins), partition counts sized by env, Arrow for
any Python exchange, and UTC session time so timestamp semantics are
machine-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Dynamic (runtime-settable) confs the engine relies on. Applied both when we
# create the session ourselves and defensively on sessions handed to us by a
# driver harness (see ensure_runtime_conf).
RUNTIME_CONF = {
    # events.parquet carries INT64 TIMESTAMP(NANOS) which Spark's parquet
    # reader rejects; read as long ns and convert (catalog.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic timestamp semantics regardless of host timezone.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: partition coalescing and skew-join splitting are
    # essential at 100 TB where static planning guesses wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batches for any pandas UDF / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return int(cpus)
        except ValueError:
            pass
    return os.cpu_count() or 8


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` when ``SPARK_GRAFT_DRIVER_MEM`` is unset:
    16g, or three quarters of the host's ``MemAvailable`` if that is less
    (a 16g heap on a 15 GiB host could outgrow the host). 16g where
    ``meminfo`` cannot be read."""
    try:
        with open(meminfo) as f:
            kib = next(int(line.split()[1]) for line in f if line.startswith("MemAvailable:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "16g"
    return f"{min(16 * 1024, kib * 3 // 4 // 1024)}m"


def ensure_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply the engine's dynamic confs to an existing session (idempotent).

    Guarded once per session object: each conf.set is a py4j round-trip
    (~1 ms measured), and load_table calls this on every table load —
    500+ times per bench sweep. Queries that temporarily override a conf
    (loop-narrowed shuffle partitions, AQE-off iterations) restore the
    previous value themselves, so re-asserting here was never load-bearing.
    """
    if getattr(spark, "_atrs_runtime_conf_done", False):
        return spark
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Static conf on this build — leave whatever the session has.
            pass
    spark._atrs_runtime_conf_done = True
    return spark


# Intra-query persist bookkeeping (r12 verdict item 9 / ADVICE): a query
# fn that returns a lazy DataFrame cannot unpersist its own intermediates
# (they materialize only when the caller executes the plan), so every
# .persist() inside a query path registers here instead. The bench's
# per-query spark.catalog.clearCache() evicts the cached BLOCKS anyway;
# release_tracked_persists() is the precise variant for long-lived shared
# sessions (the verify harness, library consumers) — it unpersists every
# tracked plan and drops the references, leaving the cache empty without
# nuking caches the caller owns.
_TRACKED_PERSISTS: "list" = []


def track_persist(df, storage_level=None):
    """persist() a query-internal DataFrame and register it for
    release_tracked_persists(). Returns the persisted DataFrame."""
    df = df.persist() if storage_level is None else df.persist(storage_level)
    _TRACKED_PERSISTS.append(df)
    return df


def release_tracked_persists() -> int:
    """Unpersist every DataFrame registered by track_persist (blocking=False,
    matching clearCache's async eviction). Returns how many were released.
    Call between queries in any session that outlives a single query and
    does not already clearCache."""
    n = 0
    while _TRACKED_PERSISTS:
        df = _TRACKED_PERSISTS.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n


def get_spark(
    app_name: str = "avro-topic-replication-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with the engine's configuration."""
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # Fitted to the host (default_driver_memory); a cluster deploy
        # overrides via spark-submit. Dims (region/nation/customer/supplier/
        # part) should broadcast; facts sort-merge — the 10MB default
        # threshold does the right thing at every SF, AQE corrects at runtime.
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "128MB")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return ensure_runtime_conf(spark)
