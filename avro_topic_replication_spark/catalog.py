"""Catalog: load the driver's parquet testdata as normalized DataFrames.

Tables (FIXTURES.md Group B): region nation customer supplier part orders
lineitem events documents embeddings, one parquet per table under an sf dir.

Normalization contract (so Spark results hash-match the DuckDB oracle, which
reads the same parquet directly):

- ``events.ts`` is INT64 TIMESTAMP(NANOS) in parquet. DuckDB truncates it to
  microseconds on read; Spark cannot read it at all without
  ``spark.sql.legacy.parquet.nanosAsLong=true``. We read ns-as-long and
  rebuild ``ts`` as TIMESTAMP_NTZ via ``ts div 1000`` microseconds — the same
  truncation DuckDB applies, verified value-for-value.
- Everything else is read as-is (ms timestamps arrive as TIMESTAMP_NTZ).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .session import ensure_runtime_conf

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# In-process schema cache — the engine's one-table metastore. A bare
# spark.read.parquet() re-infers the schema from the footer on EVERY call
# (measured 90-165 ms per call on this testdata vs ~45 ms with an explicit
# schema, r12 profile), and the registry's ~350 queries issue 500+
# load_table calls per bench sweep. Keyed on (realpath, mtime_ns, size) so
# a regenerated table re-infers; holds metadata only (a StructType), never
# data or results, exactly like a catalog/metastore would at 100 TB.
_SCHEMA_CACHE: dict[tuple[str, int, int], StructType] = {}


def table_schema(spark: SparkSession, path: str) -> StructType:
    """The parquet file's schema, inferred once per (path, mtime, size)."""
    st = os.stat(path)
    key = (os.path.realpath(path), st.st_mtime_ns, st.st_size)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    return schema


def _parquet_files(path: str) -> "list[str]":
    """A table's parquet files: the file itself, or a Spark-written
    directory's part files in name order (markers and hidden files
    skipped)."""
    if not os.path.isdir(path):
        return [path]
    return [
        os.path.join(path, f)
        for f in sorted(os.listdir(path))
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]


# Footer-statistics cache, same key discipline as _SCHEMA_CACHE: metadata
# only, never data. Used for plan-shape decisions that need a column
# bound (e.g. "do two custkeys fit one packed int64?") without spending a
# Spark job on it — the same role min/max column stats play in a real
# metastore's cost-based decisions.
_COLMAX_CACHE: "dict[tuple[str, int, int, str], int | float | None]" = {}


def column_max(sf_dir: str, table: str, column: str) -> "int | float | None":
    """Upper bound of ``column`` from the parquet footer statistics, or
    None when the file/stats are unavailable (callers must then choose
    the conservative plan). Reads only footer metadata — O(row groups),
    measured ~2 ms — and caches per (realpath, mtime_ns, size, column).
    Handles both single-file tables and Spark-written directories."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        st = os.stat(path)
    except OSError:
        return None
    key = (os.path.realpath(path), st.st_mtime_ns, st.st_size, column)
    if key in _COLMAX_CACHE:
        return _COLMAX_CACHE[key]
    try:
        import pyarrow.parquet as pq

        mx: "int | float | None" = None
        for fp in _parquet_files(path):
            pf = pq.ParquetFile(fp)
            idx = pf.schema_arrow.get_field_index(column)
            if idx < 0:
                mx = None
                break
            for rg in range(pf.metadata.num_row_groups):
                s = pf.metadata.row_group(rg).column(idx).statistics
                if s is None or not s.has_min_max:
                    mx = None
                    break
                mx = s.max if mx is None else max(mx, s.max)
            else:
                continue
            break
    except Exception:
        mx = None
    _COLMAX_CACHE[key] = mx
    return mx


# Row-group count per parquet table (footer metadata, cached like the
# schema cache): the unit of Spark's scan parallelism. A row group is
# unsplittable — the task whose byte range holds its midpoint reads ALL
# of it — so a one-row-group file executes its whole scan stage, plus
# everything codegen fuses into it (partial aggregates, explodes, UDF
# projections), on ONE task no matter how many cores the session has.
_ROWGROUPS_CACHE: "dict[tuple[str, int, int], int | None]" = {}


def table_row_groups(path: str) -> "int | None":
    """Total parquet row groups under ``path`` (file or directory), or
    None when unknown. Footer metadata only; cached per (realpath,
    mtime_ns, size)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    key = (os.path.realpath(path), st.st_mtime_ns, st.st_size)
    if key in _ROWGROUPS_CACHE:
        return _ROWGROUPS_CACHE[key]
    try:
        import pyarrow.parquet as pq

        n = sum(pq.ParquetFile(fp).metadata.num_row_groups for fp in _parquet_files(path))
    except Exception:
        n = None
    _ROWGROUPS_CACHE[key] = n
    return n


def events_ts(df: DataFrame) -> DataFrame:
    """``df`` (events, batch or streaming) with its ns-long ``ts`` rebuilt
    as TIMESTAMP_NTZ, unchanged when ``ts`` is no long: ns-long -> µs -> NTZ
    anchored at the epoch; timestampadd on an NTZ literal is
    timezone-independent, matching DuckDB's truncating read."""
    if dict(df.dtypes).get("ts") != "bigint":
        return df
    return df.withColumn(
        "ts",
        F.expr("timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"),
    )


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    rebalance_on: "str | None" = None,
) -> DataFrame:
    """Load one testdata table, normalized (see module docstring).

    ``rebalance_on``: opt-in scan rebalancing for queries whose heavy
    per-row work is FUSED into the scan stage (decimal power sums, n-gram
    explosion, vector folds, batched Python UDFs). Parquet row groups are
    unsplittable, so a source laid out with fewer row groups than the
    session has cores serializes that work (guide §2.5 "one huge
    unsplittable file": repartition immediately after the read). When —
    and only when — the footer metadata shows such a deficit, the scan is
    hash-repartitioned on the given near-unique column to the session's
    shuffle width; a production-scale source (thousands of row groups)
    makes this a structural no-op, so nothing here is tuned to local
    mode. Hash, not round-robin: round-robin pays a per-task local sort
    (spark.sql.execution.sortBeforeRepartition) and is slower (measured
    1.28 vs 0.68 s on the agg_corr shape), while a near-unique hash key
    spreads evenly and stays deterministic under task retries.
    NOT applied by default: for scans feeding only light work the extra
    exchange is a net loss (measured: +0.2-0.4 s on events/orders
    groupBys) — call sites opt in per measured query."""
    ensure_runtime_conf(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(table_schema(spark, path)).parquet(path)
    if name == "events":
        df = events_ts(df)
    if rebalance_on is not None:
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
        rgs = table_row_groups(path)
        if rgs is not None and rgs < max(2, width // 2):
            df = df.repartition(width, rebalance_on)
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> None:
    """Register every table as a temp view (for spark.sql entry points)."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(prefix + name)
