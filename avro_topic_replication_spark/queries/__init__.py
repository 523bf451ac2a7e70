"""Query registry: every operator from SURVEY.md §2 as a named query.

Each query is a ``(spark, sf_dir) -> DataFrame`` callable plus (when the
semantics are ANSI-SQL-expressible) a DuckDB oracle SQL string over the same
parquet tables. The driver harness (``__spark_entry__.py``) runs both and
compares row count + schema + order-insensitive value hash, so:

- alias every computed column identically in both,
- aggregate doubles through decimal (functions.numeric) for order
  independence,
- never emit a value that depends on non-deterministic order (bare
  first/last, ties in window ORDER BY, limits without a total order).
"""

from __future__ import annotations

import importlib
import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

REGISTRY: "dict[str, Query]" = {}

_MODULES = (
    "relational",
    "tpch",
    "aggregates",
    "windows",
    "setops",
    "scalar_funcs",
    "llm_text",
    "llm_dedup",
    "llm_vectors",
    "llm_multimodal",
    "llm_sampling",
    "llm_curation",
    "llm_scoring",
    "engine4",
    "udfs",
    "streaming_batch",
    "replication_pipeline",
    "sources_sinks",
    "analytics_ext",
    "analytics_ext2",
    "analytics_ext3",
    "analytics_ext4",
    "analytics_ext5",
)

# Presentation order for the registry. The external correctness harness
# samples a fixed-size (50-row) prefix of the registry each round and
# commits its rows as CORRECTNESS_rNN.json at the repository root, so the
# prefix rotates to whatever most needs a fresh CORRECTNESS row:
#
#   1. queries whose IMPLEMENTATION was rewritten since their last driver
#      row (``_RESAMPLE_FIRST``) — a rewrite invalidates the old row's
#      evidence, so it outranks mere staleness (r12 verdict item 1: 12 of
#      13 r12-rewritten query paths had only builder-side oracle evidence
#      because the stalest-first window happened not to contain them);
#   2. never-sampled oracle-bearing queries (none remain as of r11 —
#      every oracle-bearing query, 307/307, has a green driver row);
#   3. re-samples, STALEST FIRST — ordered by the round in which each
#      query last received a driver row, then family order. That ledger is
#      the CORRECTNESS files themselves (``_sampling_ledger``), read when
#      the registry is first ordered, so a new round's file moves its
#      queries to the back with no edit here. A static prefix would
#      re-verify the same 50 queries forever while r1-era rows age;
#      stalest-first keeps every row's latest verification recent as
#      rounds accumulate.
#
# Queries added in r12 or later must arrive "defer-sample"-tagged for one
# round (they sort to the very back until the tag is dropped, after which
# they lead the window as never-sampled).

# Oracle-bearing queries whose implementation changed after their last
# driver CORRECTNESS row: they lead the next sample window so the driver
# re-verifies the NEW implementation (builder-side qtime --oracle runs
# cover them meanwhile, but driver ground truth is the gate). Add a name
# when its implementation changes; drop it once a CORRECTNESS_rNN row for
# the new implementation lands green. Order within the tuple = order in
# the window.
_RESAMPLE_FIRST: "tuple[str, ...]" = (
    # rebuilt on the stream's batch writer (a static transform runs
    # batch_writer once, as batch 0):
    "replication_dlq_routing",
    "replication_batch_roundtrip",
    # rebuilt on the single replication transform (on_error argument)
    # and the shared registry propagation of plan_replication:
    "replication_stream_roundtrip",
    # decodes through the shared consumer decoder (decode_envelope):
    "replication_evolved_consumer",
    # r13: scans rebalanced (catalog.load_table rebalance_on=) with no
    # driver row since:
    "agg_corr",
    "agg_count_distinct",
    "agg_moment_stats",
    "agg_multiple_regression",
    "agg_pricing_summary",
    "agg_regression",
    "agg_skew_kurtosis",
    "dedup_contamination_check",
    # dedup_semantic_prune was rebalanced too but is rows-only (no
    # oracle), so a window slot cannot produce a hash row for it.
    "text_boilerplate_coverage",
    "vec_label_centroid_classify",
)
_FAMILY_ORDER = (
    "replication_pipeline",
    "llm_curation",
    "llm_scoring",
    "engine4",
    "streaming_batch",
    "tpch",
    "llm_multimodal",
    "aggregates",
    "windows",
    "scalar_funcs",
    "sources_sinks",
    "llm_text",
    "llm_dedup",
    "llm_vectors",
    "llm_sampling",
    "udfs",
    "relational",
    "setops",
)

# The driver's CORRECTNESS files sit at the repository root.
_LEDGER_DIR = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
_CORRECTNESS_FILE = re.compile(r"CORRECTNESS_r(\d+)\.json")

_loaded = False


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator registering a query under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        if isinstance(tags, str):
            # tags=("stats") is a parenthesized str, not a 1-tuple; tuple()
            # would silently explode it into character tags.
            raise TypeError(f"{name}: tags must be a tuple, got str {tags!r}")
        REGISTRY[name] = Query(name, fn, oracle, tuple(tags), fn.__doc__ or "")
        return fn

    return deco


def all_queries() -> "dict[str, Query]":
    global _loaded
    if not _loaded:
        for mod in _MODULES:
            importlib.import_module(f"{__name__}.{mod}")
        _ordered = _presentation_order(REGISTRY)
        REGISTRY.clear()
        REGISTRY.update(_ordered)
        _loaded = True
    return REGISTRY


def _sampling_ledger(root: str = _LEDGER_DIR) -> "dict[str, int]":
    """The round in which each query last received a driver row: for each
    name, the largest ``N`` over the ``CORRECTNESS_rN.json`` files in
    ``root``. Any row counts, green or not. Raises when no file matches,
    so a package separated from its repository cannot silently reorder
    the driver's window."""
    rounds = [
        (int(m[1]), f) for f in os.listdir(root) if (m := _CORRECTNESS_FILE.fullmatch(f))
    ]
    if not rounds:
        raise FileNotFoundError(f"no CORRECTNESS_rN.json in {root}: cannot order the registry")
    ledger: "dict[str, int]" = {}
    for n, f in rounds:
        with open(os.path.join(root, f)) as fh:
            for name in json.load(fh):
                ledger[name] = max(ledger.get(name, 0), n)
    return ledger


def _presentation_order(registry: "dict[str, Query]") -> "dict[str, Query]":
    last_sampled = _sampling_ledger()
    reg_index = {name: i for i, name in enumerate(registry)}
    prefix = f"{__name__}."
    family_rank = {m: i for i, m in enumerate(_FAMILY_ORDER)}

    resample_rank = {n: i for i, n in enumerate(_RESAMPLE_FIRST)}

    def key(item: "tuple[str, Query]"):
        name, q = item
        family = q.fn.__module__.removeprefix(prefix)
        # defer-sample additions sort to the very back (they must not
        # displace anything until their tag is dropped next round);
        # sampled queries rotate stalest-first; never-sampled lead
        # (last_round 0 — which is also exactly the "unsampled,
        # non-deferred" set, so last_round alone orders all three
        # classes and no separate boolean key can drift out of sync
        # with it). Rewritten-since-last-row queries (_RESAMPLE_FIRST)
        # outrank everything: their existing driver row verifies an
        # implementation that no longer exists.
        last_round = (
            999 if "defer-sample" in q.tags
            else last_sampled.get(name, 0)
        )
        return (
            q.oracle is None,  # oracle-bearing first
            resample_rank.get(name, len(resample_rank)),
            last_round,
            family_rank.get(family, len(family_rank)),
            reg_index[name],
        )

    return dict(sorted(registry.items(), key=key))
