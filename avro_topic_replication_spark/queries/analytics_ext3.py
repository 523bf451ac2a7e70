"""Round-6 analytics extensions, batch 3: statistical tests (Welch t,
Kolmogorov–Smirnov), generalized power means, weighted median, rolling
medians, corpus n-gram frequency / Zipf fit, graph co-occurrence
projections, and deterministic pair-distance profiling.

All [EXT] surface beyond the reference's replication dataflow
(``ReplicationApplication.java:71`` is its only transform). Every query is
oracle-checked against DuckDB; scale notes per query docstring.

Cross-engine numeric discipline (see SCALE.md): only IEEE-exact operations
(+, -, *, /, sqrt, comparisons) run on doubles; anything accumulated is
first cast to DECIMAL so the sum is exact and order-independent.
Transcendentals (ln/exp) are avoided in hash-matched columns — Java's
``Math.log`` and libm's ``log`` are each within 1 ulp but not always the
*same* ulp, so a 600k-row sum of lns cannot be made bit-stable across
engines. Power means at p = -1, 1, 2 need only division/multiply/sqrt and
are exact; the geometric mean (p → 0) is deliberately excluded.

"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.numeric import dec, dec_sum_exact, dec_sum_exact_sql
from . import query

@query(
    "stat_welch_ttest",
    oracle=f"""
        WITH s AS (
            SELECT
                COUNT(*) FILTER (c_mktsegment = 'BUILDING') AS n1,
                COUNT(*) FILTER (c_mktsegment = 'MACHINERY') AS n2,
                {dec_sum_exact_sql("CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal END")} AS sx1,
                {dec_sum_exact_sql("CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal * c_acctbal END")} AS sxx1,
                {dec_sum_exact_sql("CASE WHEN c_mktsegment = 'MACHINERY' THEN c_acctbal END")} AS sx2,
                {dec_sum_exact_sql("CASE WHEN c_mktsegment = 'MACHINERY' THEN c_acctbal * c_acctbal END")} AS sxx2
            FROM customer
        )
        SELECT n1, n2,
               sx1 / n1 AS mean_building,
               sx2 / n2 AS mean_machinery,
               (sxx1 - sx1 * sx1 / n1) / (n1 - 1) AS var_building,
               (sxx2 - sx2 * sx2 / n2) / (n2 - 1) AS var_machinery,
               (sx1 / n1 - sx2 / n2)
                 / sqrt((sxx1 - sx1 * sx1 / n1) / (n1 - 1) / n1
                        + (sxx2 - sx2 * sx2 / n2) / (n2 - 1) / n2) AS t_stat,
               ((sxx1 - sx1 * sx1 / n1) / (n1 - 1) / n1
                + (sxx2 - sx2 * sx2 / n2) / (n2 - 1) / n2)
               * ((sxx1 - sx1 * sx1 / n1) / (n1 - 1) / n1
                  + (sxx2 - sx2 * sx2 / n2) / (n2 - 1) / n2)
               / ((sxx1 - sx1 * sx1 / n1) / (n1 - 1) / n1
                  * ((sxx1 - sx1 * sx1 / n1) / (n1 - 1) / n1) / (n1 - 1)
                  + (sxx2 - sx2 * sx2 / n2) / (n2 - 1) / n2
                    * ((sxx2 - sx2 * sx2 / n2) / (n2 - 1) / n2) / (n2 - 1))
                 AS welch_df
        FROM s
    """,
    tags=("stats",),
)
def stat_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between two customer segments'
    account balances, computed from exact decimal power sums in ONE
    aggregation pass (conditional sums — no join, no second scan).

    The native ``stddev``/``var_samp`` of either engine accumulates IEEE
    doubles in scan order and cannot hash-match; six exact decimal sums
    plus a fixed IEEE epilogue are bit-stable on both engines and keep
    map-side partial aggregation (the shuffle carries six numbers total).
    100-TB shape: a single scan → one 1-row aggregate; nothing grows with
    data volume."""
    c = load_table(spark, sf_dir, "customer")
    b = F.col("c_mktsegment") == "BUILDING"
    m = F.col("c_mktsegment") == "MACHINERY"
    bal = F.col("c_acctbal")
    s = c.agg(
        F.count(F.when(b, 1)).alias("n1"),
        F.count(F.when(m, 1)).alias("n2"),
        dec_sum_exact(F.when(b, bal)).alias("sx1"),
        dec_sum_exact(F.when(b, bal * bal)).alias("sxx1"),
        dec_sum_exact(F.when(m, bal)).alias("sx2"),
        dec_sum_exact(F.when(m, bal * bal)).alias("sxx2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    sx1, sxx1 = F.col("sx1"), F.col("sxx1")
    sx2, sxx2 = F.col("sx2"), F.col("sxx2")
    v1 = (sxx1 - sx1 * sx1 / n1) / (n1 - 1)
    v2 = (sxx2 - sx2 * sx2 / n2) / (n2 - 1)
    se1, se2 = v1 / n1, v2 / n2
    return s.select(
        "n1",
        "n2",
        (sx1 / n1).alias("mean_building"),
        (sx2 / n2).alias("mean_machinery"),
        v1.alias("var_building"),
        v2.alias("var_machinery"),
        ((sx1 / n1 - sx2 / n2) / F.sqrt(se1 + se2)).alias("t_stat"),
        (
            (se1 + se2) * (se1 + se2)
            / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1))
        ).alias("welch_df"),
    )


@query(
    "agg_generalized_means",
    oracle=f"""
        SELECT o_orderpriority,
               COUNT(*) AS n,
               {dec_sum_exact_sql('o_totalprice')} / COUNT(*) AS arithmetic_mean,
               COUNT(*) / CAST(CAST(SUM(CAST(1.0 / o_totalprice AS DECIMAL(18,16)))
                                AS VARCHAR) AS DOUBLE) AS harmonic_mean,
               sqrt({dec_sum_exact_sql('o_totalprice * o_totalprice')} / COUNT(*))
                 AS quadratic_mean
        FROM orders
        GROUP BY o_orderpriority
    """,
    tags=("agg", "stats"),
)
def agg_generalized_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized power means (p = -1 harmonic, p = 1 arithmetic, p = 2
    quadratic/RMS) of order totalprice per priority.

    Every per-row transform here (1/x, x*x) is an IEEE correctly-rounded
    op, so both engines produce the identical double before the decimal
    cast — which makes the exact decimal sums bit-stable. The geometric
    mean (p → 0) is excluded on purpose: it needs ln/exp, which differ
    by one ulp between Java and libm on some inputs and poison a
    600k-term sum (module docstring). 100-TB shape: plain hash aggregate
    with map-side partials — the shuffle carries three sums per group."""
    o = load_table(spark, sf_dir, "orders")
    tp = F.col("o_totalprice")
    inv = F.sum((F.lit(1.0) / tp).cast("decimal(18,16)")).cast("string").cast("double")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        (dec_sum_exact(tp) / F.count("*")).alias("arithmetic_mean"),
        (F.count("*") / inv).alias("harmonic_mean"),
        F.sqrt(dec_sum_exact(tp * tp) / F.count("*")).alias("quadratic_mean"),
    )


@query(
    "agg_weighted_median",
    oracle="""
        WITH g AS (
            SELECT l_returnflag, l_extendedprice AS price,
                   CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR)
                        AS DOUBLE) AS w
            FROM lineitem
            GROUP BY l_returnflag, l_extendedprice
        ), c AS (
            SELECT l_returnflag, price, w,
                   SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cumw,
                   SUM(w) OVER (PARTITION BY l_returnflag) AS totw
            FROM g
        )
        SELECT l_returnflag,
               MIN(price) FILTER (2 * cumw >= totw) AS weighted_median,
               CAST(MAX(totw) AS DOUBLE) AS total_weight
        FROM c
        GROUP BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per return flag: the
    smallest price whose cumulative weight reaches half the group total
    (the classic lower weighted median — ties collapse by pre-grouping
    on (flag, price), so the cumulative sum is over DISTINCT prices and
    fully deterministic; no interpolation, no transcendentals).

    Scale shape: the first aggregation collapses raw rows to distinct
    (group, value) pairs — the window then runs over the collapsed
    table, orders of magnitude smaller than the fact table. For a
    100-TB group whose distinct-value set is still huge, the same
    answer comes from the two-phase banded-rank pattern
    (agg_histogram_equidepth); the window form is kept here because the
    post-collapse partition is value-bounded."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag", F.col("l_extendedprice").alias("price")).agg(
        dec_sum_exact("l_quantity").alias("w")
    )
    win = Window.partitionBy("l_returnflag").orderBy("price")
    c = g.select(
        "l_returnflag",
        "price",
        F.sum("w").over(win.rowsBetween(Window.unboundedPreceding, 0)).alias("cumw"),
        F.sum("w").over(
            win.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("totw"),
    )
    return c.groupBy("l_returnflag").agg(
        F.min(F.when(2 * F.col("cumw") >= F.col("totw"), F.col("price"))).alias(
            "weighted_median"
        ),
        F.max("totw").cast("double").alias("total_weight"),
    )


@query(
    "ts_rolling_median",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR)
                        AS DOUBLE) AS revenue
            FROM events
            GROUP BY event_type, date_trunc('day', ts)
        ), r AS (
            SELECT event_type, day, revenue,
                   median(revenue) OVER (PARTITION BY event_type ORDER BY day
                                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                     AS rolling_median7,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
            FROM daily
        )
        SELECT event_type, day, revenue, rolling_median7
        FROM r WHERE rn >= 7
    """,
    tags=("ts", "window"),
)
def ts_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling median of daily revenue per event type — the
    outlier-robust counterpart of win_moving_avg (a single spiky day
    drags a mean but not a median).

    Rows before the 7th day are dropped so every emitted frame holds
    exactly 7 values: the median of an odd-cardinality frame is a
    *selection* (4th order statistic), not an interpolation, so Spark's
    ``percentile`` and DuckDB's ``median`` agree bit-for-bit (partial
    frames have even counts whose midpoint interpolation is formula-
    dependent in the last ulp — excluded by construction). 100-TB
    shape: the aggregation collapses to one row per (type, day); the
    window partition is calendar-bounded (rows = days), never raw
    volume."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(dec_sum_exact("value").alias("revenue"))
    win = Window.partitionBy("event_type").orderBy("day")
    r = daily.select(
        "event_type",
        "day",
        "revenue",
        F.expr("percentile(revenue, 0.5)")
        .over(win.rowsBetween(-6, 0))
        .alias("rolling_median7"),
        F.row_number().over(win).alias("rn"),
    )
    return r.filter(F.col("rn") >= 7).drop("rn")


# ---------------------------------------------------------------------------
# Corpus n-gram frequency surface: whitespace tokens (the same _TOKENS twin
# llm_text uses) -> adjacent-pair bigrams entirely in JVM higher-order
# functions -> hash aggregate. No Python anywhere.
# ---------------------------------------------------------------------------

_TOKENS_SQL = "string_split_regex(lower(text), '\\s+')"


@query(
    "text_ngram_topk",
    oracle=f"""
        WITH t AS (SELECT {_TOKENS_SQL} AS toks FROM documents),
        b AS (
            SELECT unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i] || ' ' || toks[i + 1]))
                     AS bigram
            FROM t
        )
        SELECT bigram, COUNT(*) AS n
        FROM b GROUP BY bigram
        ORDER BY n DESC, bigram LIMIT 20
    """,
    tags=("llm", "text"),
)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 bigrams with exact counts — the building block
    of boilerplate mining and collocation scoring (text_collocations_pmi
    ranks by PMI; this is the raw frequency view).

    Bigrams are built JVM-side with ``zip_with`` over two shifted slices
    of the token array (no Python, no explode-then-self-join), then one
    hash aggregate with map-side partials and a TakeOrderedAndProject
    top-k — the 100-TB shape: the shuffle carries (bigram, partial
    count), the driver sees 20 rows. Ties at the cut are broken by the
    bigram itself so the limit is deterministic."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), r"\s+")
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


@query(
    "text_zipf_fit",
    oracle=f"""
        WITH t AS (SELECT {_TOKENS_SQL} AS toks FROM documents),
        w AS (SELECT unnest(toks) AS token FROM t),
        v AS (
            SELECT token, COUNT(*) AS cnt FROM w GROUP BY token
            HAVING COUNT(*) >= 5
        ),
        ranked AS (
            SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rnk
            FROM v
        ),
        logs AS (
            SELECT CAST(ROUND(ln(rnk), 6) AS DECIMAL(12,6)) AS lx,
                   CAST(ROUND(ln(cnt), 6) AS DECIMAL(12,6)) AS ly
            FROM ranked
        ),
        s AS (
            SELECT COUNT(*) AS n,
                   CAST(CAST(SUM(lx) AS VARCHAR) AS DOUBLE) AS sx,
                   CAST(CAST(SUM(lx * lx) AS VARCHAR) AS DOUBLE) AS sxx,
                   CAST(CAST(SUM(ly) AS VARCHAR) AS DOUBLE) AS sy,
                   CAST(CAST(SUM(ly * ly) AS VARCHAR) AS DOUBLE) AS syy,
                   CAST(CAST(SUM(lx * ly) AS VARCHAR) AS DOUBLE) AS sxy
            FROM logs
        )
        SELECT n AS n_vocab,
               (sxy - sx * sy / NULLIF(CAST(n AS DOUBLE), 0))
                 / NULLIF(sxx - sx * sx / NULLIF(CAST(n AS DOUBLE), 0), 0)
                 AS zipf_slope,
               sy / NULLIF(CAST(n AS DOUBLE), 0)
                 - ((sxy - sx * sy / NULLIF(CAST(n AS DOUBLE), 0))
                    / NULLIF(sxx - sx * sx / NULLIF(CAST(n AS DOUBLE), 0), 0))
                   * (sx / NULLIF(CAST(n AS DOUBLE), 0)) AS zipf_intercept,
               ((sxy - sx * sy / NULLIF(CAST(n AS DOUBLE), 0))
                * (sxy - sx * sy / NULLIF(CAST(n AS DOUBLE), 0)))
                 / NULLIF((sxx - sx * sx / NULLIF(CAST(n AS DOUBLE), 0))
                          * (syy - sy * sy / NULLIF(CAST(n AS DOUBLE), 0)), 0)
                 AS zipf_r2
        FROM s
    """,
    tags=("llm", "text", "stats"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus unigram distribution: regress
    log(frequency) on log(rank) for tokens seen >= 5 times; the slope of
    a natural-language corpus sits near -1, so drift is a corpus-quality
    signal (template/spam corpora flatten, truncated vocabularies
    steepen).

    Numeric discipline: ln is NOT IEEE-exact across engines (module
    docstring), so each log is rounded to 6 dp BEFORE entering the
    decimal power sums — a one-ulp disagreement between Java's and
    libm's ln survives the rounding with probability ~4e-9 per value,
    and the regression epilogue over the exact sums is bit-stable. The
    rank window is vocab-bounded (the >= 5 floor caps it far below
    corpus size), the token aggregate itself is the standard map-side
    partial pattern — raw volume never reaches the window."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), r"\s+")
    v = (
        d.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 5)
    )
    ranked = v.select(
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), F.asc("token")))
        .alias("rnk"),
    )
    logs = ranked.select(
        F.round(F.log(F.col("rnk")), 6).cast("decimal(12,6)").alias("lx"),
        F.round(F.log(F.col("cnt")), 6).cast("decimal(12,6)").alias("ly"),
    )
    s = logs.agg(
        F.count("*").alias("n"),
        F.sum("lx").cast("string").cast("double").alias("sx"),
        F.sum(F.col("lx") * F.col("lx")).cast("string").cast("double").alias("sxx"),
        F.sum("ly").cast("string").cast("double").alias("sy"),
        F.sum(F.col("ly") * F.col("ly")).cast("string").cast("double").alias("syy"),
        F.sum(F.col("lx") * F.col("ly")).cast("string").cast("double").alias("sxy"),
    )
    n, sx, sxx, sy, syy, sxy = (
        F.col(c) for c in ("n", "sx", "sxx", "sy", "syy", "sxy")
    )
    # degenerate fits (vocab of 0/1 tokens, or every log identical) have a
    # zero denominator: NULL in both engines, never an ANSI error — found
    # by test_zipf_ngram_readability_fuzz
    nz = F.nullif(n.cast("double"), F.lit(0.0))
    vx = F.nullif(sxx - sx * sx / nz, F.lit(0.0))
    slope = (sxy - sx * sy / nz) / vx
    return s.select(
        F.col("n").alias("n_vocab"),
        slope.alias("zipf_slope"),
        (sy / nz - slope * (sx / nz)).alias("zipf_intercept"),
        (
            ((sxy - sx * sy / nz) * (sxy - sx * sy / nz))
            / F.nullif(vx * (syy - sy * sy / nz), F.lit(0.0))
        ).alias("zipf_r2"),
    )


# ---------------------------------------------------------------------------
# Graph projections over the purchase bipartite graph (order->part,
# customer->part). Pair generation is always blocked on the shared entity
# and the block size is bounded (order line count) or df-capped (part
# buyer count) — never an unbounded self-join.
# ---------------------------------------------------------------------------


@query(
    "graph_bipartite_copurchase",
    oracle="""
        WITH op AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        )
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS n_orders
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        ORDER BY n_orders DESC, part_a, part_b LIMIT 20
    """,
    tags=("graph",),
)
def graph_bipartite_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection of the order->part graph: top co-purchased
    part pairs (the 'frequently bought together' primitive, and the edge
    list a part-similarity graph is built from).

    Pair generation is blocked on the order key after a DISTINCT
    collapse, so the fan-out per order is C(lines, 2) with the line
    count bounded by order size (<= 7 in TPC-H shape; at 100 TB the same
    bound holds per order, so the join output is linear in orders, not
    quadratic in parts). The equi-join shuffles both sides by orderkey
    once; the pair aggregate is the standard partial-agg top-k."""
    op = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = op.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a")
    )
    b = op.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b")
    )
    return (
        a.join(b, ["k"])
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


@query(
    "graph_common_neighbors",
    oracle="""
        WITH cp AS (
            SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ),
        capped AS (
            SELECT part FROM cp GROUP BY part
            HAVING COUNT(*) <= 50
        ),
        e AS (SELECT cust, cp.part FROM cp JOIN capped USING (part)),
        deg AS (SELECT cust, COUNT(*) AS deg FROM e GROUP BY cust),
        pairs AS (
            SELECT a.cust AS cust_a, b.cust AS cust_b, COUNT(*) AS common_parts
            FROM e a JOIN e b ON a.part = b.part AND a.cust < b.cust
            GROUP BY a.cust, b.cust
        )
        SELECT cust_a, cust_b, common_parts,
               da.deg AS deg_a, db.deg AS deg_b,
               ROUND(CAST(common_parts AS DOUBLE)
                     / (da.deg + db.deg - common_parts), 6) AS jaccard
        FROM pairs
        JOIN deg da ON da.cust = cust_a
        JOIN deg db ON db.cust = cust_b
        ORDER BY common_parts DESC, cust_a, cust_b LIMIT 20
    """,
    tags=("graph",),
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction on the customer-part bipartite
    graph: customer pairs ranked by shared distinct parts, with the
    Jaccard overlap of their part sets — the classic co-engagement
    similarity (same shape as user-user collaborative filtering and
    audience-overlap analysis).

    The graph is first restricted to parts with <= 50 distinct buyers —
    the document-frequency cap of the set-similarity literature (same
    role as dedup_ngram_jaccard's df <= 100): pair candidates are
    Sum_over_capped_parts C(buyers, 2), linear in edges once the cap
    binds, and the hub parts a cap drops contribute negligible
    similarity signal anyway. Degrees are computed on the SAME capped
    graph so jaccard = common / (|A u B|) is internally consistent.

    Pair generation is one shuffle, not two: buyers collapse to an
    UNSORTED array per part (<= 50 elements by the cap, so the row is
    bounded; canonical a<b ordering comes from a per-pair
    least/greatest, not a per-part sort — fresh-JVM min-of-3 at sf0.1:
    8.36s sorted vs 8.00s unsorted, the residual floor being the pair
    aggregate), and the C(buyers, 2) ordered pairs are generated map-side
    by nested TRANSFORM/SLICE higher-order functions + one explode —
    replacing the e JOIN e self-join of the r6 shape, whose part-keyed
    exchange the pair aggregate then reshuffled (plan has one fewer
    Exchange). The edge table feeds two consumers (degrees, buyer
    lists), so it materializes once via eager localCheckpoint instead
    of recomputing the orders-lineitem distinct per consumer. The
    ranking depends only on (common_parts, cust_a, cust_b) — a total
    order — so the top-20 is taken BEFORE the degree joins
    (TakeOrderedAndProject heaps over the pair aggregate), and the
    jaccard denominators join onto 20 rows, not the full pair table.

    Cost floor, measured at sf0.1: the df<=50 cap admits 9.0M candidate
    pairs that collapse to 8.6M distinct groups — the pair aggregate's
    near-injective shuffle IS the query (2.7s of the 4.4s total); every
    other stage is edges-sized or 20-rows-sized. That term scales as
    Sum_over_capped_parts C(buyers, 2), linear in edges once the cap
    binds. No all-pairs product anywhere."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cp = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    capped = cp.groupBy("part").agg(F.count("*").alias("buyers")).filter(
        F.col("buyers") <= 50
    )
    e = cp.join(capped.select("part"), ["part"]).localCheckpoint(eager=True)
    deg = e.groupBy("cust").agg(F.count("*").alias("deg"))
    # collect_list UNSORTED: the nested TRANSFORM/SLICE below already
    # emits each unordered index pair (i < j) exactly once, so canonical
    # (cust_a < cust_b) ordering only needs a per-pair least/greatest —
    # cheaper than the r7 shape's O(buyers log buyers) sort_array per
    # part (buyers are distinct within a part, so least != greatest).
    lists = e.groupBy("part").agg(F.collect_list("cust").alias("custs"))
    # The pair aggregate's 9M near-injective groups ARE the query's cost
    # floor (guide §2.3: shuffle fewer bytes) — so the (cust_a, cust_b)
    # pair is packed into ONE long, `cust_a << 32 | cust_b`, right in the
    # pair generator: the exchange and the aggregate hashmap carry an
    # 8-byte key instead of a 16-byte struct, and the hash/compare path
    # is the primitive-long fast path. Injective and ORDER-PRESERVING
    # (packed-long order == (cust_a, cust_b) lexicographic order) while
    # custkey < 2^31 — ENFORCED, not assumed (r12 verdict item 7): the
    # parquet footer's max(o_custkey) statistic decides at plan-build
    # time (zero Spark jobs; o_custkey bounds e.cust since e's custs all
    # come from orders). TPC-H custkeys reach 2^31 around sf ~ 14,000
    # (≈ 1.4 PB); past that — or when footer stats are unavailable —
    # the two-column struct key below keeps the query correct, losing
    # only the byte-width win. The explicit .cast("long") keeps the
    # shift 64-bit even if a source typed custkey as int32 (Java masks
    # a 32-bit shift count to 0 — ADVICE r12).
    # Measured min-of-3 at sf0.1 (warm A/B): 4.34 s -> 3.30 s.
    from ..catalog import column_max

    cust_max = column_max(sf_dir, "orders", "o_custkey")
    if cust_max is not None and 0 <= cust_max < 2**31:
        pair_arr = F.flatten(
            F.transform(
                "custs",
                lambda x, i: F.transform(
                    F.slice(F.col("custs"), i + F.lit(2), F.size("custs")),
                    lambda y: F.shiftleft(F.least(x, y).cast("long"), 32)
                    + F.greatest(x, y).cast("long"),
                ),
            )
        )
        pairs = (
            lists.select(F.explode(pair_arr).alias("pk"))
            .groupBy("pk")
            .agg(F.count("*").alias("common_parts"))
        )
        top = (
            pairs.orderBy(F.desc("common_parts"), F.asc("pk"))
            .limit(20)
            .select(
                F.shiftright("pk", 32).alias("cust_a"),
                F.col("pk").bitwiseAND(F.lit(4294967295)).alias("cust_b"),
                "common_parts",
            )
        )
    else:
        pair_arr = F.flatten(
            F.transform(
                "custs",
                lambda x, i: F.transform(
                    F.slice(F.col("custs"), i + F.lit(2), F.size("custs")),
                    lambda y: F.struct(
                        F.least(x, y).alias("a"), F.greatest(x, y).alias("b")
                    ),
                ),
            )
        )
        pairs = (
            lists.select(F.explode(pair_arr).alias("p"))
            .groupBy(F.col("p.a").alias("cust_a"), F.col("p.b").alias("cust_b"))
            .agg(F.count("*").alias("common_parts"))
        )
        top = pairs.orderBy(
            F.desc("common_parts"), F.asc("cust_a"), F.asc("cust_b")
        ).limit(20)
    da = deg.select(F.col("cust").alias("cust_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("cust").alias("cust_b"), F.col("deg").alias("deg_b"))
    return (
        top.join(da, ["cust_a"])
        .join(db, ["cust_b"])
        .select(
            "cust_a",
            "cust_b",
            "common_parts",
            "deg_a",
            "deg_b",
            F.round(
                F.col("common_parts").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common_parts")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("common_parts"), F.asc("cust_a"), F.asc("cust_b"))
    )


# ---------------------------------------------------------------------------
# Avro Object Container File source: parquet -> executor-written OCF files
# (functions/avro_ocf, pure-Python from the public spec) -> binaryFile scan
# + Arrow-batched decode. The self-describing Avro FILE layout the
# reference's ecosystem stores topics as when archived to object storage
# (its wire format is the Confluent per-record framing, avro_codec).
# ---------------------------------------------------------------------------

_OCF_SCHEMA = (
    '{"type": "record", "name": "Cust", "fields": ['
    '{"name": "custkey", "type": "long"}, '
    '{"name": "name", "type": "string"}, '
    '{"name": "acctbal", "type": "double"}, '
    '{"name": "mktsegment", "type": ["null", "string"], "default": null}]}'
)


def _ocf_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Build per-sf OCF files from the customer table — written by the
    EXECUTORS (one file per custkey bucket via applyInPandas), the shape a
    100-TB export job has: each task serializes its partition and writes
    one container file to shared storage; nothing funnels through the
    driver."""
    import glob as _glob
    import os as _os

    from ..streaming.replay import SCRATCH, scratch_tag

    sf_tag = scratch_tag(sf_dir, ("customer",))
    out_dir = _os.path.join(SCRATCH, "io", sf_tag, "avro_ocf")
    done = _os.path.join(out_dir, "_done")
    if _os.path.exists(done) and len(_glob.glob(_os.path.join(out_dir, "*.avro"))) == 4:
        return out_dir
    _os.makedirs(out_dir, exist_ok=True)
    schema_json = _OCF_SCHEMA

    def write_bucket(pdf):
        import pandas as pd

        from avro_topic_replication_spark.functions.avro_ocf import write_ocf

        pdf = pdf.sort_values("c_custkey")
        bucket = int(pdf["bucket"].iloc[0])
        recs = (
            {
                "custkey": int(r.c_custkey),
                "name": str(r.c_name),
                "acctbal": float(r.c_acctbal),
                "mktsegment": str(r.c_mktsegment),
            }
            for r in pdf.itertuples()
        )
        blob = write_ocf(recs, schema_json, tag=f"b{bucket}")
        with open(_os.path.join(out_dir, f"part_{bucket}.avro"), "wb") as f:
            f.write(blob)
        return pd.DataFrame({"bucket": [bucket], "n": [len(pdf)]})

    c = load_table(spark, sf_dir, "customer").withColumn(
        "bucket", F.col("c_custkey") % 4
    )
    (
        c.groupBy("bucket")
        .applyInPandas(write_bucket, "bucket long, n long")
        .count()  # materialize the write job
    )
    with open(done, "w") as f:
        f.write("ok")
    return out_dir


@query(
    "source_avro_container",
    oracle="""
        SELECT c_custkey AS custkey, c_name AS name,
               c_acctbal AS acctbal, c_mktsegment AS mktsegment
        FROM customer
    """,
    tags=("source", "avro"),
)
def source_avro_container(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro Object Container File ingest without the spark-avro jar: OCF
    files (written executor-side by _ocf_fixture) are scanned with
    ``binaryFile`` (one task per file) and decoded by an Arrow-batched
    ``mapInPandas`` over the pure-Python OCF reader (functions/avro_ocf,
    from the public Avro 1.11 spec). The oracle is the original customer
    parquet — a full roundtrip proof: parquet -> Avro binary -> parquet
    row values, bit-exact on longs, strings, doubles, and a nullable
    union.

    100-TB shape: parallelism = file count on both write (one task per
    bucket) and read (binaryFile splits per file); per-record work stays
    in Arrow batches. With the spark-avro jar installed the same files
    are `spark.read.format("avro")` — this query IS that source's
    contract, executable in this jarless sandbox (same env gate as
    SCALE.md's JVM from_avro note)."""
    import glob as _glob

    read_schema = "custkey long, name string, acctbal double, mktsegment string"
    path = _ocf_fixture(spark, sf_dir)
    if not _glob.glob(path + "/*.avro"):
        # zero-row corpus ⇒ the export produced no container files; the
        # source contract is an empty frame, not a missing-path error
        return spark.createDataFrame([], read_schema)

    def decode_files(batches):
        import pandas as pd

        from avro_topic_replication_spark.functions.avro_ocf import read_ocf

        for pdf in batches:
            for blob in pdf["content"]:
                _, recs = read_ocf(bytes(blob))
                yield pd.DataFrame.from_records(recs)[
                    ["custkey", "name", "acctbal", "mktsegment"]
                ]

    files = spark.read.format("binaryFile").load(path + "/*.avro")
    return files.select("content").mapInPandas(
        decode_files,
        read_schema,
    )


@query(
    "sql_order_by_all",
    oracle="""
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
    """,
    tags=("sql", "engine4"),
)
def sql_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` + ``ORDER BY ALL`` — the modern SQL shorthand
    (DuckDB-pioneered, adopted by Spark) binding every non-aggregate
    select item as the grouping set and every output column as the sort
    key, left to right. Same textual clause runs on both engines;
    compiles to the identical hash-aggregate + range sort any explicit
    column list yields — zero plan cost for the sugar."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_oba")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders
        FROM orders_oba
        GROUP BY ALL
        ORDER BY ALL
        """
    )


@query(
    "vec_pair_distance_histogram",
    oracle="""
        WITH p AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND({dot} / (sqrt({daa}) * sqrt({dbb})), 6) AS cosine
            FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        )
        SELECT CAST(LEAST(FLOOR((cosine + 1.0) / 0.25), 7) AS BIGINT) AS bucket,
               -1.0 + 0.25 * CAST(LEAST(FLOOR((cosine + 1.0) / 0.25), 7) AS BIGINT)
                 AS bucket_lo,
               COUNT(*) AS n_pairs,
               CAST(CAST(SUM(CAST(cosine AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                 / COUNT(*) AS mean_cosine
        FROM p
        GROUP BY 1, 2
    """.format(
        dot="""list_reduce(list_transform(list_zip(a.embedding, b.embedding),
                p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)""",
        daa="""list_reduce(list_transform(list_zip(a.embedding, a.embedding),
                p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)""",
        dbb="""list_reduce(list_transform(list_zip(b.embedding, b.embedding),
                p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)""",
    ),
    tags=("llm", "vector", "stats"),
)
def vec_pair_distance_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine distribution profile over a deterministic linear
    pair sample (each vector against its id-successor): the corpus-level
    geometry check run before tuning ANN thresholds — a healthy embedding
    space concentrates random-pair cosine near 0; drift toward 1 signals
    collapsed embeddings, and the histogram makes that a one-glance
    diagnostic.

    The successor join is an equi-join (shift key), so the 'random pair'
    sample costs one shuffle and stays linear in corpus size — the
    all-pairs version this replaces is quadratic and never runs at scale.
    Cosine is the deterministic left fold (llm_vectors._dot), rounded at
    6dp BEFORE bucketing and the decimal mean so both engines bucket the
    identical double. 100-TB shape: shuffle carries (id, vector) once;
    the aggregate is 8 buckets of partial sums."""
    from .llm_vectors import _dot

    e = load_table(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = e.select((F.col("vec_id") - 1).alias("id_a"), F.col("embedding").alias("eb"))
    cos = F.round(
        _dot(F.col("ea"), F.col("eb"))
        / (
            F.sqrt(_dot(F.col("ea"), F.col("ea")))
            * F.sqrt(_dot(F.col("eb"), F.col("eb")))
        ),
        6,
    )
    p = a.join(b, ["id_a"]).select(cos.alias("cosine"))
    bucket = F.least(F.floor((F.col("cosine") + 1.0) / 0.25), F.lit(7)).cast("bigint")
    return (
        p.select("cosine", bucket.alias("bucket"))
        .withColumn("bucket_lo", F.lit(-1.0) + 0.25 * F.col("bucket"))
        .groupBy("bucket", "bucket_lo")
        .agg(
            F.count("*").alias("n_pairs"),
            (
                F.sum(F.col("cosine").cast("decimal(18,6)"))
                .cast("string")
                .cast("double")
                / F.count("*")
            ).alias("mean_cosine"),
        )
    )


# ---------------------------------------------------------------------------
# Distribution tests and inequality metrics. KS runs on a banded two-phase
# cumulative sum (the scale-safe pattern); the oracle uses the plain
# window form — integer counts make the two algebraically identical.
# ---------------------------------------------------------------------------


@query(
    "stat_ks_test",
    oracle="""
        WITH v AS (
            SELECT c_acctbal AS val,
                   COUNT(*) FILTER (c_mktsegment = 'BUILDING') AS n1_v,
                   COUNT(*) FILTER (c_mktsegment = 'MACHINERY') AS n2_v
            FROM customer
            WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
            GROUP BY c_acctbal
        ), c AS (
            SELECT SUM(n1_v) OVER w AS c1, SUM(n2_v) OVER w AS c2,
                   SUM(n1_v) OVER () AS t1, SUM(n2_v) OVER () AS t2
            FROM v
            WINDOW w AS (ORDER BY val ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)
        )
        SELECT CAST(MAX(t1) AS BIGINT) AS n1, CAST(MAX(t2) AS BIGINT) AS n2,
               MAX(ABS(CAST(c1 AS DOUBLE) / NULLIF(t1, 0)
                       - CAST(c2 AS DOUBLE) / NULLIF(t2, 0))) AS ks_d,
               1.358 * sqrt(CAST(MAX(t1) + MAX(t2) AS DOUBLE)
                            / NULLIF(MAX(t1) * MAX(t2), 0)) AS crit_05
        FROM c
    """,
    tags=("stats",),
)
def stat_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between two customer
    segments' balance distributions: D = max |F1(x) - F2(x)| over the
    pooled sample, with the alpha=0.05 critical value
    1.358*sqrt((n1+n2)/(n1*n2)).

    Scale shape: rows collapse to distinct values first, then the
    cumulative counts run as a TWO-PHASE banded sum — per-band totals, a
    tiny all-bands window (the balance domain is schema-bounded, so
    bands are a constant ~22), then within-band cumulatives partitioned
    by band. No single-partition window ever sees the full value set
    (the same pattern as sample_token_budget's banded cumsum). The
    oracle uses the plain one-window form: over integer counts the two
    are algebraically identical. ECDF divisions are single
    correctly-rounded IEEE ops on exact integers, so D is bit-stable."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )
    v = c.groupBy(F.col("c_acctbal").alias("val")).agg(
        F.count(F.when(F.col("c_mktsegment") == "BUILDING", 1)).alias("n1_v"),
        F.count(F.when(F.col("c_mktsegment") == "MACHINERY", 1)).alias("n2_v"),
    ).withColumn("band", F.floor(F.col("val") / 500.0))
    band_tot = v.groupBy("band").agg(
        F.sum("n1_v").alias("b1"), F.sum("n2_v").alias("b2")
    )
    wb = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)
    offsets = band_tot.select(
        "band",
        F.coalesce(F.sum("b1").over(wb), F.lit(0)).alias("off1"),
        F.coalesce(F.sum("b2").over(wb), F.lit(0)).alias("off2"),
    )
    ww = Window.partitionBy("band").orderBy("val").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = (
        v.join(F.broadcast(offsets), ["band"])
        .select(
            (F.col("off1") + F.sum("n1_v").over(ww)).alias("c1"),
            (F.col("off2") + F.sum("n2_v").over(ww)).alias("c2"),
        )
    )
    tot = v.agg(F.sum("n1_v").alias("t1"), F.sum("n2_v").alias("t2"))
    # one-sided samples (a segment with zero rows) yield NULL ECDFs and a
    # NULL statistic in BOTH engines — found by test_ks_banded_cumsum_fuzz
    d = cum.crossJoin(F.broadcast(tot)).select(
        F.abs(
            F.col("c1").cast("double") / F.nullif(F.col("t1"), F.lit(0))
            - F.col("c2").cast("double") / F.nullif(F.col("t2"), F.lit(0))
        ).alias("d"),
        "t1",
        "t2",
    )
    return d.agg(
        F.max("t1").alias("n1"),
        F.max("t2").alias("n2"),
        F.max("d").alias("ks_d"),
        (
            1.358
            * F.sqrt(
                (F.max("t1") + F.max("t2")).cast("double")
                / F.nullif(F.max("t1") * F.max("t2"), F.lit(0))
            )
        ).alias("crit_05"),
    )


@query(
    "text_readability",
    oracle="""
        WITH m AS (
            SELECT doc_id, lang,
                   len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS words,
                   GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
                     AS sentences,
                   len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syllables
            FROM documents
        )
        SELECT doc_id, lang, words, sentences, syllables,
               206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)
                       - 84.6 * (CAST(syllables AS DOUBLE) / NULLIF(words, 0))
                 AS flesch_ease,
               0.39 * (CAST(words AS DOUBLE) / sentences)
                 + 11.8 * (CAST(syllables AS DOUBLE) / NULLIF(words, 0)) - 15.59
                 AS fk_grade
        FROM m
    """,
    tags=("llm", "text"),
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease + Flesch–Kincaid grade per document, with the
    classic vowel-group syllable proxy (a [aeiouy]+ run ≈ one syllable)
    — the cheap readability gate corpus pipelines run next to the Gopher
    rules (very low ease scores flag boilerplate/code; negative grades
    flag token soup).

    Everything is regexp_count + integer ratios in whole-stage codegen:
    a stateless projection, no shuffle, no Python. The formula's
    multiply/divide/subtract chain runs on identical integer inputs in
    both engines, so the doubles are bit-exact (IEEE correctly-rounded
    ops only)."""
    d = load_table(spark, sf_dir, "documents")
    words = F.regexp_count(F.lower("text"), F.lit("[a-z0-9]+"))
    sentences = F.greatest(F.regexp_count("text", F.lit("[.!?]+")), F.lit(1))
    syllables = F.regexp_count(F.lower("text"), F.lit("[aeiouy]+"))
    m = d.select(
        "doc_id",
        "lang",
        words.alias("words"),
        sentences.alias("sentences"),
        syllables.alias("syllables"),
    )
    wps = F.col("words").cast("double") / F.col("sentences")
    spw = F.col("syllables").cast("double") / F.nullif(
        F.col("words"), F.lit(0)
    )
    return m.select(
        "doc_id",
        "lang",
        "words",
        "sentences",
        "syllables",
        (F.lit(206.835) - 1.015 * wps - 84.6 * spw).alias("flesch_ease"),
        (0.39 * wps + 11.8 * spw - 15.59).alias("fk_grade"),
    )


@query(
    "text_length_gini",
    oracle="""
        WITH r AS (
            SELECT lang, n_chars,
                   ROW_NUMBER() OVER (PARTITION BY lang
                                      ORDER BY n_chars, doc_id) AS i
            FROM documents
        )
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               2.0 * CAST(CAST(SUM(CAST(i AS DECIMAL(38,0))
                                   * CAST(n_chars AS DECIMAL(38,0)))
                               AS VARCHAR) AS DOUBLE)
                 / (COUNT(*) * CAST(SUM(n_chars) AS DOUBLE))
                 - CAST(COUNT(*) + 1 AS DOUBLE) / COUNT(*) AS gini
        FROM r
        GROUP BY lang
    """,
    tags=("llm", "text", "stats"),
)
def text_length_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of document length per language — the corpus
    inequality diagnostic (a mixture of tweets and books scores high; a
    uniform-length scrape scores near 0; a jump after a crawl refresh
    flags a source-mix shift). Formula: G = 2*Σ(i·x_i)/(n·Σx) - (n+1)/n
    over values sorted ascending.

    Rank permutations among TIED lengths leave Σ(i·x_i) unchanged (equal
    x), so the (n_chars, doc_id) ordering is deterministic in effect as
    well as form. Products accumulate in DECIMAL(38,0) — exact at any
    corpus size (rank × chars exceeds 2^53 long before 100 TB). The
    per-lang rank window is the documented hotspot: languages are
    corpus-linear, so the 100-TB form swaps in the banded two-phase rank
    (agg_histogram_equidepth) with identical output; the final G is a
    fixed IEEE expression over exact sums."""
    d = load_table(spark, sf_dir, "documents")
    r = d.select(
        "lang",
        "n_chars",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy("n_chars", "doc_id"))
        .alias("i"),
    )
    sixi = (
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("n_chars").cast("decimal(38,0)"))
        .cast("string")
        .cast("double")
    )
    n = F.count("*")
    sx = F.sum("n_chars").cast("bigint")
    return r.groupBy("lang").agg(
        n.alias("n_docs"),
        sx.alias("total_chars"),
        (
            2.0 * sixi / (n * sx.cast("double"))
            - (n + 1).cast("double") / n
        ).alias("gini"),
    )


# Poisson(1) inverse CDF on a 4-hex-digit md5 uniform: cumulative
# probabilities e^-1 * sum(1/k!) scaled by 16^4 (same uniform-bucket
# trick as llm_sampling._bkt). Draws are capped at 5 (P > 5 ~ 0.06%).
_POIS_CUTS = ("5e2d", "bc5a", "eb71", "fb23", "ff10")


@query(
    "stat_bootstrap_poisson_ci",
    oracle=f"""
        WITH draws AS (
            SELECT b.blk * 8 + p.pos AS rep, o.o_totalprice,
                   (CASE
                      WHEN u < '{_POIS_CUTS[0]}' THEN 0
                      WHEN u < '{_POIS_CUTS[1]}' THEN 1
                      WHEN u < '{_POIS_CUTS[2]}' THEN 2
                      WHEN u < '{_POIS_CUTS[3]}' THEN 3
                      WHEN u < '{_POIS_CUTS[4]}' THEN 4
                      ELSE 5 END) AS c
            FROM orders o
            CROSS JOIN (SELECT unnest(range(0, 4)) AS blk) b,
            LATERAL (SELECT md5(CAST(o.o_orderkey AS VARCHAR)
                                || '#' || CAST(b.blk AS VARCHAR)) AS h) hh
            CROSS JOIN (SELECT unnest(range(0, 8)) AS pos) p,
            LATERAL (SELECT substring(h, pos * 4 + 1, 4) AS u) uu
        ),
        means AS (
            SELECT rep,
                   CAST(CAST(SUM(c * CAST(o_totalprice AS DECIMAL(18,4)))
                             AS VARCHAR) AS DOUBLE) / NULLIF(SUM(c), 0)
                     AS mean_r
            FROM draws GROUP BY rep
        ),
        sorted AS (SELECT list_sort(list(mean_r)) AS ms FROM means
                   WHERE mean_r IS NOT NULL),
        point AS (
            SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                             AS VARCHAR) AS DOUBLE) / COUNT(*) AS point_mean
            FROM orders
        )
        SELECT 32 AS n_replicates, point_mean,
               ms[2] AS ci_lo, ms[31] AS ci_hi
        FROM sorted, point
    """,
    tags=("stats", "sampling"),
)
def stat_bootstrap_poisson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval for the mean order value —
    THE distributed bootstrap: classical resampling-with-replacement
    needs global coordination, but for large n a bootstrap replicate is
    indistinguishable from giving each row an independent Poisson(1)
    multiplicity, which is embarrassingly parallel. Each of 32
    replicates derives its count from an md5-uniform (no RNG state, no
    shuffle dependency — the same hash-bucket trick as
    sample_hash_fraction), so the whole resample is reproducible at any
    partitioning. One md5 digest is 32 hex chars = EIGHT independent
    4-hex uniforms, so the hash runs once per block of 8 replicates
    (4 digests/row, not 32), and the 8 replicates of a block fold into
    aggregate columns instead of a second Generate — measured 7.7s →
    3.3s min-of-3 at sf0.1; the md5 and the 32× row expansion were the
    cost, not the 32-group shuffle.

    The CI is the [2nd, 31st] ORDER STATISTIC of the 32 sorted replicate
    means (~93.75% coverage) rather than an interpolated percentile —
    selection is bit-exact across engines, interpolation formulas are
    not. The replicate means divide exact decimal sums once. 100-TB shape:
    a 32× map-side expansion feeding one 32-group partial aggregate; the
    driver sees 32 numbers."""
    o = load_table(spark, sf_dir, "orders", rebalance_on="o_orderkey")
    draws = (
        o.select(
            "o_orderkey",
            "o_totalprice",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("blk"),
        )
        .withColumn(
            "h",
            F.md5(
                F.concat(
                    F.col("o_orderkey").cast("string"),
                    F.lit("#"),
                    F.col("blk").cast("string"),
                )
            ),
        )
    )

    def c_at(pos: int):
        u = F.substring("h", pos * 4 + 1, 4)
        return (
            F.when(u < _POIS_CUTS[0], 0)
            .when(u < _POIS_CUTS[1], 1)
            .when(u < _POIS_CUTS[2], 2)
            .when(u < _POIS_CUTS[3], 3)
            .when(u < _POIS_CUTS[4], 4)
            .otherwise(5)
        )

    # the 8 replicates of a block fold into 8 (sum, count) aggregate
    # column pairs instead of a second 8x Generate: the 32-row (rep,
    # mean) shape is rebuilt by inline() from the 4 block rows, and the
    # decimal sums are exact, so the means are bit-identical to the
    # oracle's per-rep GROUP BY form (7.7s -> 4.8s -> 3.3s at sf0.1)
    # Each replicate's Poisson count is a 6-arm when-chain over a 4-hex
    # substring; referencing c_at(p) in BOTH aggregate expressions made
    # the partial aggregate evaluate 16 chains per row (guide §2.3's
    # "per-task work" once the shape is right: aggregate-input
    # expressions are not common-subexpression-eliminated across agg
    # functions). Hoisting the 8 counts and the decimal price into a
    # projection under the aggregate evaluates each chain once —
    # measured min-of-3 at sf0.1 (warm A/B): 2.91 s -> 2.42 s.
    cnt = draws.select(
        "blk",
        dec("o_totalprice").alias("_p"),
        *[c_at(p).alias(f"c{p}") for p in range(8)],
    )
    blk_wide = cnt.groupBy("blk").agg(
        *[
            a
            for p in range(8)
            for a in (
                F.sum(F.col(f"c{p}") * F.col("_p")).alias(f"s{p}"),
                F.sum(f"c{p}").alias(f"k{p}"),
            )
        ]
    )
    means = blk_wide.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        (F.col("blk") * 8 + F.lit(p)).alias("rep"),
                        (
                            F.col(f"s{p}").cast("string").cast("double")
                            / F.nullif(F.col(f"k{p}"), F.lit(0))
                        ).alias("mean_r"),
                    )
                    for p in range(8)
                ]
            )
        )
    )
    # a replicate that drew zero rows (tiny inputs) has no mean: dropped
    # before the order statistics, identically in both engines — found by
    # test_bootstrap_poisson_fuzz
    sorted_ms = means.filter(F.col("mean_r").isNotNull()).agg(
        F.sort_array(F.collect_list("mean_r")).alias("ms")
    )
    point = o.agg((dec_sum_exact("o_totalprice") / F.count("*")).alias("point_mean"))
    return sorted_ms.crossJoin(F.broadcast(point)).select(
        F.lit(32).alias("n_replicates"),
        "point_mean",
        F.try_element_at("ms", F.lit(2)).alias("ci_lo"),
        F.try_element_at("ms", F.lit(31)).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Batch 5: growth accounting, robust time-series filtering, SQL UNPIVOT,
# activity heatmaps, and perceptual-hash image dedup.
# ---------------------------------------------------------------------------


@query(
    "events_cumulative_users",
    oracle="""
        WITH first_day AS (
            SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS DATE) AS day
            FROM events GROUP BY user_id
        ), daily AS (
            SELECT day, COUNT(*) AS new_users FROM first_day GROUP BY day
        )
        SELECT day, new_users,
               CAST(SUM(new_users) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT) AS cumulative_users
        FROM daily
    """,
    tags=("events", "ts"),
)
def events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day — the growth-accounting curve.
    Running COUNT(DISTINCT) is unbounded-state in a window; the standard
    rewrite is first-touch attribution: min event day per user (one hash
    aggregate), daily new-user counts, then a cumulative sum over a
    CALENDAR-bounded series (rows = days, never raw volume — the same
    discipline as ts_rolling_median). Every value is an integer; nothing
    to round."""
    e = load_table(spark, sf_dir, "events")
    first_day = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("day")
    )
    daily = first_day.groupBy("day").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
    )


@query(
    "ts_hampel_outliers",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR)
                        AS DOUBLE) AS revenue
            FROM events
            GROUP BY event_type, date_trunc('day', ts)
        ), f AS (
            SELECT event_type, day, revenue,
                   list(revenue) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS frame,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
                     AS rn
            FROM daily
        ), m AS (
            SELECT event_type, day, revenue,
                   list_sort(frame)[4] AS med7,
                   list_sort(list_transform(frame,
                       v -> ABS(v - list_sort(frame)[4])))[4] AS mad7
            FROM f WHERE rn >= 7
        )
        SELECT event_type, day, revenue, med7, mad7,
               ABS(revenue - med7) > 4.4478 * mad7 AS is_outlier
        FROM m
    """,
    tags=("ts", "stats"),
)
def ts_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter over daily revenue per event type: a point is an
    outlier when it sits more than 3 scaled MADs (3 × 1.4826 = 4.4478)
    from the rolling 7-day median — the robust alternative to the
    z-score gate (ts_zscore_anomaly), immune to the outliers it hunts.

    Median and MAD are pure ORDER STATISTICS of the odd-sized full frame
    (rows before day 7 are dropped, as in ts_rolling_median), computed by
    sorting the collected 7-element frame array — selection only, no
    interpolation, no transcendentals, so both engines agree bit-for-bit.
    100-TB shape: the aggregation collapses to one row per (type, day);
    frames are constant-size arrays over a calendar-bounded window."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(dec_sum_exact("value").alias("revenue"))
    win = Window.partitionBy("event_type").orderBy("day")
    f = daily.select(
        "event_type",
        "day",
        "revenue",
        F.collect_list("revenue").over(win.rowsBetween(-6, 0)).alias("frame"),
        F.row_number().over(win).alias("rn"),
    ).filter(F.col("rn") >= 7)
    med = F.element_at(F.sort_array("frame"), 4)
    # med7 is bound in its own select first so the MAD transform can
    # reference it as a resolved column.
    withmed = f.select("event_type", "day", "revenue", "frame", med.alias("med7"))
    m = withmed.select(
        "event_type",
        "day",
        "revenue",
        "med7",
        F.element_at(
            F.sort_array(
                F.transform("frame", lambda v: F.abs(v - F.col("med7")))
            ),
            4,
        ).alias("mad7"),
    )
    return m.select(
        "event_type",
        "day",
        "revenue",
        "med7",
        "mad7",
        (F.abs(F.col("revenue") - F.col("med7")) > 4.4478 * F.col("mad7")).alias(
            "is_outlier"
        ),
    )


@query(
    "sql_unpivot_clause",
    oracle="""
        WITH wide AS (
            SELECT o_orderpriority,
                   CAST(COUNT(*) AS DOUBLE) AS n_orders,
                   CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                        AS VARCHAR) AS DOUBLE) AS total_price,
                   CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
            FROM orders GROUP BY o_orderpriority
        )
        SELECT o_orderpriority, metric, val
        FROM wide UNPIVOT (val FOR metric IN (n_orders, total_price, max_price))
    """,
    tags=("sql", "agg"),
)
def sql_unpivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Textual SQL ``UNPIVOT`` (the standard-syntax wide→long melt, the
    inverse of sql_pivot_clause) over a per-priority metrics table. The
    same clause text parses on both engines and compiles to Spark's
    Expand node — one pass, no join, rows × metrics output. Metrics are
    pre-cast to a uniform DOUBLE because UNPIVOT requires a common value
    type (the decimal sums are exact before the cast)."""
    o = load_table(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderpriority").agg(
        F.count("*").cast("double").alias("n_orders"),
        dec_sum_exact("o_totalprice").alias("total_price"),
        F.max("o_totalprice").cast("double").alias("max_price"),
    )
    wide.createOrReplaceTempView("orders_wide_metrics")
    return spark.sql(
        """
        SELECT o_orderpriority, metric, val
        FROM orders_wide_metrics
        UNPIVOT (val FOR metric IN (n_orders, total_price, max_price))
        """
    )


@query(
    "events_dow_hour_heatmap",
    oracle="""
        SELECT ((datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 3) % 7)
                 + 1 AS dow_iso,
               hour(ts) AS hr,
               COUNT(*) AS n_events,
               CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR)
                    AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    tags=("events", "agg"),
)
def events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity heatmap — the operational load grid
    behind capacity planning and anomaly eyeballing. Day-of-week is
    derived ARITHMETICALLY (epoch day 0 = Thursday, so (days+3)%7+1 gives
    ISO Monday=1) instead of each engine's dayofweek() — Spark counts
    Sunday=1, DuckDB Sunday=0, and the epoch arithmetic sidesteps the
    whole convention mismatch. One hash aggregate over a 7×24-bounded
    group domain; partials carry (count, decimal sum)."""
    e = load_table(spark, sf_dir, "events")
    days = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
    return e.groupBy(
        ((days + 3) % 7 + 1).alias("dow_iso"), F.hour("ts").alias("hr")
    ).agg(
        F.count("*").alias("n_events"),
        dec_sum_exact("value").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Perceptual-hash (dHash) image near-dup: the image-modality analogue of
# SimHash text dedup. Fixture pixels use multiplicative-gradient formulas
# (NOT llm_multimodal's affine ones — those are too smooth for a gradient
# hash: every image hashes alike; verified min cross-image hamming 15
# with these, 0-2 for true perturbed copies).
# ---------------------------------------------------------------------------

_PH_R = "(({d} + 1) * ({x} + 3) * ({y} + 7) + 13 * {x} * {x}) % 256"
_PH_G = "(({d} + 2) * ({x} + 5) * ({y} + 1) + 7 * {y} * {y}) % 256"
_PH_B = "(({d} + 5) * ({x} + 1) * ({y} + 3) + 11 * {x} * {y}) % 256"


def _ph_luma_sql(xpos: str) -> str:
    r = _PH_R.format(d="d", x=xpos, y="ys")
    g = _PH_G.format(d="d", x=xpos, y="ys")
    b = _PH_B.format(d="d", x=xpos, y="ys")
    r = f"(CASE WHEN kind = 'pert' AND ys = 0 THEN (({r}) + 3) % 256 ELSE {r} END)"
    return f"((299 * {r} + 587 * ({g}) + 114 * ({b})) // 1000)"


@query(
    "mm_image_phash_dedup",
    oracle=f"""
        WITH ids AS (
            SELECT doc_id AS img_id, doc_id AS d, 'base' AS kind,
                   8 + doc_id % 9 AS w, 8 + (doc_id // 9) % 9 AS h
            FROM documents WHERE doc_id < 200
            UNION ALL
            SELECT doc_id + 10000, doc_id, 'pert',
                   8 + doc_id % 9, 8 + (doc_id // 9) % 9
            FROM documents WHERE doc_id < 40
            UNION ALL
            SELECT doc_id + 20000, doc_id, 'base',
                   8 + doc_id % 9, 8 + (doc_id // 9) % 9
            FROM documents WHERE doc_id < 20
        ),
        bits AS (
            SELECT i.img_id, yy.yy, xx.xx,
                   ({_ph_luma_sql("(((xx + 1) * w) // 9)")}
                    > {_ph_luma_sql("((xx * w) // 9)")}) AS bit
            FROM ids i
            CROSS JOIN (SELECT unnest(range(8)) AS yy) yy
            CROSS JOIN (SELECT unnest(range(8)) AS xx) xx,
            LATERAL (SELECT (yy * h) // 8 AS ys) s
        ),
        hashes AS (
            SELECT img_id,
                   CAST(SUM(CASE WHEN yy < 4 AND bit
                            THEN (CAST(1 AS BIGINT) << (8 * yy + xx))
                            ELSE 0 END) AS BIGINT) AS hi,
                   CAST(SUM(CASE WHEN yy >= 4 AND bit
                            THEN (CAST(1 AS BIGINT) << (8 * yy + xx - 32))
                            ELSE 0 END) AS BIGINT) AS lo
            FROM bits GROUP BY img_id
        )
        SELECT a.img_id AS id_a, b.img_id AS id_b,
               CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
                    AS INT) AS hamming
        FROM hashes a JOIN hashes b ON a.img_id < b.img_id
        WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
    """,
    tags=("llm", "multimodal", "dedup"),
)
def mm_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup detection — the image-modality arm
    of the dedup family (exact byte-hash catches bit-identical files;
    dHash catches re-encoded / lightly-edited copies). Each image is
    decoded from REAL BMP bytes (encode→decode roundtrip through
    functions/bmp.py inside Arrow-batched mapInPandas), reduced to a
    9×8 luma difference grid, and hashed to 64 bits stored as two
    32-bit halves.

    Candidate pairs come from a 4×16-bit BAND join, never all-pairs —
    and at the Hamming≤3 threshold the banding is EXACT, not
    approximate: 3 differing bits cannot touch all 4 bands (pigeonhole),
    so some band collides for every true pair. The fixture carries
    perturbed copies (first image row brightened, ids +10000) and exact
    copies (+20000); cross-image hamming floors at 15, so output =
    precisely the planted duplicates. The oracle recomputes the hash
    analytically from the pixel formulas — every bit cross-checked.
    100-TB shape: hash is one Arrow pass over payload bytes; the band
    join shuffles 4 rows of 3 scalars per image (the SimHash plan,
    applied to pixels)."""
    import numpy as np
    import pandas as pd

    from ..functions.bmp import bmp_decode, bmp_encode

    d0 = load_table(spark, sf_dir, "documents")
    base = d0.filter(F.col("doc_id") < 200).select(
        F.col("doc_id").alias("img_id"),
        F.col("doc_id").alias("d"),
        F.lit("base").alias("kind"),
    )
    pert = d0.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 10000).alias("img_id"),
        F.col("doc_id").alias("d"),
        F.lit("pert").alias("kind"),
    )
    copy = d0.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 20000).alias("img_id"),
        F.col("doc_id").alias("d"),
        F.lit("base").alias("kind"),
    )
    ids = base.unionByName(pert).unionByName(copy)

    def hash_batches(it):
        for pdf in it:
            out = {"img_id": [], "hi": [], "lo": []}
            for img_id, d, kind in zip(pdf["img_id"], pdf["d"], pdf["kind"]):
                d = int(d)
                w, h = 8 + d % 9, 8 + (d // 9) % 9
                y, x = np.mgrid[0:h, 0:w]
                r = ((d + 1) * (x + 3) * (y + 7) + 13 * x * x) % 256
                g = ((d + 2) * (x + 5) * (y + 1) + 7 * y * y) % 256
                b = ((d + 5) * (x + 1) * (y + 3) + 11 * x * y) % 256
                im = np.stack([r, g, b], 2).astype(np.uint8)
                if kind == "pert":
                    im[0, :, 0] = (im[0, :, 0].astype(int) + 3) % 256
                # the real codec roundtrip: bytes in flight, then decode
                im = bmp_decode(bmp_encode(im))
                lum = (
                    299 * im[:, :, 0].astype(np.int64)
                    + 587 * im[:, :, 1].astype(np.int64)
                    + 114 * im[:, :, 2].astype(np.int64)
                ) // 1000
                hi = lo = 0
                for yy in range(8):
                    ys = (yy * h) // 8
                    for xx in range(8):
                        xa, xb = (xx * w) // 9, ((xx + 1) * w) // 9
                        if lum[ys, xb] > lum[ys, xa]:
                            k = 8 * yy + xx
                            if yy < 4:
                                hi |= 1 << k
                            else:
                                lo |= 1 << (k - 32)
                out["img_id"].append(int(img_id))
                out["hi"].append(hi)
                out["lo"].append(lo)
            yield pd.DataFrame(out)

    hashes = ids.mapInPandas(hash_batches, "img_id long, hi long, lo long")
    bands = hashes.select(
        "img_id",
        "hi",
        "lo",
        F.posexplode(
            F.array(
                F.shiftrightunsigned("hi", 16),
                F.col("hi").bitwiseAND(F.lit(0xFFFF)),
                F.shiftrightunsigned("lo", 16),
                F.col("lo").bitwiseAND(F.lit(0xFFFF)),
            )
        ).alias("band_idx", "band_val"),
    )
    a = bands.select(
        F.col("img_id").alias("id_a"),
        F.col("hi").alias("hi_a"),
        F.col("lo").alias("lo_a"),
        "band_idx",
        "band_val",
    )
    b = bands.select(
        F.col("img_id").alias("id_b"),
        F.col("hi").alias("hi_b"),
        F.col("lo").alias("lo_b"),
        "band_idx",
        "band_val",
    )
    pairs = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "hi_a", "lo_a", "hi_b", "lo_b")
        .distinct()
    )
    ham = (
        F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    ).cast("int")
    return (
        pairs.select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= 3)
    )
