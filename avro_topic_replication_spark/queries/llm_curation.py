"""Corpus-curation operators round 2: decontamination, packing, shuffling,
mixture temperature, repetition and boilerplate filters.

These are the remaining ops a 100-TB pretraining-data pipeline runs between
raw ingest and the tokenizer, complementing ``llm_text`` (per-doc scoring),
``llm_dedup`` (cross-doc dedup) and ``llm_sampling`` (hash splits):

- ``dedup_contamination_check``: token-8-gram containment of eval-split
  documents in the train split (The-Pile/GPT-3-style decontamination).
- ``pack_sequences_chunks``: concat-and-chunk sequence packing — documents
  laid out in a deterministic global order and split into fixed token
  budgets, the layout step before tensorization.
- ``shuffle_shard_assign``: deterministic global shuffle into shards with
  within-shard positions (epoch-stable training order).
- ``sample_language_temperature``: mixture rebalancing with the mC4/XLM-R
  temperature rule p_l ∝ (n_l/N)^α, α = 0.3, realized as per-language
  hash-threshold keep rates (RNG-free, scan-stage predicate).
- ``text_repetition_metrics``: Gopher-style intra-document repetition
  signals (top-word fraction, duplicate-bigram fraction).
- ``text_boilerplate_coverage``: fraction of a doc's distinct token
  4-grams that are corpus boilerplate (document frequency above a cap).
- ``vec_label_centroid_classify``: nearest-centroid probe over the
  embedding table — per-label mean vectors, cosine argmax, confusion
  counts (the cheap quality probe run after every embedding refresh).

All hot paths are JVM column expressions or single-shuffle aggregations;
sums that feed cross-engine hash checks go through decimal (see
``functions/numeric.py`` for why). Reference parity: none (the reference
has no compute surface); [EXT] per SURVEY §2.2's LLM-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..session import track_persist
from . import query
from .llm_sampling import _BKT_SQL, _TRAIN, _VAL, _bkt  # one md5-bucket split, both modules

# --------------------------------------------------------------------------
# token n-grams, identically in both engines.
#
# Spark: words = split(text, ' '); grams = transform(sequence(...)) — pure
# JVM, no Python. DuckDB twin uses list_transform over range with 1-based
# list_slice. Both emit space-joined token n-grams, de-duplicated.
# --------------------------------------------------------------------------


def _token_grams(text_col, n: int):
    words = F.split(text_col, " ")
    k = F.size(words)
    return F.array_distinct(
        F.when(
            k >= n,
            F.transform(
                F.sequence(F.lit(1), k - n + 1),
                lambda i: F.concat_ws(" ", F.slice(words, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )


def _token_grams_sql(expr: str, n: int) -> str:
    return (
        f"list_distinct(CASE WHEN len(string_split({expr}, ' ')) >= {n} THEN "
        f"list_transform(range(1, len(string_split({expr}, ' ')) - {n} + 2), "
        f"i -> array_to_string(list_slice(string_split({expr}, ' '), i, i + {n} - 1), ' ')) "
        f"ELSE [] END)"
    )


@query(
    "dedup_contamination_check",
    oracle=f"""
        WITH grams AS (
            SELECT doc_id, {_BKT_SQL.format(k='doc_id')} AS bkt,
                   unnest({_token_grams_sql('text', 8)}) AS g
            FROM documents
        ),
        train_grams AS (SELECT DISTINCT g FROM grams WHERE bkt < '{_TRAIN}'),
        eval_docs AS (SELECT doc_id, g FROM grams WHERE bkt >= '{_VAL}'),
        hits AS (
            SELECT e.doc_id, COUNT(*) AS n_contaminated_grams
            FROM eval_docs e JOIN train_grams t ON t.g = e.g
            GROUP BY e.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(h.n_contaminated_grams, 0) AS BIGINT)
                   AS n_contaminated_grams,
               COALESCE(h.n_contaminated_grams, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
        WHERE {_BKT_SQL.format(k='d.doc_id')} >= '{_VAL}'
    """,
    tags=("llm", "dedup", "curation"),
)
def dedup_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination: for every TEST-split document, how many of
    its distinct token 8-grams also occur anywhere in the TRAIN split
    (GPT-3/The-Pile decontamination semantics, token-level).

    Scale shape: one n-gram pass (pure JVM expressions), the train side
    collapses to DISTINCT grams before the join, and the join shuffles
    (gram, doc_id) pairs hashed on the gram — never document text, never
    doc×doc pairs. The left join back to the eval split restores
    zero-hit docs. At 100 TB the distinct-train-gram table is the only
    large state and it partial-aggregates map-side."""
    d = load_table(spark, sf_dir, "documents", rebalance_on="doc_id")
    # one gram pass feeds both the train and eval sides (A/B at sf0.1:
    # 2.3 s → 1.6 s min-of-3 with the persist)
    grams = d.select(
        "doc_id",
        _bkt(F.col("doc_id")).alias("bkt"),
        F.explode(_token_grams(F.col("text"), 8)).alias("g"),
    ).transform(track_persist)
    train_grams = grams.filter(F.col("bkt") < _TRAIN).select("g").distinct()
    eval_grams = grams.filter(F.col("bkt") >= _VAL).select("doc_id", "g")
    hits = (
        eval_grams.join(train_grams, "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("hit_cnt"))
    )
    eval_docs = d.filter(_bkt(F.col("doc_id")) >= _VAL).select("doc_id")
    return eval_docs.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("hit_cnt"), F.lit(0)).cast("bigint").alias(
            "n_contaminated_grams"
        ),
        (F.coalesce(F.col("hit_cnt"), F.lit(0)) > 0).alias("contaminated"),
    )


_PACK_BUDGET = 512  # tokens per packed training sequence


@query(
    "pack_sequences_chunks",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS key,
                   len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ),
        laid AS (
            SELECT doc_id, n_tokens,
                   SUM(n_tokens) OVER (ORDER BY key, doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS cum_before
            FROM toks
        )
        SELECT CAST(COALESCE(cum_before, 0) // {_PACK_BUDGET} AS BIGINT)
                   AS chunk_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               CAST(MIN(doc_id) AS BIGINT) AS first_doc
        FROM laid
        GROUP BY 1
    """,
    tags=("llm", "curation", "window"),
)
def pack_sequences_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid out in a
    deterministic pseudo-random global order (md5 of the key — the same
    order every run, every partitioning), token counts are prefix-summed,
    and a document starts the chunk ``cum_before // budget`` — GPT-style
    packing where consecutive documents fill fixed 512-token sequences.

    The global prefix sum does NOT use a single-partition window: rows
    bucket by the first two hex digits of the order key (256 uniform
    buckets, bucket id monotone in the key), cumsum runs per-bucket in
    parallel, and per-bucket token totals — a 256-row aggregate — prefix
    into broadcast offsets (same two-phase shape as win_distribution's
    global rank). At 100 TB only the 256-row offset table is serial."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("key"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    ).withColumn("bkt", F.conv(F.substring("key", 1, 2), 16, 10).cast("int"))
    local = Window.partitionBy("bkt").orderBy("key", "doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum_local = F.coalesce(F.sum("n_tokens").over(local), F.lit(0))
    totals = toks.groupBy("bkt").agg(F.sum("n_tokens").alias("tot"))
    off_w = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "bkt", F.coalesce(F.sum("tot").over(off_w), F.lit(0)).alias("offset")
    )  # 256-row window — trivially small, the only serial step
    laid = (
        toks.withColumn("cum_local", cum_local)
        .join(F.broadcast(offsets), "bkt")
        .withColumn("cum_before", F.col("offset") + F.col("cum_local"))
    )
    return (
        laid.groupBy(
            (F.col("cum_before") / _PACK_BUDGET).cast("bigint").alias("chunk_id")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
    )


_N_SHARDS = 16


@query(
    "shuffle_shard_assign",
    oracle=f"""
        WITH keyed AS (
            SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS key
            FROM documents
        )
        SELECT doc_id,
               CAST(('0x' || substring(key, 1, 4))::INTEGER % {_N_SHARDS}
                    AS INTEGER) AS shard,
               CAST(ROW_NUMBER() OVER (
                        PARTITION BY ('0x' || substring(key, 1, 4))::INTEGER
                                     % {_N_SHARDS}
                        ORDER BY key, doc_id) AS BIGINT) AS pos
        FROM keyed
    """,
    tags=("llm", "curation", "window"),
)
def shuffle_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle: every document gets a shard
    (uniform md5 bucket mod N) and a position within its shard (rank by
    the md5 key) — the epoch-stable shuffled order a data loader consumes,
    reproducible across runs/engines/partitioning because it depends only
    on the key. The window partitions by shard, so at 1000 executors each
    shard ranks independently; shard count scales with the cluster, and
    no single-partition window exists. Writing shards out is then
    ``partitionBy(shard) ORDER BY pos`` on the sink."""
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("key")
    ).withColumn(
        "shard",
        (F.conv(F.substring("key", 1, 4), 16, 10).cast("long") % _N_SHARDS).cast(
            "int"
        ),
    )
    w = Window.partitionBy("shard").orderBy("key", "doc_id")
    return keyed.select(
        "doc_id", "shard", F.row_number().over(w).cast("bigint").alias("pos")
    )


_ALPHA = 0.3
_TARGET_FRAC = 0.5  # sample half the corpus overall


@query(
    "sample_language_temperature",
    oracle=f"""
        WITH stats AS (
            SELECT lang, COUNT(*) AS n_l, SUM(COUNT(*)) OVER () AS n_total
            FROM documents GROUP BY lang
        ),
        rates AS (
            SELECT lang, n_l,
                   LEAST(1.0,
                         {_TARGET_FRAC} * n_total
                         * POW(CAST(n_l AS DOUBLE), {_ALPHA})
                         / SUM(POW(CAST(n_l AS DOUBLE), {_ALPHA})) OVER ()
                         / n_l) AS keep_rate
            FROM stats
        )
        SELECT d.lang,
               CAST(MIN(r.n_l) AS BIGINT) AS n_orig,
               CAST(COUNT(CASE WHEN ('0x' || {_BKT_SQL.format(k='d.doc_id')})::INTEGER
                                    < CAST(floor(r.keep_rate * 65536) AS INTEGER)
                               THEN 1 END) AS BIGINT) AS n_sampled,
               CAST(floor(MIN(r.keep_rate) * 65536) AS BIGINT) AS threshold
        FROM documents d JOIN rates r ON r.lang = d.lang
        GROUP BY d.lang
    """,
    tags=("llm", "sampling", "curation"),
)
def sample_language_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing (mC4 / XLM-R): target mixture
    q_l ∝ n_l^α with α = 0.3, realized as per-language keep rates
    r_l = min(1, target_total · q_l / n_l) and applied as an md5-bucket
    threshold per document — RNG-free, so the sampled set is identical on
    every run and engine, and the predicate evaluates in the scan stage.
    Low-resource languages keep (rate clamps at 1), high-resource ones
    downsample. The rates table is one row per language (broadcast);
    the only shuffle is the final per-language count."""
    d = load_table(spark, sf_dir, "documents")
    stats = d.groupBy("lang").agg(F.count("*").alias("n_l"))
    tw = Window.partitionBy()  # over the ≤dozens-row language table only
    rates = stats.select(
        "lang",
        "n_l",
        F.least(
            F.lit(1.0),
            F.lit(_TARGET_FRAC)
            * F.sum("n_l").over(tw)
            * F.pow(F.col("n_l").cast("double"), _ALPHA)
            / F.sum(F.pow(F.col("n_l").cast("double"), _ALPHA)).over(tw)
            / F.col("n_l"),
        ).alias("keep_rate"),
    )
    keep = F.conv(_bkt(F.col("doc_id")), 16, 10).cast("long") < F.floor(
        F.col("keep_rate") * 65536
    ).cast("long")
    return (
        d.join(F.broadcast(rates), "lang")
        .groupBy("lang")
        .agg(
            F.min("n_l").cast("bigint").alias("n_orig"),
            F.count(F.when(keep, 1)).cast("bigint").alias("n_sampled"),
            F.floor(F.min("keep_rate") * 65536).cast("bigint").alias("threshold"),
        )
    )


@query(
    "text_repetition_metrics",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents
        ),
        wc AS (SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY 1, 2),
        word_stats AS (
            SELECT doc_id, SUM(c) AS n_words,
                   MAX(c) AS top_word_c,
                   SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_word_c
            FROM wc GROUP BY doc_id
        ),
        grams AS (
            SELECT doc_id, unnest(
                CASE WHEN len(string_split(text, ' ')) >= 2 THEN
                  list_transform(range(1, len(string_split(text, ' '))),
                    i -> array_to_string(
                           list_slice(string_split(text, ' '), i, i + 1), ' '))
                ELSE [] END) AS g
            FROM documents
        ),
        gc AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY 1, 2),
        gram_stats AS (
            SELECT doc_id, SUM(c) AS n_grams,
                   SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_gram_c
            FROM gc GROUP BY doc_id
        )
        SELECT w.doc_id, CAST(w.n_words AS BIGINT) AS n_words,
               CAST(w.top_word_c AS DOUBLE) / w.n_words AS top_word_frac,
               CAST(w.dup_word_c AS DOUBLE) / w.n_words AS dup_word_frac,
               CAST(COALESCE(g.dup_gram_c, 0) AS DOUBLE)
                   / GREATEST(COALESCE(g.n_grams, 0), 1) AS dup_bigram_frac
        FROM word_stats w LEFT JOIN gram_stats g ON g.doc_id = w.doc_id
    """,
    tags=("llm", "text", "curation"),
)
def text_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of tokens
    that are the single most frequent word, the fraction covered by any
    repeated word, and the fraction of bigrams that are repeats — the
    filters that catch keyword-stuffed and looping documents.

    Every group key is (doc_id, ...) — i.e. all aggregation happens
    WITHIN one input row — so the r4-r11 explode → groupBy → groupBy →
    join shape paid two corpus-token-sized shuffles for work that never
    crosses rows. This is guide §2.4 (remove the shuffle outright) +
    §4.2 (hand whole batches to native code): one MapInPandas pass
    counts words/bigrams per document with collections.Counter and
    emits the four metrics directly — ZERO shuffles, and only
    (doc_id, text) crosses the Arrow boundary. Counts are exact
    integers and the fractions are the same double divisions, so
    results are bit-identical to the oracle (re-verified at sf0.01 and
    sf0.1). Plan: 10 Exchanges -> 0; measured min-of-3 at sf0.1
    (isolated): 8.56 s -> 4.2 s. At 100 TB the pass is embarrassingly
    parallel over scan splits with no skew hot spot (a pathological
    one-word document is one Counter entry, not one row per token)."""
    d = load_table(spark, sf_dir, "documents")

    def _metrics(batches):
        from collections import Counter

        import pandas as pd

        for pdf in batches:
            ids, nw, twf, dwf, dbf = [], [], [], [], []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                if t is None:
                    # split(NULL) explodes to no rows: the doc vanishes
                    continue
                ws = t.split(" ")
                wc = Counter(ws)
                n = len(ws)
                dup = sum(c for c in wc.values() if c > 1)
                if n >= 2:
                    gcnt = Counter(map(" ".join, zip(ws, ws[1:])))
                    dg = sum(c for c in gcnt.values() if c > 1)
                    ng = n - 1
                else:
                    ng, dg = 0, 0
                ids.append(doc_id)
                nw.append(n)
                twf.append(max(wc.values()) / n)
                dwf.append(dup / n)
                dbf.append(dg / max(ng, 1))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_words": pd.Series(nw, dtype="int64"),
                    "top_word_frac": pd.Series(twf, dtype="float64"),
                    "dup_word_frac": pd.Series(dwf, dtype="float64"),
                    "dup_bigram_frac": pd.Series(dbf, dtype="float64"),
                }
            )

    return d.select("doc_id", "text").mapInPandas(
        _metrics,
        "doc_id bigint, n_words bigint, top_word_frac double, "
        "dup_word_frac double, dup_bigram_frac double",
    )


_BOILER_DF_CAP = 20  # a 4-gram in more than this many docs is boilerplate


@query(
    "text_boilerplate_coverage",
    oracle=f"""
        WITH inv AS (
            SELECT doc_id, unnest({_token_grams_sql('text', 4)}) AS g
            FROM documents
        ),
        boiler AS (
            SELECT g FROM inv GROUP BY g
            HAVING COUNT(DISTINCT doc_id) > {_BOILER_DF_CAP}
        ),
        cov AS (
            SELECT i.doc_id, COUNT(*) AS n_grams,
                   COUNT(b.g) AS n_boiler
            FROM inv i LEFT JOIN boiler b ON b.g = i.g
            GROUP BY i.doc_id
        )
        SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
               CAST(n_boiler AS BIGINT) AS n_boiler,
               CAST(n_boiler AS DOUBLE) / n_grams AS boiler_frac
        FROM cov
        WHERE n_grams > 0
    """,
    tags=("llm", "text", "curation"),
)
def text_boilerplate_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-boilerplate exposure per document: token 4-grams whose
    document frequency exceeds a cap are boilerplate (headers, footers,
    license blurbs — the CCNet/RefinedWeb line-dedup signal, token-level
    here because the synthetic docs are single-line); each doc reports
    what fraction of its distinct 4-grams are boilerplate.

    Same inverted-index shape as the dedup family: explode distinct grams,
    df-count with map-side partials, join the (small) boilerplate set
    back — count-only rows move through the shuffles, never text. The
    inverted index feeds two consumers (the df groupBy and the coverage
    join); persisting it saves a second shingling pass over the corpus
    (A/B at sf0.1: 4.0 s → 1.2 s min-of-3)."""
    d = load_table(spark, sf_dir, "documents", rebalance_on="doc_id")
    inv = d.select(
        "doc_id", F.explode(_token_grams(F.col("text"), 4)).alias("g")
    ).transform(track_persist)
    boiler = (
        inv.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") > _BOILER_DF_CAP)
        .select("g", F.lit(1).alias("is_boiler"))
    )
    return (
        inv.join(boiler, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.count("is_boiler").cast("bigint").alias("n_boiler"),
        )
        .filter(F.col("n_grams") > 0)
        .select(
            "doc_id",
            "n_grams",
            "n_boiler",
            (F.col("n_boiler").cast("double") / F.col("n_grams")).alias(
                "boiler_frac"
            ),
        )
    )


# Decimal casts for exact order-independent float sums (embedding values are
# |x| ≤ ~1 float32; products ≤ 1): 12 integer digits headroom, 16 fractional
# digits keep every float32 product exactly (float32 has 24 mantissa bits).
_DEC = "DECIMAL(28,16)"


@query(
    "vec_label_centroid_classify",
    oracle=f"""
        WITH ex AS (
            SELECT e.vec_id, e.label, r.i AS pos,
                   CAST(e.embedding[r.i] AS DOUBLE) AS v
            FROM embeddings e,
                 LATERAL (SELECT UNNEST(range(1, len(e.embedding) + 1)) AS i) r
        ),
        cent AS (
            SELECT label AS clabel, pos,
                   CAST(SUM(CAST(v AS {_DEC})) AS DOUBLE) / COUNT(*) AS c
            FROM ex GROUP BY 1, 2
        ),
        cnorm AS (
            SELECT clabel,
                   sqrt(CAST(SUM(CAST(c * c AS {_DEC})) AS DOUBLE)) AS cn
            FROM cent GROUP BY 1
        ),
        vnorm AS (
            SELECT vec_id,
                   sqrt(CAST(SUM(CAST(v * v AS {_DEC})) AS DOUBLE)) AS vn
            FROM ex GROUP BY 1
        ),
        dots AS (
            SELECT ex.vec_id, cent.clabel,
                   CAST(SUM(CAST(ex.v * cent.c AS {_DEC})) AS DOUBLE) AS dot
            FROM ex JOIN cent ON cent.pos = ex.pos
            GROUP BY 1, 2
        ),
        scored AS (
            SELECT d.vec_id, d.clabel,
                   d.dot / (v.vn * c.cn) AS cos,
                   ROW_NUMBER() OVER (PARTITION BY d.vec_id
                                      ORDER BY d.dot / (v.vn * c.cn) DESC,
                                               d.clabel) AS rn
            FROM dots d JOIN vnorm v ON v.vec_id = d.vec_id
                        JOIN cnorm c ON c.clabel = d.clabel
        )
        SELECT e.label, s.clabel AS predicted,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM scored s JOIN embeddings e ON e.vec_id = s.vec_id
        WHERE s.rn = 1
        GROUP BY 1, 2
    """,
    tags=("llm", "vector", "curation"),
)
def vec_label_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid probe: per-label mean embeddings, then every vector
    classified to its max-cosine centroid; output is the confusion-count
    matrix (label, predicted, n) — the cheap linear probe pipelines run
    to sanity-check an embedding refresh.

    Every float sum (centroid means, norms, dot products) goes through
    DECIMAL(28,16): float32 products are exact at that scale, decimal
    addition is associative AND commutative at that exactness, so any
    summation order — Spark shuffle, DuckDB scan, or a fixed positional
    array fold — produces the bit-identical double (the
    functions/numeric.py trick at float precision).

    Shape (r7): centroids come from one long-form shuffle
    (dims×rows → 64·|labels| means + |labels| norms), and that
    model-sized matrix is COLLECTED to the driver — the bounded k×dim
    driver traffic of operators/kmeans.py, not row data. Scoring is then
    entirely map-side: per label, a zip_with/aggregate decimal fold over
    the array column computes the dot, the vector norm is the same fold
    on v·v, and the argmax chains WHEN comparisons in ascending-label
    order (ties keep the earlier = smaller label, matching the oracle's
    ROW_NUMBER tie-break). This removed the r6 shape's rows×dims×labels
    broadcast-join expansion, the per-vector norm shuffle, and the
    ranking window — A/B at sf0.1: 2.9 s → map-only scoring + one tiny
    confusion aggregate."""
    e = load_table(spark, sf_dir, "embeddings", rebalance_on="vec_id")
    ex = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos0", "v32")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.col("v32").cast("double").alias("v"),
    )
    cent = (
        ex.groupBy(F.col("label").alias("clabel"), "pos")
        .agg(
            (F.sum(F.col("v").cast(_DEC)).cast("double") / F.count("*")).alias("c")
        )
        # 64·|labels| rows; materialized once so the cnorm aggregate and
        # the collect below don't each replay the dims×rows shuffle
        .localCheckpoint(eager=True)
    )
    cnorm = cent.groupBy("clabel").agg(
        F.sqrt(F.sum((F.col("c") * F.col("c")).cast(_DEC)).cast("double")).alias(
            "cn"
        )
    )
    # model-sized collects: 64·|labels| means + |labels| norms (bounded —
    # the centroid matrix IS the model, same budget as kmeans centroids)
    cvec: dict = {}
    for r in cent.collect():
        cvec.setdefault(r["clabel"], {})[r["pos"]] = r["c"]
    # Ragged embeddings would make per-label position sets diverge; carr
    # below assumes contiguous 1..dims, and zip_with would NULL-pad a
    # length mismatch into silently-NULL cosines. Fail loudly instead.
    dims_seen = {tuple(sorted(pos)) for pos in cvec.values()}
    if len(dims_seen) > 1 or any(
        pos != tuple(range(1, len(pos) + 1)) for pos in dims_seen
    ):
        raise ValueError(
            "vec_label_centroid_classify: non-uniform embedding dims across "
            f"labels: {sorted((k, len(v)) for k, v in cvec.items())}"
        )
    cns = {r["clabel"]: r["cn"] for r in cnorm.collect()}
    label_type = dict(e.dtypes)["label"]
    if not cvec:  # empty corpus: no centroids, no predictions
        return spark.createDataFrame(
            [], f"label {label_type}, predicted {label_type}, n bigint"
        )

    def dec_sum(arr):  # decimal-exact, order-independent array sum
        # the fold's merge must return the accumulator type exactly, so
        # each add re-casts to decimal(32,16): (32,16)+(28,16) widens to
        # (33,16) — still lossless — and the cast back is exact for the
        # <= dims-sized sums of unit-scale products this query folds
        acc = "decimal(32,16)"
        return F.aggregate(
            arr,
            F.lit(0).cast(acc),
            lambda a, x: (a + x.cast(_DEC)).cast(acc),
        ).cast("double")

    varr = F.transform("embedding", lambda x: x.cast("double"))
    # one named column per reused subexpression: a WHEN-chain argmax that
    # re-references the running best would DOUBLE the expression tree per
    # label (2^|labels| subtrees — measured 88s at sf0.1); the array fold
    # below binds everything to lambda variables instead, so each cosine
    # is built and evaluated exactly once per row
    scored = e.withColumn("vn", F.sqrt(dec_sum(F.transform(varr, lambda v: v * v))))
    cand = []
    for lab in sorted(cvec):  # ascending: fold keeps the earlier label on ties
        carr = F.array(
            *[F.lit(cvec[lab][p]) for p in range(1, len(cvec[lab]) + 1)]
        )
        cos = dec_sum(F.zip_with(varr, carr, lambda v, c: v * c)) / (
            F.col("vn") * F.lit(cns[lab])
        )
        cand.append(
            F.struct(cos.alias("cos"), F.lit(lab).cast(label_type).alias("clabel"))
        )
    scored = scored.withColumn("scores", F.array(*cand))
    best = F.aggregate(
        F.slice("scores", 2, F.size("scores")),
        F.col("scores")[0],
        lambda a, x: F.when(x["cos"] > a["cos"], x).otherwise(a),
    )
    return (
        scored.select("label", best["clabel"].alias("predicted"))
        .groupBy("label", "predicted")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


@query(
    "pipeline_pretraining_batch",
    oracle=f"""
        WITH dd AS (
            SELECT doc_id, lang, text,
                   ROW_NUMBER() OVER (PARTITION BY sha256(text)
                                      ORDER BY doc_id) AS rn
            FROM documents
            WHERE {_BKT_SQL.format(k='doc_id')} < '{_TRAIN}'
        ),
        train AS (SELECT doc_id, lang, text FROM dd WHERE rn = 1),
        test_grams AS (
            SELECT DISTINCT unnest({_token_grams_sql('text', 8)}) AS g
            FROM documents
            WHERE {_BKT_SQL.format(k='doc_id')} >= '{_VAL}'
        ),
        clean AS (
            SELECT t.* FROM train t
            WHERE NOT EXISTS (
                SELECT 1
                FROM unnest({_token_grams_sql('t.text', 8)}) u(g)
                JOIN test_grams tg ON tg.g = u.g)
        ),
        stats AS (
            SELECT lang, COUNT(*) AS n_l, SUM(COUNT(*)) OVER () AS n_total
            FROM clean GROUP BY lang
        ),
        rates AS (
            SELECT lang,
                   LEAST(1.0,
                         {_TARGET_FRAC} * n_total
                         * POW(CAST(n_l AS DOUBLE), {_ALPHA})
                         / SUM(POW(CAST(n_l AS DOUBLE), {_ALPHA})) OVER ()
                         / n_l) AS keep_rate
            FROM stats
        )
        SELECT c.lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(c.text, ' '))) AS BIGINT)
                   AS total_tokens
        FROM clean c JOIN rates r ON r.lang = c.lang
        WHERE ('0x' || {_BKT_SQL.format(k='c.doc_id')})::INTEGER
              < CAST(floor(r.keep_rate * 65536) AS INTEGER)
        GROUP BY c.lang
    """,
    tags=("llm", "curation", "pipeline"),
)
def pipeline_pretraining_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r5 curation ops composed into ONE declarative pretraining-data
    job: train split (hash threshold, scan-stage) → exact dedup
    keep-first (one shuffle on the content hash) → DECONTAMINATION (drop
    any train doc sharing a token 8-gram with the test split — gram
    explode, semi against the distinct test-gram set, anti back to docs)
    → temperature resampling (α=0.3 rates from the CLEANED counts, so
    the mixture reflects what survived) → per-language accounting.

    Shuffle inventory at 100 TB: content-hash dedup, gram semi-join
    (gram-keyed, partial-aggregated), doc_id anti-join, one stats
    aggregate — all on unskewed keys; the rates table is
    languages-sized and broadcast.

    Two shared subtrees are computed once instead of per consumer
    (guide §3.3; the r12 plan audit read 12 FileScans / 32 Exchanges
    from the re-executed chains, now 5 scans / 13 Exchanges):
    contamination runs on the PRE-dedup train bucket — exact duplicates
    have byte-identical text, hence identical grams, so a keeper id is
    contaminated in either formulation and non-keeper ids simply miss
    the anti-join — which drops the window-dedup from the gram branch;
    and the surviving docs collapse to a persisted (doc_id, lang,
    n_toks) metadata projection (guide §8: decide on small rows), so
    the dedup → anti-join chain and the text column are walked exactly
    once while stats and the final aggregate both read the 3-scalar
    cache. Measured min-of-3 at sf0.1 (warm A/B): 2.14 s -> 1.45 s."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents", rebalance_on="doc_id")
    train_bucket = d.filter(_bkt(F.col("doc_id")) < _TRAIN)
    w = Window.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
    train = (
        train_bucket.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "text")
    )
    test_grams = (
        d.filter(_bkt(F.col("doc_id")) >= _VAL)
        .select(F.explode(_token_grams(F.col("text"), 8)).alias("g"))
        .distinct()
    )
    contaminated = (
        train_bucket.select(
            "doc_id", F.explode(_token_grams(F.col("text"), 8)).alias("g")
        )
        .join(test_grams, "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = (
        train.join(contaminated, "doc_id", "left_anti")
        .select(
            "doc_id",
            "lang",
            F.size(F.split("text", " ")).cast("long").alias("n_toks"),
        )
        .transform(track_persist)
    )
    stats = clean.groupBy("lang").agg(F.count("*").alias("n_l"))
    tw = Window.partitionBy()  # languages-sized aggregate only
    rates = stats.select(
        "lang",
        F.least(
            F.lit(1.0),
            F.lit(_TARGET_FRAC)
            * F.sum("n_l").over(tw)
            * F.pow(F.col("n_l").cast("double"), _ALPHA)
            / F.sum(F.pow(F.col("n_l").cast("double"), _ALPHA)).over(tw)
            / F.col("n_l"),
        ).alias("keep_rate"),
    )
    keep = F.conv(_bkt(F.col("doc_id")), 16, 10).cast("long") < F.floor(
        F.col("keep_rate") * 65536
    ).cast("long")
    return (
        clean.join(F.broadcast(rates), "lang")
        .filter(keep)
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("total_tokens"),
        )
    )


# --------------------------------------------------------------------------
# Exact-substring span rewriting (Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better"): repeated token spans are removed
# corpus-wide — keeping the FIRST occurrence — and every document is
# REASSEMBLED from its surviving spans. This is the one dedup shape the
# rest of the family doesn't cover: dedup_exact drops whole documents,
# dedup_minhash_lsh/dedup_ngram_jaccard report pairs — this one rewrites
# content. The paper's suffix array is replaced by the scalable Spark
# approximation production pipelines use: non-overlapping k-token spans,
# global keep-first on the span key.
# --------------------------------------------------------------------------

_SPAN = 8  # tokens per span (the paper's 50-token threshold, scaled to corpus)


@query(
    "dedup_span_rewrite",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        chunks AS (
            SELECT doc_id, g.i AS pos,
                   array_to_string(
                       list_slice(t, g.i * {_SPAN} + 1, g.i * {_SPAN} + {_SPAN}),
                       ' ') AS chunk
            FROM toks,
                 LATERAL (SELECT unnest(range(0,
                     CAST(ceil(len(t) / {_SPAN}.0) AS BIGINT))) AS i) g
        ),
        ranked AS (
            SELECT doc_id, pos, chunk,
                   row_number() OVER (PARTITION BY chunk
                                      ORDER BY doc_id, pos) AS rn
            FROM chunks
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END,
                                   ' ' ORDER BY pos), '') AS rewritten
        FROM ranked
        GROUP BY doc_id
    """,
    tags=("llm", "dedup", "curation"),
)
def dedup_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup with document REWRITING: chunk every doc into
    non-overlapping 8-token spans, keep only the globally FIRST occurrence
    of each span (ordered by doc_id, then position), and reassemble each
    document from its surviving spans in order. Returns per-doc span
    accounting plus the rewritten text, hash-checked against the oracle.

    Scale shape: one shuffle keyed on the span string for the keep-first
    row_number (each window partition is duplicate-group sized — bounded
    and unskewed after exact dedup upstream), one shuffle on doc_id for
    reassembly. The span shuffle must carry the text exactly once (the
    survivor's content IS the output), so keying by the string rather
    than a hash costs nothing extra and keeps the result bit-exact; at
    100 TB you'd key on a 128-bit content hash and join text back from
    the winning (doc_id, pos). No suffix array, no all-pairs — O(corpus)
    rows through two hash shuffles."""
    d = load_table(spark, sf_dir, "documents")
    chunks = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(split(text, ' ')) / {_SPAN}.0) as int) - 1),"
                f" i -> array_join(slice(split(text, ' '), i * {_SPAN} + 1, {_SPAN}), ' '))"
            )
        ).alias("pos", "chunk"),
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "pos")
    ranked = chunks.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("rn") == 1, F.struct("pos", "chunk"))
                    )
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("rewritten"),
    )


# --------------------------------------------------------------------------
# Filter-funnel yield accounting: every production curation pipeline ships
# a "where did my data go" report — documents surviving each filter stage
# in sequence, with per-stage yield. One corpus pass, one 1-row global
# aggregate, unpivoted driver-side-free into stage rows.
# --------------------------------------------------------------------------


@query(
    "pipeline_filter_funnel",
    oracle="""
        WITH f AS (
            SELECT n_chars BETWEEN 100 AND 400 AS b1,
                   len(list_distinct(string_split(text, ' '))) * 1.0
                       / len(string_split(text, ' ')) >= 0.4 AS b2,
                   lang = 'en' AS b3
            FROM documents
        ),
        tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n0,
                   CAST(SUM(CASE WHEN b1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                   CAST(SUM(CASE WHEN b1 AND b2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                   CAST(SUM(CASE WHEN b1 AND b2 AND b3 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n3
            FROM f
        )
        SELECT stage, stage_name, n_in, n_out,
               CASE WHEN n_in = 0 THEN 0.0
                    ELSE CAST(n_out AS DOUBLE) / n_in END AS yield_frac
        FROM (
            SELECT CAST(1 AS BIGINT) AS stage, 'length' AS stage_name,
                   n0 AS n_in, n1 AS n_out FROM tot
            UNION ALL
            SELECT 2, 'repetition', n1, n2 FROM tot
            UNION ALL
            SELECT 3, 'language', n2, n3 FROM tot
        )
    """,
    tags=("llm", "curation"),
)
def pipeline_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage survival accounting for a three-stage quality funnel
    (length gate → distinct-token-ratio repetition gate → language gate):
    each output row reports documents entering and surviving that stage
    when the stages apply in sequence, plus the stage yield.

    Scale shape: the three predicates evaluate inside the scan stage
    (pure column expressions, whole-stage codegen), one map-side-combined
    global aggregate reduces the corpus to a single count row, and the
    stage unpivot is a 3-row stack over that row — the whole report costs
    one pass and one 4-long shuffle regardless of corpus size."""
    d = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    flags = d.select(
        F.col("n_chars").between(100, 400).alias("b1"),
        (F.size(F.array_distinct(t)) * F.lit(1.0) / F.size(t) >= 0.4).alias("b2"),
        (F.col("lang") == "en").alias("b3"),
    )
    tot = flags.agg(
        F.count("*").cast("bigint").alias("n0"),
        F.sum(F.when(F.col("b1"), 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("b1") & F.col("b2"), 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
        F.sum(F.when(F.col("b1") & F.col("b2") & F.col("b3"), 1).otherwise(0))
        .cast("bigint")
        .alias("n3"),
    )
    stages = tot.selectExpr(
        "stack(3, "
        "cast(1 as bigint), 'length', n0, n1, "
        "cast(2 as bigint), 'repetition', n1, n2, "
        "cast(3 as bigint), 'language', n2, n3"
        ") as (stage, stage_name, n_in, n_out)"
    )
    return stages.select(
        "stage",
        "stage_name",
        "n_in",
        "n_out",
        F.when(F.col("n_in") == 0, F.lit(0.0))
        .otherwise(F.col("n_out").cast("double") / F.col("n_in"))
        .alias("yield_frac"),
    )


@query(
    "dedup_url_canonical",
    oracle="""
        WITH u AS (
            SELECT doc_id,
                   CASE doc_id % 4
                     WHEN 0 THEN 'https://WWW.Example.com/page'
                                 || CAST(doc_id % 50 AS VARCHAR) || '/'
                     WHEN 1 THEN 'http://www.example.com/page'
                                 || CAST(doc_id % 50 AS VARCHAR)
                     WHEN 2 THEN 'https://example.com/page'
                                 || CAST(doc_id % 50 AS VARCHAR)
                                 || '?utm_source=feed&ref=rss'
                     ELSE 'https://www.EXAMPLE.com/page'
                          || CAST(doc_id % 50 AS VARCHAR) || '#section-2'
                   END AS url
            FROM documents
        ),
        canon AS (
            SELECT doc_id, url,
                   regexp_replace(
                       lower(regexp_extract(url, 'https?://([^/?#]+)', 1)),
                       '^www\\.', '')
                   || regexp_replace(
                       regexp_extract(url, 'https?://[^/?#]+([^?#]*)', 1),
                       '/$', '') AS canonical_url
            FROM u
        )
        SELECT canonical_url,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
        FROM canon
        GROUP BY canonical_url
    """,
    tags=("llm", "dedup", "curation"),
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the step a web-crawl corpus runs
    BEFORE any content dedup: the same page arrives under scheme
    variants, host-case variants, www-prefixes, tracking query params
    and fragments; canonicalize (lowercase host, strip www./query/
    fragment/trailing slash) and keep the first doc per canonical URL.
    URLs are synthesized deterministically from doc_id so every variant
    class is exercised; Spark canonicalizes with native parse_url +
    regexp_replace (codegen), the oracle with equivalent anchored
    regexes — both must collapse the four variants of each page to one
    canonical key.

    Scale shape: canonicalization is per-row scan-stage work; the only
    shuffle is the hash aggregate on the canonical key carrying
    (canonical_url, doc_id) — dedup_exact mechanics, ~50-byte keys (at
    100 TB, xxhash64 of the canonical key shrinks the exchange the same
    way dedup_line_rewrite documents)."""
    d = load_table(spark, sf_dir, "documents")
    url = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("https://WWW.Example.com/page"),
                (F.col("doc_id") % 50).cast("string"),
                F.lit("/"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("http://www.example.com/page"),
                (F.col("doc_id") % 50).cast("string"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("https://example.com/page"),
                (F.col("doc_id") % 50).cast("string"),
                F.lit("?utm_source=feed&ref=rss"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://www.EXAMPLE.com/page"),
                (F.col("doc_id") % 50).cast("string"),
                F.lit("#section-2"),
            )
        )
    )
    u = d.select("doc_id", url.alias("url"))
    canonical = F.concat(
        F.regexp_replace(
            F.lower(F.parse_url("url", F.lit("HOST"))), "^www\\.", ""
        ),
        F.regexp_replace(F.parse_url("url", F.lit("PATH")), "/$", ""),
    )
    return (
        u.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("keeper_doc_id"),
        )
    )
