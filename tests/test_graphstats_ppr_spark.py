"""Personalized PageRank (operators/pagerank.py teleport param) and the
whole-graph stats operators (operators/graphstats.py)."""

import numpy as np
import pytest

from pyspark.sql import functions as F


def _edges_df(spark, edges):
    return spark.createDataFrame(edges, "src bigint, dst bigint")


def _ppr_numpy(edges, seeds, damping, iters):
    """Dense-reference personalized PageRank with dangling mass flowing
    to the teleport vector — the semantics pagerank(teleport=...) claims."""
    nodes = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    p = np.zeros(n)
    for s in seeds:
        p[idx[s]] = 1.0 / len(seeds)
    out = np.zeros(n)
    for s, _ in edges:
        out[idx[s]] += 1
    r = p.copy()
    for _ in range(iters):
        mass = np.zeros(n)
        for s, t in edges:
            mass[idx[t]] += r[idx[s]] / out[idx[s]]
        dmass = r[out == 0].sum()
        r = (1 - damping) * p + damping * (dmass * p + mass)
    return {v: r[idx[v]] for v in nodes}


def test_ppr_matches_dense_reference_with_dangling(spark):
    # digraph with a dangling vertex (5) and an out-of-seed component
    edges = [(1, 2), (2, 3), (3, 1), (2, 4), (4, 5), (6, 7), (7, 6)]
    from dachshund_spark.operators.pagerank import pagerank

    seeds_l = [1, 6]
    seeds = spark.createDataFrame([(v,) for v in seeds_l], "v bigint")
    got = {
        r["v"]: r["pagerank"]
        for r in pagerank(
            _edges_df(spark, edges), tol=0.0, max_iter=8, teleport=seeds
        ).collect()
    }
    want = _ppr_numpy(edges, seeds_l, 0.85, 8)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12), v
    # mass conservation: dangling + restart both recycle into p
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_ppr_checkpointed_matches_uncheckpointed(spark, tmp_path):
    # the teleport vector rides in the held state, so a durable run reads
    # it back from each step's parquet
    from dachshund_spark.operators.pagerank import pagerank
    from dachshund_spark.plans.superstep import CheckpointManager

    edges = [(1, 2), (2, 3), (3, 1), (2, 4), (4, 5), (6, 7), (7, 6)]
    seeds_l = [1, 6]
    seeds = spark.createDataFrame([(v,) for v in seeds_l], "v bigint")
    runs = []
    for cp in (None, CheckpointManager(str(tmp_path), "ppr")):
        runs.append({
            r["v"]: r["pagerank"]
            for r in pagerank(
                _edges_df(spark, edges), tol=0.0, max_iter=8, teleport=seeds,
                checkpointer=cp,
            ).collect()
        })
    plain, durable = runs
    want = _ppr_numpy(edges, seeds_l, 0.85, 8)
    assert set(plain) == set(durable) == set(want)
    for v in want:
        assert abs(durable[v] - plain[v]) <= 1e-9, v
        assert abs(durable[v] - want[v]) <= 1e-9, v


def test_ppr_zero_outside_seed_reachability(spark):
    # vertices unreachable from the seed set must get exactly 0 rank
    edges = [(1, 2), (2, 1), (3, 4), (4, 3)]
    from dachshund_spark.operators.pagerank import pagerank

    seeds = spark.createDataFrame([(1,)], "v bigint")
    got = {
        r["v"]: r["pagerank"]
        for r in pagerank(
            _edges_df(spark, edges), tol=0.0, max_iter=5, teleport=seeds
        ).collect()
    }
    assert got[3] == 0.0 and got[4] == 0.0
    assert got[1] > 0.0 and got[2] > 0.0
    assert got[1] + got[2] == pytest.approx(1.0, abs=1e-12)


def test_ppr_empty_teleport_raises(spark):
    from dachshund_spark.operators.pagerank import pagerank

    with pytest.raises(ValueError, match="teleport set is empty"):
        pagerank(
            _edges_df(spark, [(1, 2)]),
            teleport=spark.createDataFrame([], "v bigint"),
        )


def test_assortativity_star_is_negative_one(spark):
    # a star is the canonical perfectly-disassortative graph (r = -1)
    from dachshund_spark.operators.graphstats import degree_assortativity

    star = [(0, i) for i in range(1, 6)]
    row = degree_assortativity(_edges_df(spark, star)).collect()[0]
    assert row["m_edges"] == 10
    assert row["assortativity"] == pytest.approx(-1.0, abs=1e-12)


def test_assortativity_matches_numpy_pearson(spark):
    from dachshund_spark.operators.graphstats import degree_assortativity

    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (5, 1), (5, 6)]
    row = degree_assortativity(_edges_df(spark, edges)).collect()[0]
    sym = edges + [(b, a) for a, b in edges]
    deg = {}
    for a, _ in sym:
        deg[a] = deg.get(a, 0) + 1
    xs = np.array([deg[a] for a, _ in sym], dtype=float)
    ys = np.array([deg[b] for _, b in sym], dtype=float)
    want = np.corrcoef(xs, ys)[0, 1]
    assert row["assortativity"] == pytest.approx(want, rel=1e-9)


def test_reciprocity_counts(spark):
    from dachshund_spark.operators.graphstats import reciprocity

    edges = [(1, 2), (2, 1), (2, 3), (3, 3), (4, 5), (5, 4), (4, 5)]
    row = reciprocity(_edges_df(spark, edges)).collect()[0]
    # distinct non-loop edges: (1,2),(2,1),(2,3),(4,5),(5,4) -> 5;
    # reciprocal: all but (2,3) -> 4
    assert (row["n_edges"], row["n_reciprocal"]) == (5, 4)
    assert row["reciprocity"] == pytest.approx(0.8, abs=1e-15)


def test_weighted_pagerank_matches_dense_reference(spark):
    from dachshund_spark.operators.pagerank import pagerank

    edges = [(1, 2, 3.0), (1, 3, 1.0), (2, 3, 2.0), (3, 1, 5.0)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint, weight double")
    got = {
        r["v"]: r["pagerank"]
        for r in pagerank(df, tol=0.0, max_iter=6, weight_col="weight").collect()
    }
    nodes = [1, 2, 3]
    out = {1: 4.0, 2: 2.0, 3: 5.0}
    r = {v: 1 / 3 for v in nodes}
    for _ in range(6):
        mass = {v: 0.0 for v in nodes}
        for s, t, w in edges:
            mass[t] += r[s] * (w / out[s])
        r = {v: 0.15 / 3 + 0.85 * mass[v] for v in nodes}
    for v in nodes:
        assert got[v] == pytest.approx(r[v], abs=1e-12), v
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_weighted_pagerank_unit_weights_equal_unweighted(spark):
    from dachshund_spark.operators.pagerank import pagerank

    edges = [(1, 2), (2, 3), (3, 1), (1, 3)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    wdf = df.withColumn("weight", F.lit(1.0))
    plain = {
        r["v"]: r["pagerank"]
        for r in pagerank(df, tol=0.0, max_iter=4).collect()
    }
    weighted = {
        r["v"]: r["pagerank"]
        for r in pagerank(wdf, tol=0.0, max_iter=4, weight_col="weight").collect()
    }
    for v in plain:
        assert weighted[v] == pytest.approx(plain[v], abs=1e-15), v


def test_weighted_personalized_pagerank_dense_reference(spark):
    # weight_col and teleport COMPOSED (the trustrank path): dense
    # reference with restart + dangling mass on the seed vector and
    # weighted out-mass splitting
    from dachshund_spark.operators.pagerank import pagerank

    edges = [(1, 2, 2.0), (2, 3, 1.0), (3, 1, 4.0), (1, 3, 2.0)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint, weight double")
    seeds_df = spark.createDataFrame([(1,)], "v bigint")
    got = {
        r["v"]: r["pagerank"]
        for r in pagerank(
            df, tol=0.0, max_iter=5, weight_col="weight", teleport=seeds_df
        ).collect()
    }
    nodes = [1, 2, 3]
    out = {1: 4.0, 2: 1.0, 3: 4.0}
    p = {1: 1.0, 2: 0.0, 3: 0.0}
    r = dict(p)
    for _ in range(5):
        mass = {v: 0.0 for v in nodes}
        for s, t, w in edges:
            mass[t] += r[s] * (w / out[s])
        r = {v: 0.15 * p[v] + 0.85 * mass[v] for v in nodes}
    for v in nodes:
        assert got[v] == pytest.approx(r[v], abs=1e-12), v
