"""Distributed MST (Boruvka), Kahn topological layering, and
deterministic random walks vs their sequential kernels."""

import random

import pytest

from dachshund_spark.functions import kernels as K
from dachshund_spark.operators.dag import topological_levels
from dachshund_spark.operators.mst import minimum_spanning_forest
from dachshund_spark.operators.walks import random_walks


def _edges_df(spark, rows, schema="src long, dst long"):
    return spark.createDataFrame(rows, schema)


# --------------------------------------------------------------------------
# minimum spanning forest
# --------------------------------------------------------------------------


def test_mst_matches_kruskal_random_graph(spark):
    rng = random.Random(7)
    n = 80
    wedges = [(i, i + 1, float(rng.randint(1, 9))) for i in range(n - 1)]
    for _ in range(240):  # dense noise with heavy weight ties
        a, b = rng.sample(range(n), 2)
        wedges.append((a, b, float(rng.randint(1, 9))))
    df = _edges_df(spark, wedges, "src long, dst long, weight double")
    got = sorted(tuple(r) for r in minimum_spanning_forest(df).collect())
    assert got == K.kruskal_msf(wedges)
    # spanning tree of a connected graph: exactly n-1 edges
    assert len(got) == n - 1


def test_mst_forest_multi_component_and_duplicates(spark):
    wedges = [
        (1, 2, 5.0), (2, 3, 1.0), (1, 3, 5.0),  # triangle with tie 1-2/1-3
        (2, 1, 4.0),                            # reversed duplicate, lighter
        (10, 11, 2.0), (11, 12, 2.0), (10, 12, 2.0),  # all-tied triangle
        (20, 20, 0.5),                          # self-loop: ignored
    ]
    df = _edges_df(spark, wedges, "src long, dst long, weight double")
    got = sorted(tuple(r) for r in minimum_spanning_forest(df).collect())
    assert got == K.kruskal_msf(wedges)
    # two components -> (3-1) + (3-1) = 4 edges; tie broken toward
    # smallest (src, dst): the all-tied triangle keeps (10,11) and (10,12)
    assert (10, 11, 2.0) in got and (10, 12, 2.0) in got
    assert (11, 12, 2.0) not in got


def test_mst_single_edge_and_empty(spark):
    df = _edges_df(spark, [(1, 2, 3.0)], "src long, dst long, weight double")
    assert [tuple(r) for r in minimum_spanning_forest(df).collect()] == [
        (1, 2, 3.0)
    ]
    empty = df.filter("src < 0")
    assert minimum_spanning_forest(empty).count() == 0


# --------------------------------------------------------------------------
# topological levels
# --------------------------------------------------------------------------


def test_topological_levels_diamond(spark):
    dag = [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (6, 4)]
    got = {r.v: r.level for r in
           topological_levels(_edges_df(spark, dag)).collect()}
    assert got == K.kahn_levels(dag)
    assert got == {1: 0, 6: 0, 2: 1, 3: 1, 4: 2, 5: 3}


def test_topological_levels_respects_all_edges(spark):
    rng = random.Random(3)
    shapes = [
        sorted(
            {(a, b) for _ in range(300)
             for a, b in [sorted(rng.sample(range(60), 2))]}
        ),
        # 4 reaches in-degree 0 only after 1, 2 and 3 are peeled in turn
        [(1, 2), (2, 3), (3, 4), (1, 4), (2, 4)],
        [],  # empty edge table
    ]
    for dag in shapes:
        got = {r.v: r.level for r in
               topological_levels(_edges_df(spark, dag)).collect()}
        assert got == K.kahn_levels(dag)
        for s, t in dag:  # every edge strictly increases the level
            assert got[s] < got[t]


def test_topological_levels_cycle_raises(spark):
    with pytest.raises(ValueError, match="cycle"):
        topological_levels(_edges_df(spark, [(1, 2), (2, 3), (3, 1)]))
    # cycle reachable only downstream of settled layers still detected
    with pytest.raises(ValueError, match="cycle"):
        topological_levels(_edges_df(spark, [(0, 1), (1, 2), (2, 1)]))
    # a self-loop-only vertex never reaches in-degree 0
    with pytest.raises(ValueError, match="cycle"):
        topological_levels(_edges_df(spark, [(0, 1), (5, 5)]))


# --------------------------------------------------------------------------
# random walks
# --------------------------------------------------------------------------


def test_random_walks_match_kernel(spark):
    g = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (1, 5), (2, 5)]
    got = sorted(
        tuple(r)
        for r in random_walks(
            _edges_df(spark, g), walks_per_vertex=2, length=5, seed=3
        ).collect()
    )
    assert got == sorted(K.seeded_walks(K.build_undirected_adj(g), 2, 5, 3))


def test_random_walks_are_edge_valid_and_seed_sensitive(spark):
    g = [(i, (i * 3 + 1) % 17) for i in range(17)] + [(i, i + 1) for i in range(16)]
    df = _edges_df(spark, g)
    rows = random_walks(df, walks_per_vertex=1, length=3, seed=0).collect()
    adj = K.build_undirected_adj(g)
    byw = {}
    for r in rows:
        byw.setdefault((r.start, r.walk), {})[r.step] = r.v
    for (start, _), path in byw.items():
        assert path[0] == start
        for i in range(1, len(path)):
            assert path[i] in adj[path[i - 1]]  # consecutive = real edge
    other = sorted(
        tuple(r) for r in random_walks(df, 1, 3, seed=1).collect()
    )
    assert other != sorted(tuple(r) for r in rows)
    assert other == sorted(K.seeded_walks(adj, 1, 3, 1))


def test_random_walks_directed_dead_end(spark):
    rows = sorted(
        tuple(r)
        for r in random_walks(
            _edges_df(spark, [(1, 2), (2, 3)]), 1, 4, 0, directed=True
        ).collect()
    )
    # vertex 3 has no out-edges: not a start, and walks stop there
    assert rows == [(1, 0, 0, 1), (1, 0, 1, 2), (1, 0, 2, 3),
                    (2, 0, 0, 2), (2, 0, 1, 3)]
