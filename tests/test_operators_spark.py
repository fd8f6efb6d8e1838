"""Distributed operators vs the kernel oracles on the reference fixture
graphs — component assignments exact, triangle counts exact, coreness
exact, PageRank allclose 1e-6 (north_rule correctness bar)."""

import pytest

from dachshund_spark.functions import kernels as K
from dachshund_spark.operators import builders as B
from dachshund_spark.operators.components import (
    connected_components,
    component_sizes,
    is_connected,
    to_discovery_order,
)
from dachshund_spark.operators.coreness import (
    coreness,
    coreness_peel,
    k_core_components,
    k_core_vertices,
    k_truss_edges,
)
from dachshund_spark.operators.label_propagation import label_propagation
from dachshund_spark.operators.pagerank import pagerank
from dachshund_spark.operators.paths import (
    shortest_path_dag,
    undirected_bfs_distances,
)
from dachshund_spark.operators.triangles import (
    clustering_coefficients,
    global_stats,
    transitivity,
    triangle_counts,
)
from tests.fixtures import (
    KARATE_CLUB_EDGES,
    TWO_KARATE_CLUBS,
    TWO_KARATE_CLUBS_BRIDGE,
    simple_graph_edges,
)


def test_builders_dedup(spark):
    e = B.edges_df(spark, [(1, 2), (2, 1), (1, 2), (2, 3), (3, 3)])
    canon = B.canonical_undirected(e)
    assert canon.count() == 2  # self-loop dropped, dups collapsed
    assert B.symmetrized(e).count() == 4
    assert {r["v"]: r["degree"] for r in B.degrees(e).collect()} == {
        1: 1, 2: 2, 3: 1,
    }


def test_weighted_last_wins(spark):
    rows = [(0, 1, 1.5, 0), (1, 0, 2.5, 1)]
    e = spark.createDataFrame(rows, "src long, dst long, weight double, seq long")
    out = B.weighted_canonical(e, order_col="seq").collect()
    assert len(out) == 1 and out[0]["weight"] == 2.5


def test_connected_components(spark):
    e = B.edges_df(spark, TWO_KARATE_CLUBS)
    cc = connected_components(e)
    got = {(r["v"], r["component"]) for r in cc.collect()}
    # min-id canonical labels: club 1 -> 1, club 2 -> 36
    assert all(c == (1 if v <= 34 else 36) for v, c in got)
    sizes = {r["component"]: r["size"] for r in component_sizes(cc).collect()}
    assert sizes == {1: 34, 36: 34}
    assert not is_connected(cc)
    disc = to_discovery_order(cc)
    idx = {r["component"]: r["component_idx"] for r in disc.collect()}
    assert idx == {1: 0, 36: 1}

    single = connected_components(B.edges_df(spark, KARATE_CLUB_EDGES))
    assert is_connected(single)


def test_pagerank_matches_numpy(spark):
    # fixed iteration count on both sides -> identical iterate sequences;
    # full convergence to 1e-6 is exercised by bench.py (~100 supersteps)
    directed = KARATE_CLUB_EDGES + [(v, u) for u, v in KARATE_CLUB_EDGES]
    oracle = K.pagerank_numpy(directed, damping=0.85, tol=0.0, max_iter=15)
    e = B.edges_df(spark, directed)
    for impl in ("sql", "csr"):
        got = {
            r["v"]: r["pagerank"]
            for r in pagerank(e, tol=0.0, max_iter=15, impl=impl).collect()
        }
        assert set(got) == set(oracle)
        for v in oracle:
            assert abs(got[v] - oracle[v]) <= 1e-9, (impl, v)


def test_pagerank_dangling(spark):
    # chain with a sink: 1->2->3; vertex 3 dangles; fixed 20 iterations
    edges = [(1, 2), (2, 3)]
    oracle = K.pagerank_numpy(edges, tol=0.0, max_iter=20)
    got = {
        r["v"]: r["pagerank"]
        for r in pagerank(B.edges_df(spark, edges), tol=0.0, max_iter=20).collect()
    }
    assert abs(sum(got.values()) - 1.0) <= 1e-9
    for v in oracle:
        assert abs(got[v] - oracle[v]) <= 1e-9


def test_triangles_karate(spark):
    e = B.edges_df(spark, KARATE_CLUB_EDGES)
    adj = K.build_undirected_adj(KARATE_CLUB_EDGES)
    want = K.triangle_counts(adj)
    got = {r["v"]: r["triangles"] for r in triangle_counts(e).collect()}
    assert got == want
    assert abs(transitivity(e) - 0.2556818181818182) <= 1e-12
    coefs = {
        r["v"]: r["coefficient"] for r in clustering_coefficients(e).collect()
    }
    assert coefs[1] == 0.15
    assert coefs[12] is None
    assert coefs[22] == 1.0
    stats = global_stats(e)
    assert stats["vertices"] == 34 and stats["edges"] == 78
    assert abs(stats["avg_clustering"] - K.avg_clustering(adj)) <= 1e-12


def test_coreness_distributed(spark):
    for fixture in (KARATE_CLUB_EDGES, simple_graph_edges(7), simple_graph_edges(3)):
        e = B.edges_df(spark, fixture)
        want = K.coreness_values(K.build_undirected_adj(fixture))
        got = {r["v"]: r["coreness"] for r in coreness(e).collect()}
        assert got == want


def test_k_core_components(spark):
    e = B.edges_df(spark, TWO_KARATE_CLUBS_BRIDGE)
    cc = k_core_components(e, 4)
    sizes = sorted(
        r["size"] for r in component_sizes(cc).collect()
    )
    assert sizes == [10, 10]


def test_k_core_vertices_match_kernel(spark):
    # every k from 0 to one past the top coreness: k <= 1 keeps every
    # vertex, the last k has an empty core; in the 3-path the 2-core peel
    # isolates the middle vertex in round 1 and drops it in round 2
    for fixture in (KARATE_CLUB_EDGES, TWO_KARATE_CLUBS_BRIDGE, [(1, 2), (2, 3)]):
        e = B.edges_df(spark, fixture)
        adj = K.build_undirected_adj(fixture)
        for k in range(max(K.coreness_values(adj).values()) + 2):
            want = {v for comp in K.k_cores(adj, k) for v in comp}
            got = {r["v"] for r in k_core_vertices(e, k).collect()}
            assert got == want, (len(fixture), k)


def test_peels_raise_when_max_rounds_runs_out(spark):
    # the 3-path's 2-core peel needs two rounds (ends, then the middle)
    path = B.edges_df(spark, [(1, 2), (2, 3)])
    with pytest.raises(RuntimeError, match="not converged"):
        k_core_vertices(path, 2, max_rounds=1)
    # the unit-weight shell sweep labels the ends in round 1 and the
    # middle in round 2
    with pytest.raises(RuntimeError, match="not converged"):
        coreness_peel(path, max_rounds=1)
    # K6 plus a tail of three triangles hanging off it: the 4-truss peel
    # drops the tail's support-1 edges in round 1, which leaves (1, 7)
    # and (1, 8) in no triangle for round 2
    k6 = [(a, b) for a in range(1, 7) for b in range(a + 1, 7)]
    g = B.edges_df(spark, k6 + [(1, 7), (2, 7), (7, 8), (1, 8), (3, 8)])
    with pytest.raises(RuntimeError, match="not converged"):
        k_truss_edges(g, 4, max_rounds=1)
    assert {(r["src"], r["dst"]) for r in k_truss_edges(g, 4).collect()} == set(k6)


def test_k_truss_edges(spark):
    g0 = simple_graph_edges(0)
    e = B.edges_df(spark, g0)
    got = {(r["src"], r["dst"]) for r in k_truss_edges(e, 3).collect()}
    trusses, _ = K.k_trusses(K.build_undirected_adj(g0), 3)
    want = {e for t in trusses for e in t}
    assert got == want
    # incremental-support peel vs kernel across k values on karate club
    kc = B.edges_df(spark, KARATE_CLUB_EDGES)
    adjk = K.build_undirected_adj(KARATE_CLUB_EDGES)
    for k in (4, 5):
        got_k = {(r["src"], r["dst"]) for r in k_truss_edges(kc, k).collect()}
        trusses_k, _ = K.k_trusses(adjk, k)
        want_k = {e2 for t in trusses_k for e2 in t}
        assert got_k == want_k, k


def test_bfs_and_dag(spark):
    e = B.edges_df(spark, KARATE_CLUB_EDGES)
    adj = K.build_undirected_adj(KARATE_CLUB_EDGES)
    want_dist, want_parents = K.shortest_paths(adj, 1)
    got = {r["v"]: r["dist"] for r in undirected_bfs_distances(e, 1).collect()}
    assert got == {n: d for n, d in want_dist.items() if d is not None}
    dag = shortest_path_dag(e, 1)
    got_parents = {}
    for r in dag.collect():
        got_parents.setdefault(r["v"], set()).add(r["parent"])
    assert got_parents == want_parents


def test_label_propagation(spark):
    g3 = simple_graph_edges(3)  # two disjoint triangles
    e = B.edges_df(spark, g3)
    got = {r["v"]: r["label"] for r in label_propagation(e).collect()}
    want = K.label_propagation(K.build_undirected_adj(g3))
    assert got == want


def test_distributed_eigenvector_centrality(spark):
    from dachshund_spark.operators.centrality import eigenvector_centrality

    e = B.edges_df(spark, KARATE_CLUB_EDGES)
    got = {r["v"]: r["evcent"] for r in eigenvector_centrality(e).collect()}
    # golden values tests/karate_club.rs:446-458
    assert abs(got[34] - 1.0) <= 0.001
    assert abs(got[1] - 0.95213237) <= 0.001
    assert abs(got[19] - 0.27159396) <= 0.001


def test_distributed_betweenness(spark):
    from dachshund_spark.operators.centrality import betweenness

    e = B.edges_df(spark, KARATE_CLUB_EDGES)
    got = {r["v"]: r["betweenness"] for r in betweenness(e).collect()}
    assert got[8] == 0.0
    assert abs(got[34] - 160.5515873) <= 1e-6
    assert abs(got[33] - 76.6904762) <= 1e-6
    # sampled-sources variant runs and bounds the exact values
    some = {r["v"]: r["betweenness"]
            for r in betweenness(e, sources=[1, 2, 3]).collect()}
    assert all(some[v] <= got[v] + 1e-9 for v in got)


def test_betweenness_edge_budget_and_superstep_fallback(spark):
    from dachshund_spark.operators.centrality import (
        betweenness,
        betweenness_superstep,
    )

    e = B.edges_df(spark, KARATE_CLUB_EDGES)
    # over-budget graphs fail fast with guidance instead of a per-task OOM
    with pytest.raises(RuntimeError, match="edge_budget"):
        betweenness(e, edge_budget=10)
    # the distributed-superstep fallback matches the per-task kernel on
    # the same sources (all of them here, < max_sources): on karate, and
    # on a deep layered graph (eccentricity 7, with same-layer edges)
    # where the forward pass's two-level BFS dedup window skips the
    # older levels
    layers, width = 8, 3
    deep = [
        (l * width + j, (l + 1) * width + (j + k) % width)
        for l in range(layers - 1) for j in range(width) for k in (0, 1)
    ] + [(l * width, l * width + 1) for l in range(0, layers, 2)]
    for graph in (KARATE_CLUB_EDGES, deep):
        g = B.edges_df(spark, graph)
        exact = {r["v"]: r["betweenness"] for r in betweenness(g).collect()}
        got = {
            r["v"]: r["betweenness"]
            for r in betweenness_superstep(g).collect()
        }
        assert set(got) == set(exact)
        assert all(abs(got[v] - exact[v]) <= 1e-9 for v in exact)
    got_s = {
        r["v"]: r["betweenness"]
        for r in betweenness_superstep(e, sources=[1, 2, 3]).collect()
    }
    exact_s = {
        r["v"]: r["betweenness"]
        for r in betweenness(e, sources=[1, 2, 3]).collect()
    }
    assert all(abs(got_s[v] - exact_s[v]) <= 1e-6 for v in exact_s)


def test_betweenness_bigint_fallback_is_bit_equal(spark, monkeypatch):
    """A source whose path counts reach ``_SIGMA_EXACT_BOUND`` is redone
    with the bigint dict kernel over the broadcast CSR.  Forcing the
    bound to 1.0 sends every source there; the output is bit-equal to
    the float64 CSR path."""
    from dachshund_spark.operators import centrality

    e = B.edges_df(spark, KARATE_CLUB_EDGES)
    fast = {r["v"]: r["betweenness"] for r in centrality.betweenness(e).collect()}
    monkeypatch.setattr(centrality, "_SIGMA_EXACT_BOUND", 1.0)
    exact = {r["v"]: r["betweenness"] for r in centrality.betweenness(e).collect()}
    assert exact == fast


def test_betweenness_writes_no_scratch_files(spark, tmp_path):
    """The CSR reaches the tasks by broadcast: ``scratch_dir`` is
    accepted and stays empty."""
    from dachshund_spark.operators.centrality import betweenness

    e = B.edges_df(spark, KARATE_CLUB_EDGES)
    out = betweenness(e, sources=[1, 2, 3], scratch_dir=str(tmp_path))
    assert out.count() == 34
    assert list(tmp_path.iterdir()) == []


def test_distributed_weighted_coreness(spark):
    from dachshund_spark.operators.builders import weighted_canonical
    from dachshund_spark.operators.coreness import weighted_coreness
    from tests.fixtures import weighted_graph_edges

    for idx in (4, 5, 6):
        fixture = weighted_graph_edges(idx)
        e = weighted_canonical(B.edges_df(spark, fixture, weighted=True))
        got = {r["v"]: r["coreness"] for r in weighted_coreness(e).collect()}
        want = K.fractional_coreness(K.build_weighted_adj(fixture))
        assert got == want, idx


def test_coreness_hindex_matches_peel(spark):
    # the h-index fixpoint (scale default) and the level-synchronized
    # peel must agree exactly — both equal the kernel's core numbers
    from dachshund_spark.operators.coreness import coreness_peel

    for fixture in (
        KARATE_CLUB_EDGES,
        simple_graph_edges(7),
        [(0, i) for i in range(1, 7)],  # star: isolated-survivor case
        [(i, i + 1) for i in range(20)],  # path: all-coreness-1
    ):
        e = B.edges_df(spark, fixture)
        want = K.coreness_values(K.build_undirected_adj(fixture))
        got_h = {r["v"]: r["coreness"] for r in coreness(e).collect()}
        got_p = {r["v"]: r["coreness"] for r in coreness_peel(e).collect()}
        assert got_h == want
        assert got_p == want


def test_coreness_star_center_assigned(spark):
    # regression: a vertex isolated by a single peel round (star center)
    # must still receive the shell value
    star = [(0, i) for i in range(1, 7)]
    e = B.edges_df(spark, star)
    got = {r["v"]: r["coreness"] for r in coreness(e).collect()}
    want = K.coreness_values(K.build_undirected_adj(star))
    assert got == want


def test_pagerank_block_execution(spark):
    # block-chained supersteps must produce the same iterates
    directed = KARATE_CLUB_EDGES + [(v, u) for u, v in KARATE_CLUB_EDGES]
    oracle = K.pagerank_numpy(directed, tol=0.0, max_iter=12)
    e = B.edges_df(spark, directed)
    got = {
        r["v"]: r["pagerank"]
        for r in pagerank(e, tol=0.0, max_iter=12, block_size=4).collect()
    }
    for v in oracle:
        assert abs(got[v] - oracle[v]) <= 1e-9

    # dangling graph through the in-plan scalar path
    chain = [(1, 2), (2, 3)]
    oracle2 = K.pagerank_numpy(chain, tol=0.0, max_iter=9)
    got2 = {
        r["v"]: r["pagerank"]
        for r in pagerank(B.edges_df(spark, chain), tol=0.0, max_iter=9,
                          block_size=3, join_strategy="shuffle_hash").collect()
    }
    for v in oracle2:
        assert abs(got2[v] - oracle2[v]) <= 1e-9


@pytest.mark.parametrize("cadence", [1, 2])
def test_pagerank_block_execution_checkpointed(spark, tmp_path, cadence):
    # chained blocks anchored on a durable parquet reread (cadence 1) and
    # on a persisted in-between state (cadence 2)
    from dachshund_spark.plans.superstep import CheckpointManager

    directed = KARATE_CLUB_EDGES + [(v, u) for u, v in KARATE_CLUB_EDGES]
    oracle = K.pagerank_numpy(directed, tol=0.0, max_iter=12)
    cp = CheckpointManager(str(tmp_path), "pr_block")
    got = {
        r["v"]: r["pagerank"]
        for r in pagerank(
            B.edges_df(spark, directed), tol=0.0, max_iter=12, block_size=3,
            checkpointer=cp, checkpoint_every=cadence,
        ).collect()
    }
    assert cp.latest()[0] == 4  # four blocks of three supersteps
    assert set(got) == set(oracle)
    for v in oracle:
        assert abs(got[v] - oracle[v]) <= 1e-9, v


def test_distributed_acyclicity_and_wcc(spark):
    from dachshund_spark.operators.components import (
        is_acyclic as dist_is_acyclic,
        weakly_connected_components,
    )

    e = B.edges_df(spark, KARATE_CLUB_EDGES)
    assert dist_is_acyclic(e)  # directed as-given karate is a DAG
    both = KARATE_CLUB_EDGES + [(v, u) for u, v in KARATE_CLUB_EDGES]
    assert not dist_is_acyclic(B.edges_df(spark, both))
    wcc = weakly_connected_components(B.edges_df(spark, KARATE_CLUB_EDGES))
    assert wcc.select("component").distinct().count() == 1


def test_distributed_scc(spark):
    """FB-min-label distributed SCC must match the Tarjan kernel on
    digraphs of several shapes: disjoint cycles, cycles bridged by paths,
    a DAG (all-singleton), and a seeded random digraph."""
    from dachshund_spark.operators.components import (
        strongly_connected_components as dist_scc,
    )
    import random

    def kernel_labels(edge_list):
        out_adj, _ = K.build_directed_adj(edge_list)
        comps = K.tarjan_scc(out_adj)
        return {n: min(c) for c in comps for n in c}

    shapes = []
    # two disjoint cycles + a path
    shapes.append([(1, 2), (2, 3), (3, 1), (10, 11), (11, 10), (20, 21), (21, 22)])
    # two cycles bridged by a directed path (distinct SCCs, chained mins)
    shapes.append([(5, 6), (6, 7), (7, 5), (7, 30), (30, 1), (1, 2), (2, 1)])
    # a DAG — every vertex its own SCC
    shapes.append([(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)])
    # seeded random digraph
    rng = random.Random(7)
    shapes.append(
        list({(rng.randint(1, 30), rng.randint(1, 30)) for _ in range(80)})
    )
    # 4 and then 7 become trimmable only once the peel settles {1, 2, 3}
    shapes.append([(1, 2), (2, 3), (3, 1), (3, 4), (4, 7), (7, 5), (5, 6), (6, 5)])
    # self-loop-only vertices (9, 12) are singleton SCCs
    shapes.append([(9, 9), (1, 2), (2, 1), (2, 12), (12, 12)])
    # empty edge table
    shapes.append([])

    for edge_list in shapes:
        got = {
            r["v"]: r["component"]
            for r in dist_scc(B.edges_df(spark, edge_list), max_outer=60).collect()
        }
        assert got == kernel_labels(edge_list)


def test_two_phase_cc_matches_hashmin(spark):
    """large-star/small-star must produce identical min-id labels to
    hash-min LP, and converge in O(log n) rounds on a high-diameter path
    (where hash-min would need diameter supersteps)."""
    import random

    from dachshund_spark.operators.components import (
        connected_components,
        connected_components_two_phase,
    )

    rng = random.Random(11)
    shapes = [
        KARATE_CLUB_EDGES,
        [(i, i + 1) for i in range(1, 40)] + [(100, 101), (101, 102)],
        list({(rng.randint(1, 60), rng.randint(1, 60)) for _ in range(70)}),
    ]
    for edge_list in shapes:
        edge_list = [(u, v) for u, v in edge_list if u != v]
        e = B.edges_df(spark, edge_list)
        a = {r["v"]: r["component"] for r in connected_components(e).collect()}
        b = {
            r["v"]: r["component"]
            for r in connected_components_two_phase(e).collect()
        }
        assert a == b

    # 3000-hop path: two-phase must converge in far fewer than
    # diameter rounds (O(log n)); completing under max_rounds=25 proves it
    from pyspark.sql import functions as F

    path = B.path_graph(spark, 3000)
    labels = connected_components_two_phase(path, max_rounds=25)
    assert labels.filter(F.col("component") != 0).count() == 0
    assert labels.count() == 3000


def test_coreness_anomaly_and_averaged_ties(spark):
    from dachshund_spark.operators.coreness import (
        averaged_ties_rank,
        coreness_anomaly,
    )

    e = B.edges_df(spark, KARATE_CLUB_EDGES)
    got = {r["v"]: r["anomaly"] for r in coreness_anomaly(e).collect()}
    adj = K.build_undirected_adj(KARATE_CLUB_EDGES)
    want = K.coreness_anomaly(adj)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9

    scores = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 5), (4, 20)], "v long, s int"
    )
    ranks = {r["v"]: r["rank"] for r in averaged_ties_rank(scores, "s").collect()}
    assert ranks == {4: 1.0, 1: 2.5, 2: 2.5, 3: 4.0}


def test_weighted_coreness_quantized_semantics(spark):
    """The opt-in ``quantize`` grid (the continuous-weight scale path)
    must honor its documented contract: shells land ON the grid as an
    UPPER rounding of the exact s-core values, and a grid that divides
    every weight reproduces the exact sweep bit-for-bit (reference
    goldens: tests/weighted_graph.rs:105-133)."""
    from dachshund_spark.operators.builders import weighted_canonical
    from dachshund_spark.operators.coreness import weighted_coreness
    from tests.fixtures import weighted_graph_edges

    for idx in (4, 5, 6):
        fixture = weighted_graph_edges(idx)
        e = weighted_canonical(B.edges_df(spark, fixture, weighted=True))
        exact = {r["v"]: r["coreness"] for r in weighted_coreness(e).collect()}

        # fine grid dividing every remaining-weight sum: identical output
        fine = {
            r["v"]: r["coreness"]
            for r in weighted_coreness(e, quantize=0.25).collect()
        }
        if all(abs(w / 0.25 - round(w / 0.25)) < 1e-9 for *_e, w in fixture):
            assert fine == exact, idx

        # coarse grid: every shell is a grid multiple and an upper
        # rounding of (i.e. >=) the exact shell; the round bound shrinks
        # to weight-range/q (here: strictly fewer distinct shells)
        q = 2.0
        coarse = {
            r["v"]: r["coreness"]
            for r in weighted_coreness(e, quantize=q).collect()
        }
        assert set(coarse) == set(exact), idx
        for v, s in coarse.items():
            assert abs(s / q - round(s / q)) < 1e-9, (idx, v, s)
            assert s >= exact[v] - 1e-9, (idx, v, s, exact[v])
        assert len(set(coarse.values())) <= len(set(exact.values()))


def test_scc_cut_policies_agree_and_deferred_release(spark):
    """The windowed deferred-release lineage policy (cut_every=3, the
    default) and the cut-every-round policy must produce identical SCC
    labelings."""
    import random

    from dachshund_spark.operators import components as C
    from dachshund_spark.plans.superstep import release

    rng = random.Random(7)
    edge_list = list({(rng.randrange(60), rng.randrange(60)) for _ in range(150)})
    e = B.edges_df(spark, edge_list)

    def labels(cut_every):
        st = C._bidirectional_min_labels(
            e.filter("src != dst").distinct(), C.vertices(e), 100,
            cut_every=cut_every,
        )
        got = {(r["v"], r["f"], r["b"]) for r in st.collect()}
        release(st)
        return got

    assert labels(3) == labels(1)


def test_csr_brandes_exact_parity_with_kernel():
    """The operator-side CSR Brandes fast path (operators.centrality)
    must be FLOAT-EXACT against the pure-Python kernel oracle on random
    graphs: same visit order, same accumulation order, bit-equal
    dependencies (the gate hashes would catch any ulp drift only at the
    rounding boundary — this pins it everywhere)."""
    import random

    import numpy as np

    from dachshund_spark.operators.centrality import (
        _brandes_csr,
        _csr_from_canonical,
    )

    rng = random.Random(11)
    for _ in range(4):
        n_v = rng.randint(20, 150)
        edges = set()
        for _ in range(rng.randint(30, 500)):
            u, v = rng.randrange(n_v), rng.randrange(n_v)
            if u != v:
                edges.add((min(u, v), max(u, v)))
        edges = sorted(edges)
        src = np.array([e[0] for e in edges], dtype=np.int64)
        dst = np.array([e[1] for e in edges], dtype=np.int64)
        adj = K.build_undirected_adj(edges)
        ids, indptr, nbrs = _csr_from_canonical(src, dst)
        idx = {int(x): i for i, x in enumerate(ids)}
        for s in sorted(adj)[:15]:
            ref = K.brandes_single_source(adj, s)
            out = np.zeros(len(ids))
            _brandes_csr(indptr, nbrs.astype(np.int32), len(ids), idx[s], out)
            for nid, dep in ref.items():
                assert out[idx[nid]] == dep  # exact, not approx
            # nonzero support matches too (operator ships only nonzeros)
            assert {int(ids[i]) for i in np.nonzero(out)[0]} == {
                k for k, val in ref.items() if val != 0.0
            }
