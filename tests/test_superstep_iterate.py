"""``plans.superstep.iterate`` on a toy countdown: every round maps
x -> max(x - 1, 0) over ``spark.range(n)``, so round r changes the n - r
rows with x >= r and the loop converges on round n.  Choosing n against
the cadence places convergence on a seal round or mid-window.  Also: the
operators built on cut states leave no persisted RDD behind."""

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dachshund_spark.operators.bowtie import bowtie_decomposition
from dachshund_spark.operators.builders import edges_df, weighted_canonical
from dachshund_spark.operators.centrality import (
    betweenness,
    betweenness_superstep,
    harmonic_centrality,
)
from dachshund_spark.operators.components import (
    connected_components,
    is_acyclic,
    strongly_connected_components,
)
from dachshund_spark.operators.coreness import (
    coreness,
    coreness_peel,
    k_core_vertices,
    k_truss_edges,
    trussness,
    weighted_coreness,
)
from dachshund_spark.operators.dag import topological_levels
from dachshund_spark.operators.louvain import louvain_moves
from dachshund_spark.operators.pagerank import pagerank
from dachshund_spark.operators.paths import (
    double_sweep_diameter,
    undirected_bfs_distances,
)
from dachshund_spark.operators.triangles import (
    clustering_coefficients,
    global_stats,
    triangle_counts,
)
from dachshund_spark.plans.superstep import (
    CheckpointManager,
    SuperstepMetrics,
    iterate,
    release,
)
from tests.fixtures import KARATE_CLUB_EDGES, weighted_graph_edges


def _python_countdown(n, max_iter):
    xs = list(range(n))
    rounds = 0
    while rounds < max_iter:
        new = [max(x - 1, 0) for x in xs]
        changed = sum(a != b for a, b in zip(new, xs))
        xs, rounds = new, rounds + 1
        if changed == 0:
            return dict(enumerate(xs)), rounds, True
    return dict(enumerate(xs)), rounds, False


@pytest.mark.parametrize(
    "n, cadence, durable, max_iter",
    [
        (4, 1, False, 100),  # every round seals
        (6, 3, False, 100),  # converges on a seal round
        (5, 3, False, 100),  # converges mid-window
        (8, 3, False, 4),  # stops at max_iter mid-window
        (6, 3, True, 100),  # durable, converges on a seal round
        (5, 3, True, 100),  # durable, converges mid-window
        (8, 1, True, 2),  # durable, stops at max_iter
    ],
)
def test_iterate_matches_python_loop_and_releases(
    spark, tmp_path, n, cadence, durable, max_iter
):
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet())
    calls = []

    def step(state, i):
        new_state = state.select(
            "v",
            F.greatest(F.col("x") - 1, F.lit(0)).alias("x"),
            (F.col("x") > 0).alias("chg"),
        )

        def measure(row):
            calls.append(i)
            return row["c"], row["rows"]

        aggs = [
            F.sum(F.col("chg").cast("long")).alias("c"),
            F.count("*").alias("rows"),
        ]
        return new_state, aggs, measure

    cp = CheckpointManager(str(tmp_path), "countdown") if durable else None
    state0 = spark.range(n).selectExpr("id as v", "id as x", "true as chg")
    group = f"countdown-{n}-{cadence}-{durable}-{max_iter}"
    sc.setJobGroup(group, group)
    try:
        result = iterate(
            state0, step, max_iter=max_iter, checkpoint_every=cadence,
            checkpointer=cp,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))

    want, rounds, converged = _python_countdown(n, max_iter)
    if cadence == 1:
        # one action a round: the lazy cut's aggregate (its partial and
        # final stages), or the observed checkpoint write
        assert jobs <= 2 * rounds, (jobs, rounds)
    got = {r["v"]: r["x"] for r in result.state.collect()}
    assert got == want
    assert (result.iterations, result.converged) == (rounds, converged)
    assert calls == list(range(rounds))  # one measure per round
    assert [m.rows for m in result.metrics] == [n] * rounds
    if durable:
        # saved every `cadence` rounds, and on the final round
        assert cp.latest()[0] == rounds
    release(result.state)
    assert set(sc._jsc.getPersistentRDDs().keySet()) <= before


def test_torn_commit_is_not_resumed(spark, tmp_path):
    """A step whose data landed but whose commit record did not (a kill
    between ``save`` and ``commit``) is invisible to ``latest`` and
    ``load_latest``: resume picks the previous committed step."""
    cp = CheckpointManager(str(tmp_path), "torn")
    df = spark.range(5).selectExpr("id as v", "id * 10 as x")
    cp.save(df, SuperstepMetrics(
        superstep=2, rows=5, delta=1.0, seconds=0.1, partitions=1))
    cp.save(df.selectExpr("v", "x + 1 as x"), SuperstepMetrics(superstep=3))
    assert cp.latest()[0] == 2
    k, state = cp.load_latest(spark)
    assert k == 2
    assert sorted(r["x"] for r in state.collect()) == [0, 10, 20, 30, 40]

    # the commit makes step 3 the resume point
    cp.commit(SuperstepMetrics(
        superstep=3, rows=5, delta=0.0, seconds=0.1, partitions=1))
    assert cp.latest()[0] == 3
    # rewriting a committed step withdraws its old record until the new
    # one is committed
    cp.save(df, SuperstepMetrics(superstep=3))
    assert cp.latest()[0] == 2


# a trim layer on each side of two cycles, so the SCC runs both phases
_SCC_EDGES = [(0, 1), (1, 2), (2, 1), (2, 3), (3, 4), (4, 5), (5, 3), (5, 6)]


def _cc_not_converged(e):
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(e, max_iter=1)


def _bfs_not_exhausted(op):
    def run(e):
        with pytest.raises(RuntimeError, match="did not exhaust"):
            op(e, max_depth=1)

    return run


def _weighted_coreness_fixture5(e):
    # the harness hands over an unweighted frame; this case needs weights
    fixture = edges_df(e.sparkSession, weighted_graph_edges(5), weighted=True)
    return weighted_coreness(weighted_canonical(fixture))


@pytest.mark.parametrize(
    "op, edges",
    [
        (topological_levels, KARATE_CLUB_EDGES),
        (is_acyclic, KARATE_CLUB_EDGES),
        (strongly_connected_components, _SCC_EDGES),
        (double_sweep_diameter, KARATE_CLUB_EDGES),
        (betweenness, KARATE_CLUB_EDGES),
        (global_stats, KARATE_CLUB_EDGES),
        (coreness, KARATE_CLUB_EDGES),
        (lambda e: k_core_vertices(e, 3), KARATE_CLUB_EDGES),
        (connected_components, KARATE_CLUB_EDGES),
        (_cc_not_converged, KARATE_CLUB_EDGES),
        (lambda e: pagerank(e, max_iter=5), KARATE_CLUB_EDGES),
        (_weighted_coreness_fixture5, []),
        (coreness_peel, KARATE_CLUB_EDGES),
        (lambda e: k_truss_edges(e, 4), KARATE_CLUB_EDGES),
        (triangle_counts, KARATE_CLUB_EDGES),
        (clustering_coefficients, KARATE_CLUB_EDGES),
        (lambda e: undirected_bfs_distances(e, 1), KARATE_CLUB_EDGES),
        (harmonic_centrality, KARATE_CLUB_EDGES),
        (lambda e: betweenness_superstep(e, max_sources=8), KARATE_CLUB_EDGES),
        (_bfs_not_exhausted(harmonic_centrality), KARATE_CLUB_EDGES),
        (_bfs_not_exhausted(betweenness_superstep), KARATE_CLUB_EDGES),
        (bowtie_decomposition, _SCC_EDGES),
        (lambda e: louvain_moves(e, max_rounds=2), KARATE_CLUB_EDGES),
        (trussness, KARATE_CLUB_EDGES),
    ],
    ids=[
        "topological_levels",
        "is_acyclic",
        "strongly_connected_components",
        "double_sweep_diameter",
        "betweenness",
        "global_stats",
        "coreness",
        "k_core_vertices",
        "connected_components",
        "connected_components_not_converged",
        "pagerank",
        "weighted_coreness",
        "coreness_peel",
        "k_truss_edges",
        "triangle_counts",
        "clustering_coefficients",
        "undirected_bfs_distances",
        "harmonic_centrality",
        "betweenness_superstep",
        "harmonic_centrality_not_exhausted",
        "betweenness_superstep_not_exhausted",
        "bowtie_decomposition",
        "louvain_moves",
        "trussness",
    ],
)
def test_operators_leave_only_their_output_cut(spark, op, edges):
    """An operator built on cut/persist states leaves nothing persisted
    behind but the cut its returned frame reads, and ``release`` of that
    frame frees it.  An operator that returns no frame (a dict, a bool,
    or a raise) leaves nothing at all."""
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet())
    out = op(edges_df(spark, edges))
    own = set()
    if isinstance(out, DataFrame):
        out.collect()
        if getattr(out, "_cut_rdd", None) is not None:
            own = {out._cut_rdd.id()}
    left = set(sc._jsc.getPersistentRDDs().keySet()) - before
    assert left <= own, left
    if isinstance(out, DataFrame):
        release(out)
    assert set(sc._jsc.getPersistentRDDs().keySet()) <= before
