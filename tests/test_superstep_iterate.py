"""``plans.superstep.iterate`` on a toy countdown: every round maps
x -> max(x - 1, 0) over ``spark.range(n)``, so round r changes the n - r
rows with x >= r and the loop converges on round n.  Choosing n against
the cadence places convergence on a seal round or mid-window."""

import pytest
from pyspark.sql import functions as F

from dachshund_spark.plans.superstep import (
    CheckpointManager,
    SuperstepMetrics,
    iterate,
    release,
)


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
