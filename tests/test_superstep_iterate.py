"""``plans.superstep.iterate`` on a toy countdown: every round maps
x -> max(x - 1, 0) over ``spark.range(n)``, so round r changes the n - r
rows with x >= r and the loop converges on round n.  Choosing n against
the cadence places convergence on a seal round or mid-window."""

import pytest
from pyspark.sql import functions as F

from dachshund_spark.plans.superstep import CheckpointManager, iterate, release


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

        def measure(held):
            calls.append(i)
            agg = held.agg(
                F.sum(F.col("chg").cast("long")).alias("c"),
                F.count("*").alias("rows"),
            ).collect()[0]
            return agg["c"], agg["rows"]

        return new_state, measure

    cp = CheckpointManager(str(tmp_path), "countdown") if durable else None
    state0 = spark.range(n).selectExpr("id as v", "id as x", "true as chg")
    result = iterate(
        state0, step, max_iter=max_iter, checkpoint_every=cadence,
        checkpointer=cp,
    )

    want, rounds, converged = _python_countdown(n, max_iter)
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
