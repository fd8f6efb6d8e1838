"""Weighted single-source shortest paths as frontier Bellman-Ford
supersteps (the Pregel-standard SSSP).

Extends the reference's unit-weight Dijkstra semantics
(shortest_paths.rs:19-77) to the weighted graphs its weighted builder
produces (weighted_undirected_graph_builder.rs:21-73): distance = the
minimum total edge weight from the source; ``hops`` = the edge count of
the minimum-hop path among the minimum-weight paths (the round at which
the label-correcting fixpoint last improved the vertex — deterministic
because relaxation is round-synchronous).

Scale shape: each round is one shuffle-join of the adjacency against
the previous round's improved frontier plus a min-combine per
destination — the message volume decays with the frontier, exactly like
the BFS/CC supersteps.  Spark's map-side partial ``min`` combines
messages before the exchange, so hub destinations never concentrate raw
messages on one reducer.  For graphs with very long weighted diameters
a delta-stepping bucketing would cap round counts; the round count here
is bounded by the hop length of the longest minimum-hop shortest path,
which on web/social topologies is the same small number that bounds the
BFS depth.

Requires non-negative weights (termination of label-correcting
relaxation); raises after ``max_rounds`` otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.superstep import iterate, release


def weighted_sssp(
    edges: DataFrame, source: int, max_rounds: int = 10000
) -> DataFrame:
    """DataFrame[v, dist, hops] for vertices reachable from ``source``
    over directed weighted edges (src, dst, weight); symmetrize upstream
    for undirected semantics.

    Runs on ``plans.superstep.iterate`` at cadence 3: each round reads
    the previous state twice (frontier filter + full-outer fold), so the
    uncut plan doubles per round; every third round is a lineage cut,
    the frontier is always re-derived as ``hops == round`` from the held
    state, and ``iterate`` owns the deferred release of the persisted
    rounds in between.  Raises ``RuntimeError`` if ``max_rounds`` pass
    and a distance still improves.
    """
    spark = edges.sparkSession
    adj = edges.select("src", "dst", "weight").repartition("src").persist()
    adj.count()

    def step(dist: DataFrame, i: int):
        rnd = i + 1
        frontier = dist.filter(F.col("hops") == rnd - 1)
        best = (
            adj.join(frontier, adj.src == frontier.v)
            .select(
                F.col("dst").alias("v"),
                (F.col("dist") + F.col("weight")).alias("cand"),
            )
            .groupBy("v")
            .agg(F.min("cand").alias("cand"))
        )
        prev = dist.select(
            "v", F.col("dist").alias("old_dist"), F.col("hops").alias("old_hops")
        )
        improved = (F.col("old_dist").isNull()) | (
            F.col("cand") < F.col("old_dist")
        )
        new_dist = (
            prev.join(best, "v", "full_outer")
            .select(
                "v",
                F.when(improved, F.col("cand"))
                .otherwise(F.col("old_dist"))
                .alias("dist"),
                F.when(improved, F.lit(rnd))
                .otherwise(F.col("old_hops"))
                .alias("hops"),
            )
        )
        aggs = [
            F.sum((F.col("hops") == rnd).cast("long")).alias("n"),
            F.count("*").alias("rows"),
        ]
        return new_dist, aggs, measure

    def measure(row):
        return int(row["n"] or 0), row["rows"]

    dist0 = spark.createDataFrame(
        [(int(source), 0.0, 0)], "v long, dist double, hops int"
    )
    result = iterate(dist0, step, max_iter=max_rounds, checkpoint_every=3)
    adj.unpersist()
    if not result.converged:
        release(result.state)
        raise RuntimeError(
            f"weighted_sssp did not converge in {max_rounds} rounds "
            "(negative edge weights, or raise max_rounds)"
        )
    # the termination round improved nothing, so every hops value is the
    # round its dist was finalized; the source keeps hops = 0
    return result.state
