"""Community detection via synchronous label propagation (north_rule
"community label propagation").

The reference's community op is CNM greedy modularity
(cnm_communities.rs) — an inherently sequential heap algorithm we port
per-graph in ``operators.pergraph``.  At web scale the standard
distributed substitute is most-frequent-neighbor label propagation with a
deterministic tie-break (max count, then min label — fully order-free, so
results are reproducible across cluster sizes).  Oracle:
``kernels.label_propagation``.

Skew note: the per-(vertex, label) count is a two-key aggregation, which
already spreads a hub's edges over (label) subkeys; the final per-vertex
argmax uses ``max_by`` on the (count, -label) pair — an algebraic
aggregate with map-side partial support, no windowing shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.superstep import CheckpointManager, iterate
from .builders import symmetrized, vertices


def label_propagation(
    edges: DataFrame,
    max_iter: int = 10,
    checkpointer: CheckpointManager | None = None,
    include_metrics: bool = False,
):
    """Returns DataFrame[v: long, label: long]."""
    adj = symmetrized(edges).repartition("src").persist()
    adj.count()
    state0 = vertices(edges).select(
        "v", F.col("v").alias("label"), F.lit(False).alias("_chg")
    )

    # NOTE: the state here is persist()ed (real size stats), so the
    # planner already picks the join strategy correctly — a forced hint
    # was A/B'd to a tie and removed (cf. superstep_state_side, which is
    # for stats-free cut-leaf states only).
    def step(state: DataFrame, i: int):
        msgs = adj.join(state, adj.src == state.v).select(
            F.col("dst").alias("v"), "label"
        )
        counts = msgs.groupBy("v", "label").agg(F.count("*").alias("cnt"))
        # deterministic argmax: max count, then min label
        new_labels = counts.groupBy("v").agg(
            F.max_by(
                "label", F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))
            ).alias("label")
        )
        prev = state.select("v", F.col("label").alias("old_label"))
        new_state = prev.join(new_labels, "v", "left").select(
            "v", F.coalesce(F.col("label"), F.col("old_label")).alias("label"),
            (F.coalesce(F.col("label"), F.col("old_label")) != F.col("old_label")).alias("_chg"),
        )

        return new_state, aggs, measure

    # (changed, rows) in the round's one aggregate; _chg stays in the
    # state so the aggregate reads the frame the loop holds
    aggs = [
        F.sum(F.col("_chg").cast("long")).alias("changed"),
        F.count("*").alias("rows"),
    ]

    def measure(row):
        return float(row["changed"]), int(row["rows"])

    result = iterate(
        state0, step, max_iter=max_iter, tol=0.0, checkpointer=checkpointer
    )
    out = result.state.select("v", "label")
    adj.unpersist()
    if include_metrics:
        return out, result
    return out
