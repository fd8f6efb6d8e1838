"""DAG scheduling primitives: Kahn topological layering, and the one
decremental Kahn peel that layering and the SCC trim share.

The reference proves acyclicity via Kahn's algorithm run to exhaustion
(simple_directed_graph.rs:25-43 — repeatedly delete in-degree-0
vertices); this operator keeps what that loop throws away: the ROUND at
which each vertex is deleted is its topological level (= longest path
from any source to it), the canonical parallel schedule of a dependency
DAG (crawl-frontier waves, derivation layers in a lineage graph).  All
vertices of one level are mutually unordered, so level numbering is a
deterministic function of the graph — no tie-breaking needed.

Spark design: ``_kahn_peel`` runs on ``plans.superstep.iterate`` at
cadence 1.  Its state is one (v, ind, outd, level) frame; a round
settles every unsettled vertex whose in-degree (or, for the SCC trim,
in- OR out-degree) is zero, stamps it with the round number, and
subtracts its edges from its neighbours' degrees through one semi-join
of the settled rows against the cached, direction-tagged edges.  Degrees
are never recounted, so a round touches the settled vertices' edges and
the vertex frame, not the whole surviving edge table (the
delta-not-recompute rule the k-core and k-truss peels follow).  The
round's one aggregate counts the vertices the next round settles and
those still unsettled, so convergence costs no extra ``count()``.
Rounds = DAG depth — the same budget the reference's own acyclicity
check pays, but returning the schedule instead of a boolean.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.superstep import iterate, project, release
from .builders import vertices


def _kahn_peel(
    edges: DataFrame, verts: DataFrame, both: bool, max_rounds: int = 100000
) -> tuple[DataFrame, int, bool]:
    """Peel ``verts`` over the directed ``edges`` (src, dst): round i
    settles every unsettled vertex with ``ind == 0`` (``both``: or
    ``outd == 0``) at ``level = i``.  Returns ``(state, n_left,
    converged)``: the sealed (v, ind, outd, level) frame (the caller
    releases it), the number of vertices never settled, and whether the
    peel stopped at its fixpoint within ``max_rounds``.

    Every endpoint of ``edges`` must be in ``verts``.  Duplicate edges
    count with their multiplicity on both the initial degree and its
    decrement, so they never change the schedule."""
    # (a, b, fwd): a settled `a` costs `b` one in-degree per forward row
    # and one out-degree per reversed row; out-degrees are tracked only
    # when both ends peel
    adj = edges.selectExpr("src as a", "dst as b", "true as fwd")
    if both:
        adj = adj.union(edges.selectExpr("dst as a", "src as b", "false as fwd"))
    adj = adj.repartition("a").persist()

    def lost(rows: DataFrame) -> DataFrame:
        return rows.groupBy(F.col("b").alias("v")).agg(
            F.sum(F.col("fwd").cast("long")).alias("din"),
            F.sum((~F.col("fwd")).cast("long")).alias("dout"),
        )

    state0 = verts.join(lost(adj), "v", "left").select(
        "v",
        F.coalesce("din", F.lit(0)).alias("ind"),
        F.coalesce("dout", F.lit(0)).alias("outd"),
        F.lit(None).cast("int").alias("level"),
    )
    ready = F.col("level").isNull() & (
        (F.col("ind") == 0) | (F.col("outd") == 0) if both else F.col("ind") == 0
    )

    def step(state: DataFrame, i: int):
        settled = state.filter(ready).select(F.col("v").alias("a"))
        new_state = state.join(
            lost(adj.join(settled, "a", "left_semi")), "v", "left"
        ).select(
            "v",
            (F.col("ind") - F.coalesce("din", F.lit(0))).alias("ind"),
            (F.col("outd") - F.coalesce("dout", F.lit(0))).alias("outd"),
            F.when(ready, F.lit(i)).otherwise(F.col("level")).alias("level"),
        )
        return new_state, aggs, measure

    aggs = [
        F.sum(ready.cast("long")).alias("ready"),
        F.sum(F.col("level").isNull().cast("long")).alias("left"),
    ]
    left = [0]

    def measure(row):
        left[0] = int(row["left"] or 0)
        return int(row["ready"] or 0), left[0]

    result = iterate(state0, step, max_iter=max_rounds, checkpoint_every=1)
    adj.unpersist()
    return result.state, left[0], result.converged


def topological_levels(edges: DataFrame, max_rounds: int = 100000) -> DataFrame:
    """Directed DAG edges (src, dst) -> DataFrame[v, level] where level
    is the longest-path distance from the DAG's sources (level 0 =
    in-degree-0 vertices of the input).

    Raises ValueError if the graph has a cycle (some vertices never
    reach in-degree 0) — the constructive form of the reference's
    is_acyclic=False verdict — and RuntimeError if the DAG is deeper
    than ``max_rounds``."""
    e = edges.select("src", "dst")
    state, n_left, converged = _kahn_peel(
        e, vertices(e), both=False, max_rounds=max_rounds
    )
    if not converged:
        release(state)
        raise RuntimeError(
            f"topological_levels: depth exceeds max_rounds={max_rounds}"
        )
    if n_left:
        release(state)
        raise ValueError(
            f"topological_levels: cycle detected — {n_left} vertices "
            "never reach in-degree 0 (cf. is_acyclic, "
            "simple_directed_graph.rs:25-43)"
        )
    return project(state, "v", "level")
