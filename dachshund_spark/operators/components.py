"""Connected components via hash-min label propagation (north_rule op).

Semantics match the reference's BFS flood fill
(connected_components.rs:26-98) up to component naming: the reference
assigns dense indices in discovery order; we assign each component its
minimum vertex id — a canonical, order-free label that is stable across
any execution order (SURVEY.md §2.4).  ``to_discovery_order`` remaps to
the reference's numbering for parity checks.

Scale design:
* frontier-based: after the first superstep only vertices whose label
  changed propagate, so per-iteration work decays geometrically on
  typical web graphs,
* the adjacency is symmetrized once, repartitioned on ``src`` and
  persisted — every superstep joins the (small, shrinking) frontier
  against the same co-partitioned edge table,
* iteration count is bounded by the graph diameter (hash-min propagates
  the min id one hop per superstep); lineage is cut by the superstep
  runtime every few iterations.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.superstep import (
    CheckpointManager,
    cut_lineage,
    iterate,
    project,
    release,
    superstep_state_side,
)
from .builders import symmetrized, vertices
from .dag import _kahn_peel


def connected_components(
    edges: DataFrame,
    max_iter: int = 100,
    checkpointer: CheckpointManager | None = None,
    include_metrics: bool = False,
):
    """Returns DataFrame[v: long, component: long] where component is the
    min vertex id of the component (isolated vertices in the edge table do
    not occur — every vertex has at least one edge by construction)."""
    spark = edges.sparkSession
    adj = symmetrized(edges).repartition("src").persist()
    adj.count()

    start_iteration = 0
    state0 = None
    if checkpointer is not None:
        found = checkpointer.load_latest(spark)
        if found is not None:
            start_iteration, state0 = found
    if state0 is None:
        labels = vertices(edges).select("v", F.col("v").alias("component"))
        # frontier flag: everything active initially
        state0 = labels.withColumn("active", F.lit(True))

    # NOTE: unlike the cut-leaf-state supersteps (coreness/HITS/ANF/...),
    # this state is persist()ed, so the planner sees REAL size stats for
    # the frontier filter and already broadcasts/shuffles it correctly on
    # its own — a forced strategy hint was A/B'd (1x and 3x fixtures) to
    # a tie/slight loss and removed.
    def step(state: DataFrame, i: int):
        frontier = state.filter("active").select("v", "component")
        msgs = (
            adj.join(frontier, adj.src == frontier.v)
            .select(F.col("dst").alias("v"), "component")
        )
        best = msgs.groupBy("v").agg(F.min("component").alias("cand"))
        new_state = (
            state.join(best, "v", "left")
            .select(
                "v",
                F.least(
                    F.col("component"), F.coalesce(F.col("cand"), F.col("component"))
                ).alias("component"),
                (
                    F.coalesce(F.col("cand"), F.col("component"))
                    < F.col("component")
                ).alias("active"),
            )
        )

        return new_state, aggs, measure

    aggs = [
        F.sum(F.col("active").cast("long")).alias("changed"),
        F.count("*").alias("rows"),
    ]

    def measure(row):
        return float(row["changed"] or 0), int(row["rows"])

    result = iterate(
        state0,
        step,
        max_iter=max_iter,
        tol=0.0,
        checkpointer=checkpointer,
        start_iteration=start_iteration,
    )
    adj.unpersist()
    if not result.converged:
        release(result.state)
        # silent truncation would return labels that are NOT constant per
        # component — callers could not tell a wrong answer from a right
        # one.  High-diameter graphs should raise max_iter or use
        # connected_components_two_phase (O(log n) rounds).
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"supersteps (last delta {result.metrics[-1].delta if result.metrics else '?'}); "
            "raise max_iter or use connected_components_two_phase"
        )
    out = project(result.state, "v", "component")
    if include_metrics:
        return out, result
    return out


def to_discovery_order(components: DataFrame) -> DataFrame:
    """Remap min-id component labels to dense indices ordered by the
    component's minimum vertex id — the reference's discovery order (its
    BFS pops the smallest remaining id first, connected_components.rs:33-41).

    Scalable dense rank: the label set can be O(n) (all-singleton graphs),
    so a global unpartitioned ``row_number`` window would funnel every
    label through one reducer.  Instead: range-repartition the distinct
    labels, rank WITHIN each (sorted, disjoint) range partition, and add
    per-partition offsets computed from the (#partitions-sized) partition
    counts — the classic two-pass distributed dense rank."""
    spark = components.sparkSession
    n_part = max(spark.sparkContext.defaultParallelism, 8)
    distinct = components.select("component").distinct()
    # pin the (sampled, otherwise rerun-unstable) range partitioning so the
    # count pass and the rank pass see identical partition ids
    parted = cut_lineage(
        distinct.repartitionByRange(n_part, "component").withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    counts = {
        r["_pid"]: r["c"]
        for r in parted.groupBy("_pid").agg(F.count("*").alias("c")).collect()
    }
    offsets, acc = [], 0
    for pid in range(n_part):
        offsets.append((pid, acc))
        acc += counts.get(pid, 0)
    off_df = spark.createDataFrame(offsets, "_pid int, _off long")
    ranked = (
        parted.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("_pid").orderBy("component")
            ),
        )
        .join(F.broadcast(off_df), "_pid")
        .select(
            "component", (F.col("rn") - 1 + F.col("_off")).alias("component_idx")
        )
    )
    return components.join(ranked, "component").select(
        "v", "component", "component_idx"
    )


def component_sizes(components: DataFrame) -> DataFrame:
    return components.groupBy("component").agg(F.count("*").alias("size"))


def is_connected(components: DataFrame) -> bool:
    """countDistinct(component) == 1; empty graph raises like the reference
    (connectivity.rs:48-63)."""
    n = components.select("component").distinct().limit(2).count()
    if n == 0:
        raise ValueError("Graph is empty")
    return n == 1


def weakly_connected_components(edges: DataFrame, **kwargs) -> DataFrame:
    """Directed edges treated as undirected (connected_components already
    symmetrizes; cf. connected_components.rs:103-105)."""
    return connected_components(edges, **kwargs)


def _star_phase(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star / small-star rewrite (Kiveris et al., 'Connected
    Components in MapReduce and Beyond', two-phase algorithm).

    For each node u with neighborhood Γ(u) and m = min({u} ∪ Γ(u)):
    large-star links every strictly-larger neighbor v > u to m;
    small-star links every v <= u (and u itself) to m."""
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least("src", "mn").alias("m"))
    )
    j = sym.join(m, "src")
    if large:
        out = j.filter(F.col("dst") > F.col("src")).select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        )
    else:
        out = j.filter(F.col("dst") <= F.col("src")).select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        ).union(m.select("src", F.col("m").alias("dst")))
    return out.filter(F.col("src") != F.col("dst")).distinct()


def connected_components_two_phase(
    edges: DataFrame, max_rounds: int = 60
) -> DataFrame:
    """Connected components via alternating large-star/small-star — the
    O(log n)-round alternative to hash-min label propagation for graphs
    whose DIAMETER is large (hash-min needs diameter supersteps; a 10k-hop
    path needs 10k of them, but only ~log rounds here).  Same output
    contract as ``connected_components``: DataFrame[v, component], with
    component = min vertex id.

    Use this when the component structure is path/tree-shaped or unknown;
    hash-min with its decaying frontier wins on low-diameter web graphs."""
    verts = cut_lineage(vertices(edges))
    cur = cut_lineage(
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    prev_sig = None
    for _ in range(max_rounds):
        cur = _star_phase(cur, large=True)
        # inner-join loop -> stats-resetting cut required (cut_lineage doc)
        cur = cut_lineage(_star_phase(cur, large=False))
        # checksum folded into [0, 2^31) before the sum so ANSI long
        # arithmetic cannot overflow (n * 2^31 << 2^63)
        agg = cur.agg(
            F.count("*").alias("n"),
            F.sum(F.pmod(F.xxhash64("src", "dst"), F.lit(1 << 31))).alias("h"),
        ).collect()[0]
        sig = (agg["n"], agg["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError("two-phase CC did not converge")
    # at the fixpoint every edge is (v, component-min); roots carry no edge
    star = cur.select(F.col("src").alias("v"), F.col("dst").alias("component"))
    return verts.join(star, "v", "left").select(
        "v", F.coalesce("component", F.col("v")).alias("component")
    )


def _bidirectional_min_labels(
    edges: DataFrame, verts: DataFrame, max_iter: int, cut_every: int = 3,
    n_verts: int | None = None,
) -> DataFrame:
    """Forward AND backward hash-min label propagation fused into one
    superstep loop: state carries (v, f, b) where f(v) = min id that
    reaches v along edges and b(v) = min id v reaches (propagation along
    reversed edges).  One direction-tagged adjacency, ONE join + ONE
    aggregate + ONE driver action per superstep serves both directions,
    so the superstep count is max(f-depth, b-depth) instead of their sum
    — half the driver rounds of two sequential propagations.

    Raises if ``max_iter`` supersteps pass and labels still change (a
    truncated label set would let strongly_connected_components silently
    split a large-diameter SCC).

    Delta propagation: a vertex's f (resp. b) can only improve when an
    in-neighbor's f (resp. out-neighbor's b) improved LAST round, so the
    state carries per-direction change flags and only changed vertices
    emit messages in their changed direction — per-superstep shuffle
    volume decays with the cascade instead of re-sending every label
    every round (the frontier discipline ``connected_components`` and
    ``coreness`` already apply)."""
    fwd = edges.select("src", "dst", F.lit(True).alias("isf"))
    bwd = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"),
        F.lit(False).alias("isf"),
    )
    adj = fwd.union(bwd).repartition("src").persist()
    adj.count()
    state0 = verts.select(
        "v",
        F.col("v").alias("f"),
        F.col("v").alias("b"),
        F.lit(True).alias("cf"),
        F.lit(True).alias("cb"),
    )

    def step(state: DataFrame, i: int):
        # deliberate state-side strategy: on cut rounds the stats-free
        # leaf would otherwise make the planner broadcast the cached
        # adjacency (serial 2|E|-row build per round)
        msgs = (
            adj.join(superstep_state_side(state, n_verts), adj.src == state.v)
            .filter(
                (F.col("isf") & F.col("cf")) | (~F.col("isf") & F.col("cb"))
            )
            .select(
                F.col("dst").alias("v"),
                "isf",
                F.when(F.col("isf"), F.col("f"))
                .otherwise(F.col("b"))
                .alias("lbl"),
            )
        )
        best = msgs.groupBy("v").agg(
            F.min(F.when(F.col("isf"), F.col("lbl"))).alias("fc"),
            F.min(F.when(~F.col("isf"), F.col("lbl"))).alias("bc"),
        )
        new_state = state.join(best, "v", "left").select(
            "v",
            F.least(F.col("f"), F.coalesce("fc", F.col("f"))).alias("f"),
            F.least(F.col("b"), F.coalesce("bc", F.col("b"))).alias("b"),
            (F.coalesce("fc", F.col("f")) < F.col("f")).alias("cf"),
            (F.coalesce("bc", F.col("b")) < F.col("b")).alias("cb"),
        )

        return new_state, aggs, measure

    aggs = [
        F.sum((F.col("cf") | F.col("cb")).cast("long")).alias("c"),
        F.count("*").alias("rows"),
    ]

    def measure(row):
        return row["c"] or 0, row["rows"]

    # the windowed default amortizes the localCheckpoint partition copy
    # over `cut_every` rounds (the A/B that set it is in BENCH/PLANS.md
    # round 6); cut_every=1 cuts every round
    result = iterate(state0, step, max_iter=max_iter, checkpoint_every=cut_every)
    adj.unpersist()
    if not result.converged:
        release(result.state)
        raise RuntimeError(
            f"bidirectional min-label propagation did not reach fixpoint "
            f"in {max_iter} supersteps; raise max_iter"
        )
    # sealed by iterate: the caller derives its result from this state,
    # then must release() it
    return result.state


def strongly_connected_components(
    edges: DataFrame, max_outer: int = 50, max_iter: int = 100
) -> DataFrame:
    """Distributed SCC for the single-giant-digraph path — the scale
    counterpart of the per-graph Tarjan kernel
    (kernels.strongly_connected_components; reference:
    connected_components.rs:106-155).

    Forward/backward min-label peeling (Orzan-style coloring) with
    TRIMMING (the FW-BW-Trim refinement, McLendon et al., "Finding
    strongly connected components in distributed graphs", JPDC 2005):
    before every peel round, vertices whose in- OR out-degree is zero in
    the current subgraph are settled as singleton SCCs, repeatedly until
    none remain.  The trim is ``dag._kahn_peel`` with both ends: one
    ``iterate`` round per trim layer, each a semi-join of that layer's
    vertices against the cached edges that decrements their neighbours'
    in/out degrees, with no recount of the surviving edge table.  A peel
    round costs a full bidirectional label-propagation FIXPOINT
    (diameter supersteps) — on web-shaped digraphs, whose condensation is
    mostly a deep DAG around a giant core, trimming absorbs the DAG
    layers (from both ends at once) and leaves the expensive peel only
    the genuinely cyclic residue.  Interleaved same-session A/B
    (BENCH/PLANS.md, "SCC trimming"; 2/2 pairs each, alternating order):
    banded-page bow-tie digraph 21.9/19.0 s vs 127.6/103.5 s (~5-6x),
    event digraph 12.6/11.8 s vs 36.1/34.7 s (~3x); outputs asserted
    identical per pair.

    Peel: per outer round compute f(v) = min id that reaches v (hash-min
    propagation along edges) and b(v) = min id v reaches (propagation
    along reversed edges) over the still-unsettled subgraph.  Vertices
    with f(v) == b(v) == p form exactly SCC(p) (p reaches v and v
    reaches p); settle them, peel, repeat.  Every pivot that is the
    minimum of its own forward∩backward closure settles per round, so
    peel rounds ≈ length of the longest min-decreasing SCC chain among
    NON-TRIVIAL components.  Labels are canonical min-ids (a trimmed
    singleton's label is its own id — identical to what the peel would
    assign it).

    Returns DataFrame[v, component], one sealed cut: ``release`` it once
    nothing reads it any more."""
    cur = cut_lineage(
        edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    )
    verts = vertices(edges)
    # each leg projects a trim state or a label state: those stay live
    # (O(remaining vertices) rows per outer round) until the final union
    # is sealed
    legs: list[DataFrame] = []
    leaves: list[DataFrame] = []
    for rnd in range(max_outer + 1):
        # a trim cut short by its round bound only leaves more of the
        # graph to the label peel, which settles singletons too
        trimmed, n_left, _ = _kahn_peel(cur, verts, both=True)
        leaves.append(trimmed)
        legs.append(
            trimmed.filter(F.col("level").isNotNull())
            .select("v", F.col("v").alias("component"))
        )
        if n_left == 0 or rnd == max_outer:
            break
        remaining = trimmed.filter(F.col("level").isNull()).select("v")
        core = _induced(cur, remaining)
        labels = _bidirectional_min_labels(core, remaining, max_iter, n_verts=n_left)
        leaves.append(labels)
        legs.append(
            labels.filter(F.col("f") == F.col("b"))
            .select("v", F.col("f").alias("component"))
        )
        verts = labels.filter(F.col("f") != F.col("b")).select("v")
        new_cur = cut_lineage(_induced(core, verts))
        release(cur)
        cur = new_cur
    out = None if n_left else cut_lineage(reduce(DataFrame.union, legs))
    for leaf in (cur, *leaves):
        release(leaf)
    if out is None:
        raise RuntimeError(
            f"strongly_connected_components: {n_left} vertices unsettled "
            f"after {max_outer} rounds (raise max_outer)"
        )
    return out


def _induced(edges: DataFrame, verts: DataFrame) -> DataFrame:
    """The edges with both endpoints in ``verts`` (a ``v`` column)."""
    return edges.join(
        verts.withColumnRenamed("v", "src"), "src", "left_semi"
    ).join(verts.withColumnRenamed("v", "dst"), "dst", "left_semi")


def is_acyclic(edges: DataFrame, max_rounds: int = 100000) -> bool:
    """Distributed Kahn-style sink stripping (cf.
    simple_directed_graph.rs:25-43): repeatedly remove vertices with no
    remaining out-edges; acyclic iff the edge set empties.

    Runs on ``iterate`` at cadence 1.  The state is the surviving edge
    frame plus a ``keep`` flag: a round flags the surviving edges whose
    dst still has an out-edge, and its one aggregate counts the rows and
    the kept rows, so the round knows how many edges it stripped without
    a recount (the next round drops the unflagged rows first).  Each
    round strips every current sink, so the round count is bounded by
    the longest directed path ending in a sink (≤ longest chain; a DAG
    of depth d finishes in d rounds, a cycle is detected the first round
    no sink disappears)."""
    def step(state: DataFrame, i: int):
        live = state.filter("keep").select("src", "dst")
        has_out = live.selectExpr("src as dst", "true as keep").distinct()
        new_state = live.join(has_out, "dst", "left").select(
            "src", "dst", F.coalesce("keep", F.lit(False)).alias("keep")
        )
        return new_state, aggs, measure

    aggs = [F.count("*").alias("n"), F.sum(F.col("keep").cast("long")).alias("kept")]
    kept = [0]

    def measure(row):
        kept[0] = int(row["kept"] or 0)
        # converged once the edges are gone or a round strips nothing
        return (0 if kept[0] == 0 else int(row["n"]) - kept[0]), kept[0]

    result = iterate(
        edges.select("src", "dst", F.lit(True).alias("keep")).distinct(), step,
        max_iter=max_rounds, checkpoint_every=1,
    )
    release(result.state)
    if not result.converged:
        raise RuntimeError("is_acyclic did not converge")
    return kept[0] == 0
