"""Distributed degeneracy family: k-core membership, coreness values,
k-trusses and edge trussness.

Semantics match the *correct* peeling the reference's tests pin down
(tests/simple_graph.rs:315-344, tests/karate_club.rs:460-486); the
reference's own `_get_k_cores` carries an acknowledged bug
(coreness.rs:29-58).  The per-graph exact path lives in
``operators.pergraph``; these operators are the single-giant-graph scale
path.

Loops: ``coreness`` and the k-core / k-truss / trussness peels run on
``plans.superstep.iterate``.  A peel's state is its surviving rows with
the aggregate it tests (degree, triangle support); a round subtracts what
the dropped rows took away instead of re-aggregating the graph, and the
round's aggregate counts the rows the NEXT round drops, so convergence
needs no separate count.  ``weighted_coreness`` keeps its own sweep: it
re-sums float weights per round, so its exact shell comparisons hold.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.superstep import (
    cut_lineage,
    iterate,
    project,
    release,
    superstep_state_side,
)
from .builders import (
    canonical_undirected,
    min_degree_prune,
    symmetrized,
    vertices,
)
from .components import connected_components


def _sym_degrees(sym: DataFrame) -> DataFrame:
    return sym.groupBy(F.col("src").alias("v")).agg(F.count("*").alias("degree"))


class _PeelAccumulator:
    """Folds per-round peel outputs into a running lineage-cut table so a
    long peel sweep never builds an O(#rounds)-leg union plan (a
    thousand-round continuous-weight sweep would otherwise hand Catalyst a
    thousand-leg union — minutes of analysis time — and pin every round's
    checkpoint blocks until the end).

    Rounds are buffered and folded every ``fold_every`` rounds: the plan
    any round sees is bounded at fold_every+1 legs, the accumulator is
    rewritten only rounds/fold_every times (amortized O(|total|/fold_every)
    checkpoint I/O per round — the same fold-don't-rewrite discipline as
    betweenness_superstep's dependency accumulator), and each fold releases
    the buffered peel cuts instead of holding all of them to the end."""

    def __init__(self, fold_every: int = 32):
        self.fold_every = fold_every
        self.acc: DataFrame | None = None
        self.parts: list[tuple[DataFrame, object]] = []  # (peel_cut, shell)

    def add(self, peel: DataFrame, shell) -> None:
        self.parts.append((peel, shell))
        if len(self.parts) >= self.fold_every:
            self._fold()

    def _fold(self) -> None:
        if not self.parts:
            return
        legs = [
            p.select("v", F.lit(s).alias("coreness")) for p, s in self.parts
        ]
        u = legs[0]
        for leg in legs[1:]:
            u = u.union(leg)
        if self.acc is not None:
            u = self.acc.union(u)
        new_acc = cut_lineage(u)
        release(self.acc)
        for p, _ in self.parts:
            release(p)
        self.acc = new_acc
        self.parts = []

    def result(self) -> DataFrame | None:
        self._fold()
        return self.acc


def k_core_vertices(edges: DataFrame, k: int, max_rounds: int = 1000) -> DataFrame:
    """Vertices of the k-core: iteratively delete degree < k.
    Returns DataFrame[v]; raises ``RuntimeError`` if ``max_rounds`` runs
    out before the fixpoint.  The state is the surviving (v, degree)
    frame: a round keeps degree >= k and subtracts each vertex's edges
    into the vertices it peels."""
    sym = symmetrized(edges).persist()

    def step(state: DataFrame, i: int):
        peeled = state.filter(F.col("degree") < k).select(F.col("v").alias("src"))
        lost = (
            sym.join(peeled, "src", "left_semi")
            .groupBy(F.col("dst").alias("v"))
            .agg(F.count("*").alias("lost"))
        )
        new_state = (
            state.filter(F.col("degree") >= k)
            .join(lost, "v", "left")
            .select("v", (F.col("degree") - F.coalesce("lost", F.lit(0))).alias("degree"))
        )
        return new_state, aggs, measure

    aggs = [
        F.count("*").alias("n"),
        F.sum((F.col("degree") < k).cast("long")).alias("drop"),
    ]

    def measure(row):
        return int(row["drop"] or 0), int(row["n"])

    result = iterate(_sym_degrees(sym), step, max_iter=max_rounds, checkpoint_every=1)
    sym.unpersist()
    if not result.converged:
        release(result.state)
        raise RuntimeError(f"k_core_vertices: not converged in {max_rounds} rounds")
    return project(result.state, "v")


def k_core_components(edges: DataFrame, k: int) -> DataFrame:
    """Connected components of the k-core — DataFrame[v, component]
    (≡ reference get_k_cores output granularity, coreness.rs:55-58)."""
    core_edges = min_degree_prune(edges, k)
    if core_edges.limit(1).count() == 0:
        return edges.sparkSession.createDataFrame([], "v long, component long")
    return connected_components(core_edges)


def coreness(
    edges: DataFrame,
    max_rounds: int = 10000,
    checkpointer=None,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Exact core number per vertex via the h-index fixpoint iteration
    (Montresor, De Pellegrini, Miorandi, "Distributed k-Core
    Decomposition", 2011): start from est(v) = degree(v) and repeatedly
    set est(v) to the h-index of its neighbors' estimates; the fixpoint
    is exactly the core number.  Returns DataFrame[v, coreness].

    This is the scale default because its round count is the estimate
    cascade depth (typically tens even on web graphs), independent of the
    number of shell levels — the level-synchronized peel
    (``coreness_peel``) needs (levels x cascade-depth) driver-synchronized
    rounds, and at max-coreness 84 that is hundreds of rounds of pure
    per-job fixed overhead (measured 142s vs ~25s at sf0.1).

    Skew design: the h-index is computed from (neighbor-estimate ->
    count) pairs, not raw neighbor rows — ``groupBy(v, nb)`` pre-combines
    map-side, so a 10^6-degree hub contributes at most #distinct-estimate
    rows (<= its h-index bound) to the per-vertex window, never 10^6.

    Semantics match Batagelj–Zaveršnik peeling (coreness.rs:106-161) with
    the reference's decrement quirks corrected (pinned to its tests'
    expected values; parity with ``coreness_peel`` is property-tested).

    Without a checkpointer every round is a lazy lineage cut, which the
    aggregate that drives the density switch materializes.

    ``checkpointer`` (a ``plans.superstep.CheckpointManager``) makes the
    iteration resumable (north_rule): the (v, est, chg) state is durably
    written every ``checkpoint_every`` rounds with a metrics sidecar, and
    a fresh call with the same manager resumes from the latest round —
    including after a ``max_rounds`` abort, whose partial state is saved
    before raising.
    """
    spark = edges.sparkSession
    sym = symmetrized(edges).repartition("src").persist()
    sym.count()
    start_round = 0
    state = None
    if checkpointer is not None:
        found = checkpointer.load_latest(spark)
        if found is not None:
            start_round, state = found
            if start_round >= max_rounds:
                raise ValueError(
                    f"checkpoint resumes at round {start_round}, already "
                    f"past max_rounds={max_rounds}; rerun with a larger "
                    "--max-iter (or clear the checkpoint dir to restart)"
                )
    if state is None:
        state = _sym_degrees(sym).select(
            "v", F.col("degree").alias("est"), F.lit(True).alias("chg")
        )
    # density switch state: prev_changed / n_verts decides the per-round
    # message plan (None on round 1 / after a resume -> dense).  n_verts
    # is known up front (the count that materializes the persisted state)
    # so the state-side join strategy is right from round 1.
    state = state.persist()
    prev_changed: int | None = None
    n_verts: int = state.count()
    w = (
        Window.partitionBy("v")
        .orderBy(F.desc("nb"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def step(state: DataFrame, i: int):
        est = state.select("v", "est")
        if prev_changed is None or prev_changed * 8 >= n_verts:
            # DENSE round (>=1/8 of vertices changed, or unknown): one
            # sym⋈state join carrying the chg flag replaces the frontier
            # semi-join + candidate distinct + message semi-join — 2
            # exchanges/round instead of 4 (VERDICT r04 ask #7; the
            # per-round driver floor is stage count, not bytes, at the
            # bench scale).  Vertices with no changed neighbor are
            # filtered after the h aggregate via max(nbchg).
            # deliberate state-side strategy (superstep_state_side): the
            # stats-free cut leaf otherwise makes the planner broadcast
            # the CACHED EDGE TABLE when it is under threshold — a serial
            # |E|-row broadcast build EVERY round.
            msgs = sym.join(
                superstep_state_side(state, n_verts), sym.src == state.v
            ).select(
                F.col("dst").alias("v"),
                F.col("est").alias("nb"),
                "chg",
            )
            counts = msgs.groupBy("v", "nb").agg(
                F.count("*").alias("c"), F.max("chg").alias("nbchg")
            )
            h = (
                counts.withColumn("cum", F.sum("c").over(w))
                .groupBy("v")
                .agg(
                    F.max(F.least(F.col("cum"), F.col("nb"))).alias("h"),
                    F.max("nbchg").alias("anychg"),
                )
                .filter("anychg")
                .select("v", "h")
            )
        else:
            # SPARSE round: a vertex's h-index can only drop if a
            # NEIGHBOR's estimate changed last round, so recompute only
            # neighbors of the changed set — per-round shuffle decays
            # with the cascade, exactly like connected_components'
            # frontier.  This is the 100×-scale path: the dense plan
            # touches all E message rows every round regardless of how
            # few vertices remain active.
            frontier = state.filter("chg").select("v")
            cand = (
                sym.join(
                    frontier.withColumnRenamed("v", "src"), "src", "left_semi"
                )
                .select(F.col("dst").alias("v"))
                .distinct()
            )
            msgs = (
                sym.join(cand.withColumnRenamed("v", "dst"), "dst", "left_semi")
                .join(superstep_state_side(est, n_verts), sym.src == est.v)
                .select(F.col("dst").alias("v"), F.col("est").alias("nb"))
            )
            # h-index over compressed (distinct value, count) pairs:
            # cumulative count of neighbors with estimate >= nb,
            # descending; h = max(min(cumulative, nb))
            counts = msgs.groupBy("v", "nb").agg(F.count("*").alias("c"))
            h = (
                counts.withColumn("cum", F.sum("c").over(w))
                .groupBy("v")
                .agg(F.max(F.least(F.col("cum"), F.col("nb"))).alias("h"))
            )
        new_state = (
            # h has at most n_verts rows: broadcast it when small, else
            # build it per partition (never sort-merge both sides)
            est.join(superstep_state_side(h, n_verts), "v", "left")
            .select(
                "v",
                F.least(
                    F.col("est"), F.coalesce("h", F.col("est"))
                ).cast("long").alias("est"),
                (
                    F.coalesce("h", F.col("est")) < F.col("est")
                ).alias("chg"),
            )
        )

        return new_state, aggs, measure

    aggs = [
        F.sum(F.col("chg").cast("long")).alias("chg"),
        F.count("*").alias("n"),
    ]

    def measure(row):
        nonlocal prev_changed, n_verts
        prev_changed, n_verts = int(row["chg"] or 0), int(row["n"])
        return prev_changed, n_verts

    result = iterate(
        state,
        step,
        max_iter=max_rounds,
        checkpoint_every=checkpoint_every if checkpointer is not None else 1,
        checkpointer=checkpointer,
        start_iteration=start_round,
    )
    sym.unpersist()
    if not result.converged:
        release(result.state)
        raise RuntimeError("coreness h-index iteration did not converge")
    return project(result.state, "v", F.col("est").cast("int").alias("coreness"))


def coreness_peel(edges: DataFrame, max_rounds: int = 10000) -> DataFrame:
    """Exact core number per vertex via level-synchronized peeling:
    at level k, cascade-remove everything with remaining degree <= k;
    removed vertices get coreness k.  Returns DataFrame[v, coreness].

    This is ``weighted_coreness``'s threshold peel on unit weights (the
    remaining weight of a vertex is then its remaining degree, summed
    exactly in floating point).  Equivalent to Batagelj–Zaveršnik
    (coreness.rs:106-161) with the reference's decrement quirks corrected
    (matches its tests' expected values including the 'breaks the
    original algorithm' graph).  Prefer ``coreness`` (h-index fixpoint)
    at scale — this variant's round count grows with the number of shell
    levels."""
    unit = canonical_undirected(edges).withColumn("weight", F.lit(1.0))
    return weighted_coreness(unit, max_rounds).select(
        "v", F.col("coreness").cast("int").alias("coreness")
    )


def weighted_coreness(
    wedges: DataFrame,
    max_rounds: int = 10000,
    quantize: float | None = None,
) -> DataFrame:
    """Distributed fractional (s-core) coreness: threshold-sweep peeling —
    shell value s = min remaining node weight; cascade-remove every node
    with remaining weight <= s; all removed in the cascade get coreness s.

    Produces the same shell values as the reference's sequential
    priority-queue algorithm (coreness.rs:267-316): the PQ pops nodes in
    nondecreasing remaining weight with a running-max shell value, which
    is exactly one threshold sweep per shell.  Input: DataFrame[src, dst,
    weight] (undirected, deduped upstream via builders.weighted_canonical).
    Returns DataFrame[v, coreness double].

    Round-count bound: every round strictly raises the shell value to a
    new distinct remaining-weight, so driver rounds <= #distinct shell
    values.  Integer/decimal weight domains (the gated fixtures) converge
    in a few rounds; CONTINUOUS real-valued weights can make every shell
    distinct — rounds can approach V, which at web scale is a driver-bound
    sweep no accumulator can save.  For such inputs pass ``quantize``: the
    peel threshold each round is the min remaining weight rounded UP to
    the quantize grid (shell = ceil(min_w / quantize) * quantize), so one
    round retires an entire grid bucket and rounds <= weight-range /
    quantize.  This CHANGES SEMANTICS — reported coreness values are the
    grid shells, an upper rounding of the exact s-core values — which is
    why it is opt-in and off for the exact gate path.

    Plan/memory shape: per-round peels fold into a running lineage-cut
    accumulator (``_PeelAccumulator``) — bounded plan width and amortized
    checkpoint I/O regardless of round count (a thousand-round sweep
    previously assembled a thousand-leg union plan).
    """
    spark = wedges.sparkSession
    sym = wedges.select("src", "dst", "weight").union(
        wedges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
    ).persist()
    sym.count()
    # the remaining-vertex set is tracked explicitly: a vertex whose
    # neighbors are all peeled in one round becomes isolated (weight 0)
    # and must still be assigned the current shell value
    remaining = cut_lineage(vertices(sym.select("src", "dst")))
    results = _PeelAccumulator()
    shell = float("-inf")
    for _ in range(max_rounds):
        sums = sym.groupBy(F.col("src").alias("v")).agg(
            F.sum("weight").alias("w")
        )
        w = remaining.join(sums, "v", "left").select(
            "v", F.coalesce("w", F.lit(0.0)).alias("w")
        ).persist()
        # one driver action per round: remaining-count + min folded
        agg = w.agg(F.count("*").alias("n"), F.min("w").alias("min_w")).collect()[0]
        if agg["n"] == 0:
            w.unpersist()
            break
        min_w = float(agg["min_w"])
        if quantize is not None:
            import math

            min_w = math.ceil(min_w / quantize) * quantize
        shell = max(shell, min_w)
        # the argmin vertex has w == min_w <= shell, so the peel set is
        # never empty — no separate count action needed
        peel = cut_lineage(w.filter(F.col("w") <= shell).select("v"))
        w.unpersist()
        prev_remaining = remaining
        remaining = cut_lineage(remaining.join(peel, "v", "left_anti"))
        release(prev_remaining)
        nxt = cut_lineage(
            sym.join(peel.withColumnRenamed("v", "src"), "src", "left_anti")
            .join(peel.withColumnRenamed("v", "dst"), "dst", "left_anti")
            .select("src", "dst", "weight")
        )
        release(sym)
        sym = nxt
        # accumulate AFTER the anti-joins: a fold releases buffered peels
        results.add(peel, shell)
    release(sym)
    out = results.result()
    if out is None:
        return spark.createDataFrame([], "v long, coreness double")
    return out


def averaged_ties_rank(
    scores: DataFrame, score_col: str, rank_col: str = "rank"
) -> DataFrame:
    """Descending ranks with ties sharing the averaged rank — the
    distributed form of kernels.averaged_ties_ranking (coreness.rs:319-349).

    Scale shape: one groupBy over DISTINCT score values (small domain for
    coreness/degree scores), a window over that tiny distinct-score table,
    then a broadcast join back — no global sort of the full vertex table.
    avg rank of a tie group = (#higher) + (size + 1) / 2.
    """
    counts = scores.groupBy(score_col).agg(F.count("*").alias("_n"))
    w = (
        Window.orderBy(F.desc(score_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = counts.select(
        score_col,
        (
            F.coalesce(F.sum("_n").over(w), F.lit(0))
            + (F.col("_n") + 1) / 2.0
        ).alias(rank_col),
    )
    return scores.join(F.broadcast(ranked), score_col)


def coreness_anomaly(edges: DataFrame) -> DataFrame:
    """Core-A anomaly score |ln(rank_by_coreness) - ln(rank_by_degree)|
    per vertex (coreness.rs:163-181) — distributed composition of the
    coreness peel, the degree aggregate, and two averaged-ties rankings.
    Returns DataFrame[v, anomaly]."""
    from .builders import degrees

    core = coreness(edges)
    deg = degrees(edges)
    cr = averaged_ties_rank(core, "coreness", "core_rank").select(
        "v", "core_rank"
    )
    dr = averaged_ties_rank(deg, "degree", "deg_rank").select("v", "deg_rank")
    return cr.join(dr, "v").select(
        "v", F.abs(F.log("core_rank") - F.log("deg_rank")).alias("anomaly")
    )


def _edge_support_full(canon: DataFrame) -> DataFrame:
    """Triangle support per canonical edge, computed ONCE via
    degree-oriented wedge enumeration (each triangle generated exactly
    once; O(m^1.5) fan-out — see operators.triangles).  ``canon`` MUST
    already be canonical (src < dst, deduped, loop-free).

    Returns a lineage-cut DataFrame[src, dst, support] containing only
    edges with support >= 1: an edge in no triangle can never reach any
    k-truss (k >= 3) and its removal decrements nothing, so omitting it
    is exactly equivalent to dropping it in round 0 — and saves the
    full-width join back onto the edge table."""
    deg = (
        canon.select(F.col("src").alias("v"))
        .union(canon.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("degree"))
    )
    e = (
        canon.join(deg.withColumnRenamed("v", "src"), "src")
        .withColumnRenamed("degree", "deg_src")
        .join(
            deg.withColumnRenamed("v", "dst").withColumnRenamed(
                "degree", "deg_dst"
            ),
            "dst",
        )
    )
    lower_first = (F.col("deg_src") < F.col("deg_dst")) | (
        (F.col("deg_src") == F.col("deg_dst")) & (F.col("src") < F.col("dst"))
    )
    o = e.select(
        F.when(lower_first, F.col("src")).otherwise(F.col("dst")).alias("a"),
        F.when(lower_first, F.col("dst")).otherwise(F.col("src")).alias("b"),
    ).persist()
    e1 = o.select("a", F.col("b").alias("u"))
    e2 = o.select("a", F.col("b").alias("w"))
    wedges = e1.join(e2, "a").filter(F.col("u") < F.col("w"))
    closing = canon.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    # materialize the triangle set ONCE: the three union branches below
    # would otherwise each re-run the wedge join (and re-build its
    # broadcast hash maps — measured as GC-thrash-grade overhead at 1M+
    # edges)
    tri = wedges.join(closing, ["u", "w"]).persist()
    tri.count()
    edges3 = (
        tri.select(
            F.least("a", "u").alias("src"), F.greatest("a", "u").alias("dst")
        )
        .union(
            tri.select(
                F.least("a", "w").alias("src"),
                F.greatest("a", "w").alias("dst"),
            )
        )
        .union(tri.select(F.col("u").alias("src"), F.col("w").alias("dst")))
    )
    out = cut_lineage(
        edges3.groupBy("src", "dst").agg(F.count("*").alias("support"))
    )
    tri.unpersist()
    o.unpersist()
    return out


def _decrement_support(
    state: DataFrame, drop: DataFrame, surviving: DataFrame
) -> DataFrame:
    """Sparse round of the truss peels (``k_truss_edges``, ``trussness``):
    ``surviving`` — the (src, dst, support) ``state`` minus this round's
    ``drop`` edges — with each support decremented by the affected
    triangles it loses.  Returns the lazy successor state; ``iterate``
    seals it with the stats-resetting cut this inner-join loop needs (see
    plans.superstep.cut_lineage)."""
    sym_e = state.select("src", "dst").union(
        state.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # affected triangles: for dropped edge (u, w), every common neighbor a
    # with (u,a) and (w,a) still in the current edge set
    d = drop.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    e_u = sym_e.select(F.col("src").alias("u"), F.col("dst").alias("a"))
    e_w = sym_e.select(F.col("src").alias("w"), F.col("dst").alias("a"))
    tri = d.join(e_u, "u").join(e_w, ["w", "a"])
    srt = F.array_sort(F.array("u", "w", "a"))
    tri3 = tri.select(
        srt.getItem(0).alias("x"),
        srt.getItem(1).alias("y"),
        srt.getItem(2).alias("z"),
    ).distinct()
    dec_edges = (
        tri3.select(F.col("x").alias("src"), F.col("y").alias("dst"))
        .union(tri3.select(F.col("x").alias("src"), F.col("z").alias("dst")))
        .union(tri3.select(F.col("y").alias("src"), F.col("z").alias("dst")))
    )
    dec = dec_edges.groupBy("src", "dst").agg(F.count("*").alias("dec"))
    return surviving.join(dec, ["src", "dst"], "left").select(
        "src",
        "dst",
        (F.col("support") - F.coalesce("dec", F.lit(0))).alias("support"),
    )


def _support_round(
    state: DataFrame, k: int, n_drop: int, n_edges: int
) -> tuple[DataFrame, DataFrame]:
    """One truss peel round over the (src, dst, support) state at stage
    k: returns the lazy successor and the (src, dst) edges that leave the
    state, which on a dense round (dropped > survivors / 4) include the
    survivors the recount leaves in no triangle.  The state is unique on
    (src, dst), so the survivors are the complementary filter."""
    keep = F.col("support") >= k - 2
    drop = state.filter(~keep).select("src", "dst")
    surviving = state.filter(keep)
    if n_drop * 4 <= n_edges - n_drop:
        return _decrement_support(state, drop, surviving), drop
    surv_edges = surviving.select("src", "dst")
    new_state = _edge_support_full(surv_edges)
    shed = surv_edges.join(new_state.select("src", "dst"), ["src", "dst"], "left_anti")
    return new_state, drop.union(shed)


def _support_aggs(k: int) -> list:
    """Rows left, rows stage ``k`` drops next, least support."""
    return [
        F.count("*").alias("n"),
        F.sum((F.col("support") < k - 2).cast("long")).alias("drop"),
        F.min("support").alias("min_support"),
    ]


def k_truss_edges(edges: DataFrame, k: int, max_rounds: int = 1000) -> DataFrame:
    """Edges of the k-truss: iteratively delete canonical edges supported by
    fewer than k-2 triangles.  Returns DataFrame[src, dst].

    Distributed equivalent of coreness.rs:183-264 at fixpoint (the
    reference's in-sweep mutation order only affects intermediate sweeps,
    not the fixpoint, which is the canonical k-truss).

    Pre-prune: one degree-filter pass (both endpoints must have degree
    >= k-1) — a cheap superset of the reference's full (k-1)-core prune
    (:255-264); the peel itself is the fixpoint authority, so any
    superset-preserving prune is sound, and the full iterative core
    costs several driver rounds for marginal extra pruning.

    Frontier-incremental peel with a density switch (``_support_round``):

    * sparse rounds (dropped edges ≪ survivors — the long cascade tail)
      touch only the AFFECTED triangles — those containing an edge
      dropped this round — and decrement the supports of their surviving
      edges.  Per-round work is proportional to the frontier's triangle
      neighborhood (decaying with the cascade, exactly the discipline
      ``coreness`` applies via its h-index change frontier).  A triangle
      is counted the round its FIRST edge drops and never again (later
      rounds no longer see all three of its edges), so no
      double-decrement; a triangle losing 2+ edges in one round is
      deduped by canonical (x, y, z) triple.
    * dense rounds (typically round 1, where most of the graph falls
      below k-2 at once) recompute support over the SURVIVOR set with the
      degree-oriented O(m'^1.5) enumeration instead: when the frontier is
      nearly everything, enumerating its unoriented triangle neighborhood
      costs Σ deg over dropped edges — far more than one oriented pass
      over the (small) survivor graph.

    Raises ``RuntimeError`` if ``max_rounds`` runs out before the fixpoint.
    """
    base = canonical_undirected(edges)
    if k <= 2:
        # every edge trivially has support >= 0: the 2-truss is the graph
        return base
    deg_ok = (
        base.select(F.col("src").alias("v"))
        .union(base.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("degree"))
        .filter(F.col("degree") >= k - 1)
        .select("v")
    )
    canon = cut_lineage(
        base.join(deg_ok.withColumnRenamed("v", "src"), "src", "left_semi")
        .join(deg_ok.withColumnRenamed("v", "dst"), "dst", "left_semi")
        .select("src", "dst")
    )
    state = _edge_support_full(canon)
    release(canon)
    n_edges = n_drop = 0

    def step(state: DataFrame, i: int):
        new_state, _ = _support_round(state, k, n_drop, n_edges)
        return new_state, aggs, measure

    aggs = _support_aggs(k)

    def measure(row):
        nonlocal n_edges, n_drop
        n_edges, n_drop = int(row["n"]), int(row["drop"] or 0)
        return n_drop, n_edges

    if measure(state.agg(*aggs).collect()[0])[0] == 0:
        return project(state, "src", "dst")
    result = iterate(state, step, max_iter=max_rounds, checkpoint_every=1)
    if not result.converged:
        release(result.state)
        raise RuntimeError(f"k_truss_edges: not converged in {max_rounds} rounds")
    return project(result.state, "src", "dst")


def trussness(edges: DataFrame, max_rounds: int = 10000) -> DataFrame:
    """Edge-level truss decomposition: trussness(e) = max k such that e
    belongs to the k-truss — the truss analog of per-vertex ``coreness``
    (which completes the degeneracy family the same way coreness
    completes k-cores; cf. coreness.rs:183-264 for the single-k peel).

    Algorithm: the k_truss_edges support peel run across ALL stages —
    at stage k, cascade-drop edges supported by < k-2 surviving
    triangles and label them k-1; when a stage's cascade dries, jump
    directly to k = (min surviving support) + 3, the first stage where
    anything can drop (intermediate stages are empty by construction, so
    the jump changes no label and saves their driver rounds).  Supports
    carry across stages — each edge's support is always its triangle
    count within the CURRENT survivor graph, maintained exactly like
    k_truss_edges: frontier-incremental decrements on sparse rounds
    (distinct affected (x,y,z) triples, counted the round their first
    edge drops), full O(m'^1.5) oriented recount on dense rounds.
    Survivors shed by a dense recount (support fell to 0) are labeled
    with the current stage too — they would drop on the stage's next
    round anyway, and the stage, not the round, determines the label.

    Returns DataFrame[src, dst, trussness] over every canonical edge
    (triangle-free edges have trussness 2).
    """
    canon = canonical_undirected(edges)
    canon = cut_lineage(canon)
    state = _edge_support_full(canon)  # only support >= 1 rows
    # edges in no triangle at all: trussness 2, settled without peeling
    base2 = cut_lineage(
        canon.join(state.select("src", "dst"), ["src", "dst"], "left_anti")
        .select("src", "dst", F.lit(2).alias("trussness"))
    )
    release(canon)
    labeled: list[DataFrame] = [base2]
    k = 3
    n_edges, n_drop = 0, None

    def step(state: DataFrame, i: int):
        nonlocal n_drop
        if n_drop is None:
            # first round of a stage: its drop count is not known yet
            n_drop = state.filter(F.col("support") < k - 2).count()
        new_state, gone = _support_round(state, k, n_drop, n_edges)
        labeled.append(
            cut_lineage(gone.select("src", "dst", F.lit(k - 1).alias("trussness")))
        )
        return new_state, _support_aggs(k), measure

    def measure(row):
        nonlocal k, n_edges, n_drop
        n_edges, n_drop = int(row["n"]), int(row["drop"] or 0)
        if n_edges and not n_drop:
            # stage dry: jump to the first stage with any drop
            k, n_drop = int(row["min_support"]) + 3, None
        return n_edges, n_edges

    # every support is >= 1, so stage 3 is dry: this jumps to the first stage
    converged = True
    if measure(state.agg(*_support_aggs(k)).collect()[0])[0]:
        result = iterate(state, step, max_iter=max_rounds, checkpoint_every=1)
        state, converged = result.state, result.converged
    out = cut_lineage(reduce(DataFrame.union, labeled)) if converged else None
    for leaf in [state, *labeled]:
        release(leaf)
    if not converged:
        raise RuntimeError(f"trussness: not converged in {max_rounds} rounds")
    return out
