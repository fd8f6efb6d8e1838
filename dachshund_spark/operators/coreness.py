"""Distributed degeneracy family: k-core membership, coreness values,
k-trusses and edge trussness.

Semantics match the *correct* peeling the reference's tests pin down
(tests/simple_graph.rs:315-344, tests/karate_club.rs:460-486); the
reference's own `_get_k_cores` carries an acknowledged bug
(coreness.rs:29-58).  The per-graph exact path lives in
``operators.pergraph``; these operators are the single-giant-graph scale
path.

Loops: ``coreness``, the weighted core sweep and the k-core / k-truss /
trussness peels run on ``plans.superstep.iterate``.  A peel's state is
its surviving rows with the aggregate it tests (degree, triangle
support); a round subtracts what the dropped rows took away instead of
re-aggregating the graph, and the round's aggregate counts the rows the
NEXT round drops, so convergence needs no separate count.
"""

from __future__ import annotations

import math
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
)
from .components import connected_components
from .triangles import _degrees, _triples


def _sym_degrees(sym: DataFrame) -> DataFrame:
    return sym.groupBy(F.col("src").alias("v")).agg(F.count("*").alias("degree"))


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
    out = weighted_coreness(unit, max_rounds)
    return project(out, "v", F.col("coreness").cast("int").alias("coreness"))


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
    sweep.  For such inputs pass ``quantize``: the peel threshold each
    round is the min remaining weight rounded UP to the quantize grid
    (shell = ceil(min_w / quantize) * quantize), so one round retires an
    entire grid bucket and rounds <= weight-range /
    quantize.  This CHANGES SEMANTICS — reported coreness values are the
    grid shells, an upper rounding of the exact s-core values — which is
    why it is opt-in and off for the exact gate path.

    Plan/memory shape: one ``iterate`` loop at cadence 1 over a single
    (v, w, coreness) frame; ``coreness`` is null while a vertex is open
    and ``w`` is an open vertex's remaining weight.  A round labels every
    open vertex with ``w <= shell`` and RE-SUMS ``w`` for the rest from
    the edges whose two endpoints are both still open — the same terms a
    shrinking edge table would sum, so the exact ``w <= shell`` tests
    never see a decremented float.  The trade: the state holds all V
    vertex rows every round, and each round scans the full cached
    symmetrized edge table through two semi-joins instead of a per-round
    shrunken copy of it.  Raises ``RuntimeError`` if ``max_rounds`` runs
    out before every vertex is labeled.
    """
    sym = wedges.selectExpr("src", "dst", "weight").union(
        wedges.selectExpr("dst as src", "src as dst", "weight")
    ).persist()
    is_open = F.col("coreness").isNull()
    state = (
        sym.groupBy(F.col("src").alias("v"))
        .agg(F.sum("weight").alias("w"))
        .withColumn("coreness", F.lit(None).cast("double"))
        .persist()
    )
    shell = float("-inf")

    def step(state: DataFrame, i: int):
        peel = is_open & (F.col("w") <= shell)
        stays = is_open & (F.col("w") > shell)
        still_open = state.filter(stays).select("v")
        # an open vertex that no open edge reaches keeps w = 0 (the star
        # centre), so it is labeled with the next shell
        sums = (
            sym.join(still_open.withColumnRenamed("v", "src"), "src", "left_semi")
            .join(still_open.withColumnRenamed("v", "dst"), "dst", "left_semi")
            .groupBy(F.col("src").alias("v"))
            .agg(F.sum("weight").alias("sum_w"))
        )
        new_state = state.join(sums, "v", "left").select(
            "v",
            F.when(stays, F.coalesce("sum_w", F.lit(0.0)))
            .otherwise(F.col("w"))
            .alias("w"),
            F.when(peel, F.lit(shell)).otherwise(F.col("coreness")).alias("coreness"),
        )
        return new_state, aggs, measure

    aggs = [
        F.sum(is_open.cast("long")).alias("open"),
        F.min(F.when(is_open, F.col("w"))).alias("min_w"),
    ]

    def measure(row):
        nonlocal shell
        n_open = int(row["open"] or 0)
        if n_open:
            min_w = float(row["min_w"])
            if quantize is not None:
                min_w = math.ceil(min_w / quantize) * quantize
            shell = max(shell, min_w)
        return n_open, n_open

    # seeds the first shell; with no vertex at all, round 1 converges
    measure(state.agg(*aggs).collect()[0])
    result = iterate(state, step, max_iter=max_rounds, checkpoint_every=1)
    sym.unpersist()
    if not result.converged:
        release(result.state)
        raise RuntimeError(f"weighted_coreness: not converged in {max_rounds} rounds")
    return project(result.state, "v", "coreness")


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


def _edge_support(canon: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Triangle support per canonical edge from the one degree-oriented
    triangle enumeration (``triangles._triples``: each triangle once,
    O(m^1.5) fan-out).  ``canon`` MUST already be canonical (src < dst,
    deduped, loop-free).

    Returns the lazy DataFrame[src, dst, support] over only the edges
    with support >= 1 — an edge in no triangle can never reach any
    k-truss (k >= 3) and its removal decrements nothing, so omitting it
    is exactly equivalent to dropping it in round 0 — and the triangle
    cut it reads, which the caller releases once the support frame is
    sealed."""
    tri = _triples(canon, _degrees(canon))
    edges3 = (
        tri.select(F.least("x", "y").alias("src"), F.greatest("x", "y").alias("dst"))
        .union(tri.select(F.least("x", "z").alias("src"), F.greatest("x", "z").alias("dst")))
        .union(tri.select(F.col("y").alias("src"), F.col("z").alias("dst")))
    )
    return edges3.groupBy("src", "dst").agg(F.count("*").alias("support")), tri


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
    state: DataFrame, k: int, n_drop: int, n_edges: int, retire: list
) -> tuple[DataFrame, DataFrame]:
    """One truss peel round over the (src, dst, support) state at stage
    k: returns the lazy successor and the (src, dst) edges that leave the
    state, which on a dense round (dropped > survivors / 4) include the
    survivors the recount leaves in no triangle.  The state is unique on
    (src, dst), so the survivors are the complementary filter.  A dense
    round appends the triangle cut its recount reads to ``retire``; the
    caller releases it once ``iterate`` has sealed the successor."""
    keep = F.col("support") >= k - 2
    drop = state.filter(~keep).select("src", "dst")
    surviving = state.filter(keep)
    if n_drop * 4 <= n_edges - n_drop:
        return _decrement_support(state, drop, surviving), drop
    surv_edges = surviving.select("src", "dst")
    new_state, tri = _edge_support(surv_edges)
    retire.append(tri)
    shed = surv_edges.join(new_state.select("src", "dst"), ["src", "dst"], "left_anti")
    return new_state, drop.union(shed)


def _release_all(leaves: list) -> None:
    for leaf in leaves:
        release(leaf)
    leaves.clear()


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
    deg_ok = _degrees(base).filter(F.col("degree") >= k - 1).select("v")
    canon = cut_lineage(
        base.join(deg_ok.withColumnRenamed("v", "src"), "src", "left_semi")
        .join(deg_ok.withColumnRenamed("v", "dst"), "dst", "left_semi")
        .select("src", "dst")
    )
    support, tri = _edge_support(canon)
    state = cut_lineage(support)
    release(tri)
    release(canon)
    n_edges = n_drop = 0
    retire: list[DataFrame] = []

    def step(state: DataFrame, i: int):
        new_state, _ = _support_round(state, k, n_drop, n_edges, retire)
        return new_state, aggs, measure

    aggs = _support_aggs(k)

    def measure(row):
        nonlocal n_edges, n_drop
        n_edges, n_drop = int(row["n"]), int(row["drop"] or 0)
        _release_all(retire)  # the sealed successor no longer reads them
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
    canon = cut_lineage(canonical_undirected(edges))
    support, tri = _edge_support(canon)  # only support >= 1 rows
    state = cut_lineage(support)
    release(tri)
    # edges in no triangle at all: trussness 2, settled without peeling
    base2 = cut_lineage(
        canon.join(state.select("src", "dst"), ["src", "dst"], "left_anti")
        .select("src", "dst", F.lit(2).alias("trussness"))
    )
    release(canon)
    labeled: list[DataFrame] = [base2]
    k = 3
    n_edges, n_drop = 0, None
    retire: list[DataFrame] = []

    def step(state: DataFrame, i: int):
        nonlocal n_drop
        if n_drop is None:
            # first round of a stage: its drop count is not known yet
            n_drop = state.filter(F.col("support") < k - 2).count()
        new_state, gone = _support_round(state, k, n_drop, n_edges, retire)
        if retire:
            # a dense round (only those retire a triangle cut): persist the
            # recount, so the gone cut (through shed) and iterate's seal
            # evaluate it once; measure frees it after the seal
            new_state = new_state.persist()
            retire.append(new_state)
        labeled.append(
            cut_lineage(gone.select("src", "dst", F.lit(k - 1).alias("trussness")))
        )
        return new_state, _support_aggs(k), measure

    def measure(row):
        nonlocal k, n_edges, n_drop
        n_edges, n_drop = int(row["n"]), int(row["drop"] or 0)
        _release_all(retire)
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
    _release_all([state, *labeled])
    if not converged:
        raise RuntimeError(f"trussness: not converged in {max_rounds} rounds")
    return out
