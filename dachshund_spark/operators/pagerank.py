"""PageRank as damped power-iteration supersteps (north_rule op).

Template = the reference's eigenvector power iteration
(eigenvector_centrality.rs:21-42) with damping, per-edge 1/out_degree
weights, dangling-mass redistribution, and L1 convergence (Σ|Δ| < tol).
Oracle: ``kernels.pagerank_numpy`` (allclose 1e-6 at convergence).

Physical design:
* ONE Spark action per superstep.  The state carries a ``dangling`` flag,
  and the single per-superstep aggregate returns (rows, L1 delta, next
  dangling mass) together — naive formulations spend 2-3 extra jobs per
  superstep on scalar lookups, and at cluster scale fixed job overhead is
  what caps scaling efficiency.
* The ``links`` table (edge + precomputed 1/out_degree weight) is
  repartitioned on ``src`` and persisted once; every superstep shuffles
  only the rank vector.
* The held state is the join anchor: a superstep is ``links ⋈ ranks →
  groupBy(dst) → state ⋈ sums``, and the new rank, its delta against
  the held rank and the carried per-vertex attributes come out of that
  last join's one projection.  With a checkpointer the held state is
  the previous step's parquet, read lazily, and the checkpoint write is
  the superstep's only job (``plans.superstep``).
* Two aggregation strategies, selectable per call:
  - ``impl="sql"``: ``links ⋈ ranks → groupBy(dst).sum`` — Catalyst gives
    map-side partial aggregation; AQE splits skewed reducers.
  - ``impl="csr"``: per-partition CSR-block gather-scatter (north_star) —
    after the ranks join, an Arrow-batched ``mapInPandas`` factorizes each
    partition's dst column into a dense local id space (numpy) and
    ``np.bincount``-combines rank*weight locally, emitting one partial row
    per *distinct* dst per partition instead of one per edge: an explicit
    pre-shuffle combine that cuts shuffle volume on high-fanout partitions
    beyond what hash-aggregate buffers cover.
  Both return identical values (tested against each other and the numpy
  oracle).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.superstep import CheckpointManager, iterate
from .builders import vertices


def _csr_partial_sums(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-partition gather-scatter: combine contributions by dst with
    numpy before the shuffle.  Receives (dst, contrib) rows; emits one
    (dst, partial) row per distinct dst in the partition."""
    import numpy as np

    parts: list[pd.DataFrame] = []
    for pdf in batches:
        if pdf.empty:
            continue
        codes, uniques = pd.factorize(pdf["dst"].to_numpy())
        sums = np.bincount(codes, weights=pdf["contrib"].to_numpy())
        parts.append(pd.DataFrame({"dst": uniques, "partial": sums}))
    if parts:
        out = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        if len(parts) > 1:
            # cross-batch combine stays columnar (hash groupby over the
            # per-batch distinct dsts) instead of a per-element dict loop
            out = out.groupby("dst", sort=False, as_index=False)["partial"].sum()
        yield out


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    impl: str = "sql",
    checkpointer: CheckpointManager | None = None,
    include_metrics: bool = False,
    join_strategy: str = "auto",
    checkpoint_every: int = 1,
    block_size: int = 1,
    teleport: DataFrame | None = None,
    weight_col: str | None = None,
):
    """Directed PageRank over DataFrame[src, dst]; returns
    DataFrame[v: long, pagerank: double] summing to 1.

    Multi-edges contribute multiply (weights are per-edge, as in a raw
    link table); pre-deduplicate upstream if simple-graph semantics are
    wanted.

    ``teleport``: optional DataFrame[v] of seed vertices for PERSONALIZED
    PageRank (Page et al. 1999 §6; Haveliwala, topic-sensitive PageRank,
    WWW'02 — public literature; no reference counterpart).  The teleport
    vector becomes p(v) = 1/|seeds| on seeds, 0 elsewhere: ranks start at
    p, the (1-d) restart and the dangling redistribution both flow to p
    instead of uniform 1/n.  Plan shape is unchanged — p rides in the
    held state the per-superstep left join already anchors on, so
    personalization costs zero extra shuffles per superstep.

    ``weight_col``: optional edge-weight column for WEIGHTED PageRank —
    each edge carries weight/Σ(out-weights of src) instead of
    1/out_degree (the host-rank composite rolls the page graph up to
    hosts and ranks them by link volume this way).  Only the ``links``
    precompute changes; the superstep plan is identical.

    ``block_size`` chains that many supersteps lazily into ONE Spark
    action (the dangling mass is folded in as an in-plan one-row
    aggregate, so no scalar collect is needed between sub-iterations) and
    checks convergence once per block on the L1 distance across the whole
    block — a conservative criterion, since per-step deltas shrink
    monotonically.  Iterate values are bit-identical to block_size=1; the
    only trade is convergence-check granularity against per-superstep
    fixed job cost, which is what limits scaling efficiency on fast
    supersteps.
    """
    verts = vertices(edges).persist()
    n = verts.count()

    pvec = None
    if teleport is not None:
        seeds = teleport.select("v").distinct()
        ns = seeds.count()
        if ns == 0:
            raise ValueError("personalized pagerank: teleport set is empty")
        pvec = verts.join(
            seeds.withColumn("s", F.lit(1)), "v", "left"
        ).select(
            "v",
            F.when(F.col("s").isNotNull(), F.lit(1.0 / ns))
            .otherwise(F.lit(0.0))
            .alias("p"),
        )

    if weight_col is None:
        out_deg = edges.groupBy("src").agg(F.count("*").alias("out_degree"))
        edge_w = F.lit(1.0) / F.col("out_degree")
    else:
        out_deg = edges.groupBy("src").agg(
            F.sum(weight_col).alias("out_degree")
        )
        edge_w = F.col(weight_col) / F.col("out_degree")
    links = (
        edges.join(out_deg, "src")
        .select("src", "dst", edge_w.alias("w"))
        .repartition("src")
        .persist()
    )
    links.count()

    # state: (v, rank, delta, dangling[, p]); the dangling flag makes the
    # next superstep's dangling mass a by-product of this superstep's
    # aggregate, and the held state is each superstep's join anchor, so
    # it carries every per-vertex attribute a superstep reads
    attrs = ["dangling"] if pvec is None else ["dangling", "p"]
    start_iteration = 0
    state0 = None
    if checkpointer is not None:
        found = checkpointer.load_latest(edges.sparkSession)
        if found is not None:
            start_iteration, state0 = found
    if state0 is None:
        state0 = verts.join(
            out_deg.select(F.col("src").alias("v"), F.lit(False).alias("nd")),
            "v",
            "left",
        )
        if pvec is not None:
            state0 = state0.join(pvec, "v")
        state0 = state0.select(
            "v",
            (F.lit(1.0 / n) if pvec is None else F.col("p")).alias("rank"),
            F.lit(1.0).alias("delta"),
            F.col("nd").isNull().alias("dangling"),
            *attrs[1:],
        )
    state0 = state0.persist()
    # one setup aggregate: dangling mass AND the dangling-existence flag
    row0 = state0.agg(
        F.sum(F.when(F.col("dangling"), F.col("rank"))).alias("dm"),
        F.max(F.col("dangling").cast("int")).alias("hd"),
    ).collect()[0]
    dangling_mass = row0["dm"] or 0.0
    has_dangling = bool(row0["hd"])
    carried = {"dangling_mass": dangling_mass}

    # rank-vector join strategy: broadcasting n rank rows is a serial
    # driver-side build per superstep; above ~100k vertices a shuffle-hash
    # join (ranks shuffle in parallel; cached links keep their partitioning)
    # measured ~20% faster per superstep and removes the Amdahl term
    use_shuffle_hash = join_strategy == "shuffle_hash" or (
        join_strategy == "auto" and n > 100_000
    )

    def _one_superstep(state: DataFrame, cur: DataFrame, dangling_mass_col):
        """One lazy superstep: cur(v, rank) -> state-shaped (v, rank, delta,
        dangling[, p]), delta measured against the held ``state``.  The
        new mass is left-joined onto ``state`` (a materialized leaf: the
        parquet reread, a cut or a persisted frame), never onto ``cur``,
        so the previous lazy sub-iteration is referenced exactly once
        (via the contribution sum) — the property that keeps chained
        blocks linear; a second reference would double the uncached plan
        per step (measured as 2^k blow-up)."""
        ranks = cur.select("v", "rank")
        if use_shuffle_hash:
            ranks = ranks.hint("shuffle_hash")
        contribs = links.join(ranks, links.src == ranks.v).select(
            "dst", (F.col("rank") * F.col("w")).alias("contrib")
        )
        if impl == "csr":
            partials = contribs.mapInPandas(
                _csr_partial_sums, "dst long, partial double"
            )
            sums = partials.groupBy("dst").agg(F.sum("partial").alias("mass"))
        else:
            sums = contribs.groupBy("dst").agg(F.sum("contrib").alias("mass"))
        if pvec is None:
            base = (
                F.lit((1.0 - damping) / n)
                + F.lit(damping / n) * dangling_mass_col
            )
        else:
            # restart and dangling mass both flow to the teleport vector
            base = (
                F.lit(1.0 - damping) * F.col("p")
                + F.lit(damping) * dangling_mass_col * F.col("p")
            )
        new_rank = base + F.lit(damping) * F.coalesce(F.col("mass"), F.lit(0.0))
        return state.join(sums, state.v == sums.dst, "left").select(
            "v",
            new_rank.alias("rank"),
            F.abs(new_rank - F.col("rank")).alias("delta"),
            *attrs,
        )

    effective_block = block_size if not has_dangling else 1
    # with dangling vertices the per-step mass depends on the previous
    # state twice (contributions + dangling sum), which cannot be chained
    # lazily without recomputation; fall back to one action per superstep

    aggs = [
        F.sum("delta").alias("l1"),
        F.sum(F.when(F.col("dangling"), F.col("rank"))).alias("dmass"),
        F.count("*").alias("rows"),
    ]

    def measure(row):
        carried["dangling_mass"] = row["dmass"] or 0.0
        return float(row["l1"]), int(row["rows"])

    def step(state: DataFrame, i: int):
        cur = state
        for j in range(effective_block):
            dmass = F.lit(carried["dangling_mass"]) if j == 0 else F.lit(0.0)
            # (dangling graphs have effective_block == 1, so the literal
            # carried mass is always current)
            cur = _one_superstep(state, cur, dmass)
        # the last sub-iteration's delta is the L1 distance across the
        # whole block
        return cur, aggs, measure

    import math as _math

    n_blocks = _math.ceil(max_iter / effective_block)
    result = iterate(
        state0,
        step,
        max_iter=n_blocks,
        tol=tol,
        checkpointer=checkpointer,
        start_iteration=start_iteration,
        checkpoint_every=checkpoint_every,
    )
    out = result.state.select("v", F.col("rank").alias("pagerank"))
    links.unpersist()
    verts.unpersist()
    if include_metrics:
        return out, result
    return out
