"""Deterministic random-walk corpus generation (DeepWalk-style).

Training-data pipelines over link graphs feed graph embeddings
(DeepWalk, KDD 2014; node2vec, KDD 2016 — public) with fixed-length
random-walk "sentences".  The reference engine has a seeded random walk
only INSIDE its clique-miner beam initialization (beam.rs:54-142,
single-machine); this operator is the distributed, corpus-scale form.

Determinism — the property that makes walks gate-able as data: the step
taken from vertex v at step i of walk (start, r) is

    idx = md5(f"{seed}|{start}|{r}|{i}|{v}")[:15 hex] mod deg(v)
    next = sorted-neighbor-list(v)[idx]

a pure function of (graph, seed), independent of partitioning, task
order, or retries.  md5 stays inside whole-stage codegen as a per-row
JVM expression (the interpreted-lambda trap lives in higher-order
functions, not projections — see BENCH/PLANS.md round 6), and the same
bytes are reproduced on the oracle side with hashlib.

Spark design: the neighbor list is never materialized per row — the
adjacency is indexed ONCE (row_number over (src, dst) minus 1, one
shuffle), co-partitioned with a degree table, and each step is

    walkers ⋈ deg(cur)  ->  idx = H mod deg  ->  ⋈ adj on (cur, idx)

two equi-joins shuffling only the walker rows (V × walks_per_vertex,
independent of E).  Walkers at dead ends (directed sinks) simply produce
no row and the walk ends.  Every step's walker frontier is a lineage
cut: the two-join plan would otherwise double against the previous leg.
At 10^12 edges the adjacency index is the one big shuffle; each of the L
steps then shuffles only the walker frontier — the standard
DeepWalk-on-Spark shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.superstep import cut_lineage, release
from .builders import symmetrized


def _step_hash(seed: int, step: int):
    """Codegen-friendly 60-bit hash of (seed, start, walk, step, cur)."""
    h = F.md5(
        F.concat_ws(
            "|",
            F.lit(str(seed)),
            F.col("start").cast("string"),
            F.col("walk").cast("string"),
            F.lit(str(step)),
            F.col("cur").cast("string"),
        )
    )
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long")


def random_walks(
    edges: DataFrame,
    walks_per_vertex: int = 1,
    length: int = 4,
    seed: int = 0,
    directed: bool = False,
) -> DataFrame:
    """(src, dst) -> DataFrame[start, walk, step, v]: ``walks_per_vertex``
    deterministic uniform random walks of ``length`` steps from every
    vertex (step 0 is the start vertex itself; shorter walks occur only
    at directed dead ends)."""
    # walks traverse the SIMPLE graph: self-loops dropped in both modes
    # (symmetrized() already drops them on the undirected path)
    adj_edges = (
        edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
        if directed
        else symmetrized(edges)
    )
    w = Window.partitionBy("src").orderBy("dst")
    # static tables are persisted, not lineage-cut: a cut leaf is an
    # opaque LogicalRDD that LOSES its output partitioning (see
    # BENCH/PLANS.md round 6), so every step's join would re-exchange
    # the full adjacency; persisted, the window's hash-partitioning by
    # src survives and each step exchanges only the walker frontier.
    # (cut_lineage is for ITERATIVE state, where persist compounds
    # Catalyst stats round over round — adj/deg never re-derive.)
    adj = adj_edges.distinct().select(
        "src", "dst", (F.row_number().over(w) - 1).alias("idx")
    ).persist()
    deg = adj.groupBy("src").agg(F.count("*").alias("deg")).persist()
    deg.count()
    spark = edges.sparkSession
    # the step join's key is (src, idx) but adj is cached hash(src)-
    # partitioned; by default Spark requires ALL cluster keys for
    # co-partitioning and would re-exchange the full adjacency EVERY
    # step.  Subset-key co-partitioning is correctness-neutral (equal
    # (src, idx) pairs share a hash(src) partition) and verified to drop
    # the adj-side Exchange entirely (InMemoryTableScan + Sort only).
    _CO_KEY = "spark.sql.requireAllClusterKeysForCoPartition"
    prev_co = spark.conf.get(_CO_KEY, "true")
    spark.conf.set(_CO_KEY, "false")

    try:
        starts = adj.select(F.col("src").alias("start")).distinct()
        walk_ids = F.explode(
            F.sequence(F.lit(0), F.lit(walks_per_vertex - 1))
        ).alias("walk")
        walkers = cut_lineage(
            starts.select("start", walk_ids).select(
                "start", "walk", F.col("start").alias("cur")
            )
        )
        legs = [walkers.select("start", "walk", F.lit(0).alias("step"),
                               F.col("cur").alias("v"))]
        leaves = [walkers]
        for step in range(1, length + 1):
            idx = F.pmod(_step_hash(seed, step), F.col("deg")).cast("int")
            nxt = (
                walkers.join(deg, walkers.cur == deg.src)
                .select("start", "walk", "cur", idx.alias("pick"))
                .join(
                    adj,
                    (F.col("cur") == adj.src) & (F.col("pick") == adj.idx),
                )
                .select("start", "walk", F.col("dst").alias("cur"))
            )
            # cut every step: the frontier is small (V x walks rows) and
            # the two-join plan would otherwise double against the
            # previous leg
            walkers = cut_lineage(nxt)
            leaves.append(walkers)
            legs.append(
                walkers.select("start", "walk", F.lit(step).alias("step"),
                               F.col("cur").alias("v"))
            )
        out = legs[0]
        for leg in legs[1:]:
            out = out.union(leg)
        result = cut_lineage(out)
        for leaf in leaves:
            release(leaf)
    finally:
        spark.conf.set(_CO_KEY, prev_co)
        adj.unpersist()
        deg.unpersist()
    return result


def node2vec_walks(
    edges: DataFrame,
    walks_per_vertex: int = 1,
    length: int = 4,
    p: float = 1.0,
    q: float = 1.0,
    seed: int = 0,
    directed: bool = False,
) -> DataFrame:
    """Second-order biased walks (node2vec, Grover & Leskovec, KDD 2016):
    the step from ``cur`` with predecessor ``prev`` weights each neighbor
    ``x`` by 1/p if x == prev (return), 1 if x is adjacent to prev
    (BFS-ish), else 1/q (DFS-ish), and samples proportionally.

    Determinism (the hash-gate property): the sample uses
    u = md5(seed|start|walk|step|prev|cur)[:15 hex] / 16^15 ∈ [0, 1) as
    the inverse-CDF threshold over the neighbor list in ascending-dst
    order — a pure function of (graph, seed).  The cumulative weights are
    a fixed-order sequential fold (window cumulative sum ordered by dst),
    the kernel mirror accumulates in the same order, and every float op
    (1/p, u*total, the running sum) is the same IEEE sequence on both
    sides, so even the biased walk is value-hash-gated.

    Spark design: step 1 (no predecessor) is the uniform indexed pick of
    ``random_walks``.  Steps >= 2 expand the frontier against the
    persisted adjacency (frontier × avg-degree rows — inherent to
    second-order walks, this is exactly the neighborhood the transition
    distribution is defined over), flag prev-adjacency with one more
    equi-join against the same adjacency, and pick via two window
    functions per (start, walk): cumulative weight and its lag.  Three
    frontier-sized exchanges per step, never an edge-table shuffle;
    lineage cut every step.
    """
    adj_edges = (
        edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
        if directed
        else symmetrized(edges)
    )
    w = Window.partitionBy("src").orderBy("dst")
    adj = adj_edges.distinct().select(
        "src", "dst", (F.row_number().over(w) - 1).alias("idx")
    ).persist()
    deg = adj.groupBy("src").agg(F.count("*").alias("deg")).persist()
    deg.count()
    spark = edges.sparkSession
    _CO_KEY = "spark.sql.requireAllClusterKeysForCoPartition"
    prev_co = spark.conf.get(_CO_KEY, "true")
    spark.conf.set(_CO_KEY, "false")
    try:
        starts = adj.select(F.col("src").alias("start")).distinct()
        walk_ids = F.explode(
            F.sequence(F.lit(0), F.lit(walks_per_vertex - 1))
        ).alias("walk")
        walkers = cut_lineage(
            starts.select("start", walk_ids).select(
                "start", "walk", F.col("start").alias("cur")
            )
        )
        legs = [walkers.select("start", "walk", F.lit(0).alias("step"),
                               F.col("cur").alias("v"))]
        leaves = [walkers]
        # step 1: uniform (no predecessor) — the random_walks pick
        if length >= 1:
            idx = F.pmod(_step_hash(seed, 1), F.col("deg")).cast("int")
            nxt = (
                walkers.join(deg, walkers.cur == deg.src)
                .select("start", "walk", "cur", idx.alias("pick"))
                .join(
                    adj,
                    (F.col("cur") == adj.src) & (F.col("pick") == adj.idx),
                )
                .select(
                    "start", "walk",
                    F.col("cur").alias("prev"), F.col("dst").alias("cur"),
                )
            )
            walkers = cut_lineage(nxt)
            leaves.append(walkers)
            legs.append(
                walkers.select("start", "walk", F.lit(1).alias("step"),
                               F.col("cur").alias("v"))
            )
        nbr_flag = adj.select(
            F.col("src").alias("prev"), F.col("dst").alias("cand"),
            F.lit(True).alias("is_nbr"),
        )
        for step in range(2, length + 1):
            cand = (
                walkers.join(adj, walkers.cur == adj.src)
                .select("start", "walk", "prev", "cur",
                        F.col("dst").alias("cand"))
                .join(nbr_flag, ["prev", "cand"], "left")
            )
            wt = (
                F.when(F.col("cand") == F.col("prev"), F.lit(1.0 / p))
                .when(F.col("is_nbr"), F.lit(1.0))
                .otherwise(F.lit(1.0 / q))
            )
            ww = Window.partitionBy("start", "walk").orderBy("cand")
            wp = Window.partitionBy("start", "walk")
            h = F.md5(
                F.concat_ws(
                    "|",
                    F.lit(str(seed)),
                    F.col("start").cast("string"),
                    F.col("walk").cast("string"),
                    F.lit(str(step)),
                    F.col("prev").cast("string"),
                    F.col("cur").cast("string"),
                )
            )
            u = (
                F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
                / F.lit(float(16 ** 15))
            )
            scored = cand.select(
                "start", "walk", "cur", "cand",
                F.sum(wt).over(ww).alias("cum"),
                u.alias("u"),
            ).select(
                "start", "walk", "cur", "cand", "cum", "u",
                F.lag("cum", 1, 0.0).over(ww).alias("lag_cum"),
                F.max("cum").over(wp).alias("total"),
            )
            thr = F.col("u") * F.col("total")
            nxt = scored.filter(
                (F.col("lag_cum") <= thr) & (F.col("cum") > thr)
            ).select(
                "start", "walk",
                F.col("cur").alias("prev"), F.col("cand").alias("cur"),
            )
            walkers = cut_lineage(nxt)
            leaves.append(walkers)
            legs.append(
                walkers.select("start", "walk", F.lit(step).alias("step"),
                               F.col("cur").alias("v"))
            )
        out = legs[0]
        for leg in legs[1:]:
            out = out.union(leg)
        result = cut_lineage(out)
        for leaf in leaves:
            release(leaf)
    finally:
        spark.conf.set(_CO_KEY, prev_co)
        adj.unpersist()
        deg.unpersist()
    return result
