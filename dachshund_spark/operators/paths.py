"""Single-source shortest paths (unit weights) as BFS-frontier supersteps,
plus the shortest-path-DAG predecessor view, and ``frontier_levels``: the
one level-by-level BFS that ``bfs_distances``, the bow-tie reachability
sweeps, ``harmonic_centrality`` and ``betweenness_superstep``'s forward
pass all run on.

Matches the reference's Dijkstra-on-unit-weights semantics
(shortest_paths.rs:19-77): distance = hop count; predecessors = every
in-neighbor on a shortest path; the source lists itself as a parent.
Golden values: tests/karate_club.rs:291-339.  The reference's Brandes
betweenness (betweenness.rs:57-96) runs on the same BFS.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.superstep import cut_lineage, release
from .builders import symmetrized


def frontier_levels(
    edges: DataFrame,
    seeds: DataFrame,
    keys: tuple[str, ...] = (),
    carry: str | None = None,
    symmetric: bool = False,
    *,
    max_depth: int,
) -> tuple[list[DataFrame], bool]:
    """Breadth-first levels from ``seeds`` along ``edges`` (src, dst):
    ``levels[d]`` holds the (``*keys``, v[, ``carry``]) rows first reached
    at depth d, ``levels[0]`` being the eager cut of ``seeds``.  ``keys``
    runs independent searches side by side (one per ``source``); ``carry``
    is summed over a vertex's parents (betweenness's shortest-path counts
    sigma), otherwise the candidates are ``distinct()``.  Returns
    ``(levels, exhausted)``: ``exhausted`` is False when ``max_depth``
    expansions ran without reaching an empty level.  The caller owns
    (and releases) every level.

    Each depth is one edge join, one aggregate and one anti-join against
    the visited window, cut lazily and materialized by that depth's
    ``count()``: one driver job per depth where an eager cut took two
    (BENCH/AB_LAZY_CUTS_r07.txt).  Only the NEW frontier is
    written per depth, never the accumulated visited state, and every
    level is a stat-free cut leaf, so Catalyst's size estimate stays
    bounded (``cut_lineage``).

    * The edge join is deliberately NOT ``shuffle_hash``-hinted: with
      keys the frontier is (source, v) pairs, up to |S|x|V| rows and
      routinely bigger than the edge table, so letting the planner
      broadcast the edge side when it fits beats shuffling the fat
      frontier (hinting it measured 54s -> 84s at sf0.1 in
      ``betweenness_superstep``); past the broadcast threshold the
      planner falls to sort-merge on its own.
    * ``carry`` is aggregated BEFORE the anti-join.  Broadcasting the
      visited set and dropping visited targets first rebuilt an
      O(|S|x|V|) broadcast every depth and cost more than the aggregate
      it saved (54s -> 104s at sf0.1); aggregate-first is also the only
      order that scales past a broadcastable visited set.
    * The visited window.  On a ``symmetric`` edge set a candidate
      reached from depth d is adjacent to a depth-d vertex, so its true
      distance is d-1, d or d+1: an already-visited candidate can only
      live in levels d or d-1, and anti-joining those two is
      result-identical to anti-joining every level (identical on every
      pair in BENCH/AB_VISITED_WINDOW_r07.txt) while scanning O(2 levels)
      instead of O(visited).  On a directed edge set an edge u->w with
      dist(u) = d bounds dist(w) only from above, so the window is every
      level.
    """
    cols, carried = [*keys, "v"], [carry] if carry else []
    levels = [cut_lineage(seeds.select(*cols, *carried))]
    while len(levels) <= max_depth:
        frontier = levels[-1]
        msgs = frontier.join(edges, frontier.v == edges.src).select(
            *keys, F.col("dst").alias("v"), *carried
        )
        if carry:
            cand = msgs.groupBy(*cols).agg(F.sum(carry).alias(carry))
        else:
            cand = msgs.distinct()
        window = levels[-2:] if symmetric else levels
        visited = reduce(DataFrame.union, [lv.select(*cols) for lv in window])
        new = cut_lineage(cand.join(visited, cols, "left_anti"), eager=False)
        if new.count() == 0:
            release(new)
            return levels, True
        levels.append(new)
    return levels, False


def bfs_distances(edges: DataFrame, source: int, max_depth: int = 10000) -> DataFrame:
    """DataFrame[v, dist] for vertices reachable from source within
    ``max_depth`` hops (directed edges as given; symmetrize upstream for
    undirected semantics): the ``frontier_levels`` of ``source``, each
    level tagged with its depth and unioned into one eager cut."""
    spark = edges.sparkSession
    # persisted by the first depth's count
    adj = edges.select("src", "dst").repartition("src").persist()
    seed = spark.createDataFrame([(int(source),)], "v long")
    levels, _ = frontier_levels(adj, seed, max_depth=max_depth)
    dist = cut_lineage(
        reduce(
            DataFrame.union,
            [lv.select("v", F.lit(d).alias("dist")) for d, lv in enumerate(levels)],
        )
    )
    for lv in levels:
        release(lv)
    adj.unpersist()
    return dist


def shortest_path_dag(edges: DataFrame, source: int) -> DataFrame:
    """DataFrame[v, parent] — all shortest-path predecessors: edges (u,v)
    with dist(u)+1 == dist(v), plus (source, source) per the reference's
    convention (shortest_paths.rs:652)."""
    spark = edges.sparkSession
    sym = symmetrized(edges)
    dist = bfs_distances(sym, source)
    du = dist.select(F.col("v").alias("src"), F.col("dist").alias("d_src"))
    dv = dist.select(F.col("v").alias("dst"), F.col("dist").alias("d_dst"))
    dag = (
        sym.join(du, "src")
        .join(dv, "dst")
        .filter(F.col("d_src") + 1 == F.col("d_dst"))
        .select(F.col("dst").alias("v"), F.col("src").alias("parent"))
    )
    self_parent = spark.createDataFrame(
        [(int(source), int(source))], "v long, parent long"
    )
    return dag.union(self_parent)


def undirected_bfs_distances(edges: DataFrame, source: int) -> DataFrame:
    return bfs_distances(symmetrized(edges), source)


def double_sweep_diameter(edges: DataFrame, max_depth: int = 10000) -> DataFrame:
    """Magnien-Latapy-Habib double sweep: a tight diameter LOWER bound in
    two BFS passes (exact eccentricity of the second endpoint), the
    standard first question asked of a crawled link graph ("how wide is
    the web?" — exact diameter is all-pairs and hopeless at 10^10
    vertices; the double sweep is 2 BFS and usually within 1-2 of exact).

    Undirected semantics (edges symmetrized here).  Sweep 1 starts from
    the minimum vertex id; the farthest vertex (tie: min id) seeds sweep
    2; the bound is sweep 2's max distance.  Both seed selections are
    deterministic, so the result is value-hash-gateable against a
    sequential BFS kernel.  Returns one row:
    (sweep1_source, sweep2_source, diameter_lower_bound).

    Scale shape: exactly two bfs_distances runs (one lazy frontier cut
    per depth) plus three tiny driver reductions — no new shuffle
    machinery.  Both distance tables are released once
    the bound is read."""
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).filter(F.col("src") != F.col("dst")).distinct()
    s1 = sym.agg(F.min("src")).collect()[0][0]
    if s1 is None:
        raise ValueError("double_sweep_diameter: empty edge table")
    d1 = bfs_distances(sym, int(s1), max_depth)
    far = (
        d1.orderBy(F.col("dist").desc(), F.col("v").asc()).limit(1).collect()[0]
    )
    release(d1)
    s2 = int(far["v"])
    d2 = bfs_distances(sym, s2, max_depth)
    bound = d2.agg(F.max("dist")).collect()[0][0]
    release(d2)
    spark = edges.sparkSession
    return spark.createDataFrame(
        [(int(s1), s2, int(bound))],
        "sweep1_source long, sweep2_source long, diameter_lower_bound int",
    )
