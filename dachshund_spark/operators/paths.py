"""Single-source shortest paths (unit weights) as BFS-frontier supersteps,
plus the shortest-path-DAG predecessor view.

Matches the reference's Dijkstra-on-unit-weights semantics
(shortest_paths.rs:19-77): distance = hop count; predecessors = every
in-neighbor on a shortest path; the source lists itself as a parent.
Golden values: tests/karate_club.rs:291-339.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.superstep import cut_lineage, release
from .builders import symmetrized


def bfs_distances(edges: DataFrame, source: int, max_depth: int = 10000) -> DataFrame:
    """DataFrame[v, dist] for vertices reachable from source (directed
    edges as given; symmetrize upstream for undirected semantics).

    Lineage discipline: each depth's plan references the previous
    ``dist`` TWICE (the frontier anti-join and the union), so the
    uncut logical plan doubles per depth — 2^k nodes between cuts, which
    by ~depth 8 OOMs the plan stringifier on a non-trivial base plan.
    Every 3 depths both the distance table AND the frontier are rebased
    onto the checkpoint leaf (the frontier is re-derived as
    ``dist == depth`` rather than kept as its own chained DataFrame,
    which would otherwise carry the uncut history across cut points)."""
    spark = edges.sparkSession
    adj = edges.select("src", "dst").repartition("src").persist()
    adj.count()
    dist = spark.createDataFrame([(int(source), 0)], "v long, dist int").persist()
    frontier = dist
    depth = 0
    # deferred-release window (the engine-wide lineage discipline): on
    # persist-only depths the new dist's recompute lineage still reads its
    # union predecessors, so superseded tables are freed only once a
    # lineage-free cut has materialized on top of them — never earlier
    window: list = []
    while depth < max_depth:
        depth += 1
        nxt = (
            adj.join(frontier, adj.src == frontier.v)
            .select(F.col("dst").alias("v"), F.lit(depth).alias("dist"))
            .distinct()
            .join(dist.select("v"), "v", "left_anti")
            .persist()
        )
        if nxt.count() == 0:
            release(nxt)
            break
        new_dist = dist.union(nxt)
        if depth % 3 == 0:
            new_dist = cut_lineage(new_dist)  # eager: lineage-free leaf
            new_frontier = new_dist.filter(F.col("dist") == depth)
            # everything older is now unreachable from anything live
            for p in (*window, dist, nxt):
                release(p)
            if frontier is not dist:
                release(frontier)
            window.clear()
        else:
            new_dist = new_dist.persist()
            new_dist.count()
            new_frontier = nxt  # stays live: it is the next message source
            window.append(dist)
            if frontier is not dist:
                window.append(frontier)
        dist = new_dist
        frontier = new_frontier
    if window:
        # exited mid-window: seal with one eager cut so the returned table
        # is lineage-free and the window can be released now
        prev = dist
        dist = cut_lineage(dist)
        for p in (*window, prev):
            release(p)
        if frontier is not prev:
            release(frontier)
        window.clear()
    elif frontier is not dist:
        release(frontier)
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

    Scale shape: exactly two bfs_distances runs (frontier supersteps with
    the every-3-depths lineage cut) plus three tiny driver reductions —
    no new shuffle machinery.  Both distance tables are released once
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
