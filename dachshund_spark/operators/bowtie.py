"""Bow-tie decomposition of a directed graph (Broder et al., "Graph
structure in the web", WWW'00): every vertex is classified relative to
the largest strongly connected component —

- ``CORE``          — the giant SCC itself
- ``IN``            — reaches the core but is not in it
- ``OUT``           — reachable from the core but not in it
- ``TENDRIL_TUBE``  — weakly connected to the core, but neither reaches
                      nor is reached by it (Broder's tendrils + tubes,
                      reported as one class)
- ``DISCONNECTED``  — not even weakly connected to the core

The reference engine has no bow-tie transformer (its connectivity family,
connected_components.rs:26-155, stops at component membership); this is a
web-native composite built entirely from the engine's own gated
primitives: ``strongly_connected_components`` (true-SCC fwd/bwd min-label
peeling), ``weakly_connected_components`` (hash-min label propagation),
and two frontier BFS reachability sweeps from the core — each a
per-depth cut-leaf loop with one edge join + one anti-join per depth,
the same O(|E|)-per-superstep shape PageRank runs at 100 TB.

IN and OUT cannot overlap outside the core (a vertex both reaching and
reached by the core would be strongly connected to it, contradicting SCC
maximality), so the classification is a disjoint partition.  The giant
SCC is picked by (size DESC, component label ASC) — labels are canonical
min-ids on both the distributed and the sequential side, so tie-breaking
is deterministic and engine-independent (kernel mirror:
functions.kernels.bowtie).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.superstep import cut_lineage, release
from .builders import vertices
from .components import (
    strongly_connected_components,
    weakly_connected_components,
)


def _reach_from(edges: DataFrame, seeds: DataFrame, max_depth: int) -> DataFrame:
    """Vertices reachable from ``seeds`` along ``edges`` in 1..max_depth
    hops, EXCLUDING the seeds themselves: per-depth frontier expansion,
    each level an eager cut leaf, dedup via anti-join against the lazy
    union of prior levels (the harmonic/betweenness forward discipline).
    Returns an eager cut DataFrame[v]; all intermediate levels freed."""
    levels = [cut_lineage(seeds.select("v"))]
    depth = 0
    while depth < max_depth:
        frontier = levels[depth]
        msgs = (
            frontier.join(edges, frontier.v == edges.src)
            .select(F.col("dst").alias("v"))
            .distinct()
        )
        visited = levels[0]
        for lv in levels[1:]:
            visited = visited.union(lv)
        new = cut_lineage(msgs.join(visited, ["v"], "left_anti"))
        if new.count() == 0:
            release(new)
            break
        levels.append(new)
        depth += 1
    else:
        raise RuntimeError(
            f"bowtie reachability: BFS did not exhaust in {max_depth} "
            "levels; raise max_depth"
        )
    if depth == 0:
        for lv in levels:
            release(lv)
        spark = edges.sparkSession
        return cut_lineage(spark.createDataFrame([], "v long"))
    reached = levels[1]
    for lv in levels[2:]:
        reached = reached.union(lv)
    out = cut_lineage(reached)
    for lv in levels:
        release(lv)
    return out


def bowtie_decomposition(
    edges: DataFrame,
    max_outer: int = 80,
    max_iter: int = 200,
    max_depth: int = 200,
) -> DataFrame:
    """(src, dst) -> DataFrame[v, category] with category in
    {CORE, IN, OUT, TENDRIL_TUBE, DISCONNECTED} (see module docstring).

    Self-loops are dropped and parallel edges deduped up front (a
    self-loop neither creates nor joins an SCC of size > 1); the vertex
    universe is every endpoint of the simple digraph."""
    e = cut_lineage(
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    verts = cut_lineage(vertices(e))

    scc = strongly_connected_components(e, max_outer=max_outer, max_iter=max_iter)
    giant = (
        scc.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("component"))
        .limit(1)
        .collect()[0]["component"]
    )
    core = cut_lineage(
        scc.filter(F.col("component") == giant).select("v")
    )
    release(scc)

    out_reach = _reach_from(e, core, max_depth)
    rev = cut_lineage(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    in_reach = _reach_from(rev, core, max_depth)
    release(rev)

    # a projection of the label state, which release(wcc) frees
    wcc = weakly_connected_components(e)
    # the weak component CONTAINING the core (not merely the largest):
    # Broder's DISCONNECTED is "not weakly connected to the core".  The
    # core's min vertex pins it deterministically in one tiny action.
    core_wcc = (
        wcc.join(core, "v").agg(F.min("component").alias("c")).collect()[0]["c"]
    )

    out = cut_lineage(
        verts.join(core.withColumn("in_core", F.lit(True)), "v", "left")
        .join(in_reach.withColumn("in_in", F.lit(True)), "v", "left")
        .join(out_reach.withColumn("in_out", F.lit(True)), "v", "left")
        .join(wcc, "v", "left")
        .select(
            "v",
            F.when(F.col("in_core"), F.lit("CORE"))
            .when(F.col("in_in"), F.lit("IN"))
            .when(F.col("in_out"), F.lit("OUT"))
            .when(F.col("component") == core_wcc, F.lit("TENDRIL_TUBE"))
            .otherwise(F.lit("DISCONNECTED"))
            .alias("category"),
        )
    )
    for df in (e, verts, core, out_reach, in_reach, wcc):
        release(df)
    return out
