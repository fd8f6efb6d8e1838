"""Distributed minimum spanning forest — Borůvka over DataFrames.

The reference engine's weighted family stops at fractional cores
(coreness.rs:267-316); a link-graph engine at web scale also needs the
classic weighted-connectivity primitive (host-graph backbone extraction,
correlation-graph sparsification before community detection).  Borůvka
(1926; the standard distributed MST — e.g. Chung & Condon, IPPS 1996) is
the MapReduce/Spark-shaped variant: every round each component selects
its minimum-weight outgoing edge, selected edges merge components, and
the component count at least halves, so rounds <= log2(V) regardless of
graph shape.

Determinism / uniqueness: edges are ordered by the composite key
(weight, src, dst) — a strict total order, equivalent to perturbing ties
into distinct weights — so THE minimum spanning forest is unique and
Borůvka's output equals Kruskal's (the sequential oracle,
kernels.kruskal_msf) edge-for-edge, independent of partitioning or
execution order.

Spark design, per round (all sides shrink geometrically):

- label edge endpoints with their current component (two joins against
  the component map), keep crossing edges only;
- per-component minimum incident crossing edge via ONE map-side-combining
  ``min(struct(weight, src, dst, other_component))`` aggregate — the
  shuffle carries one candidate row per (component, partition), never the
  edge list;
- the selected edges form a forest over components; merging them is a
  connected-components call on that component graph (<= #components
  rows — tiny next to the data graph), reusing the hash-min operator and
  inheriting its canonical min-id labels;
- the component map is re-joined against the merge labels; lineage is cut
  every round (stats-reset leaf) so the loop's plan stays flat.

Crossing edges strictly shrink every round (each component loses at
least one), so the loop terminates in <= ceil(log2 V) rounds — at
10^12 edges that is ~40 rounds of geometrically shrinking joins, each
shuffling the surviving crossing edges once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.superstep import cut_lineage, release
from .builders import vertices


def minimum_spanning_forest(
    edges: DataFrame, weight_col: str = "weight", max_rounds: int = 64
) -> DataFrame:
    """Weighted undirected edges (src, dst, <weight_col>) -> the unique
    minimum spanning forest under the total order (weight, src, dst).

    Returns DataFrame[src, dst, weight] with src < dst, one row per
    forest edge (V - #components rows in total)."""
    spark = edges.sparkSession

    # canonical undirected weighted form: parallel / reversed duplicates
    # keep the minimum composite key (the only one the MSF could use)
    canon = cut_lineage(
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.col(weight_col).cast("double").alias("w"),
        )
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
    )

    comp = cut_lineage(
        vertices(canon.select(F.col("a").alias("src"), F.col("b").alias("dst")))
        .select("v", F.col("v").alias("c"))
    )
    cur = canon
    # each round's picks is a cut leaf; the forest output is a lazy union
    # of projections over them, so the leaves stay live until the final
    # result materializes (deferred-release window)
    pick_leaves: list[DataFrame] = []
    for _ in range(max_rounds):
        ca = comp.select(F.col("v").alias("a"), F.col("c").alias("ca"))
        cb = comp.select(F.col("v").alias("b"), F.col("c").alias("cb"))
        # crossing edges under the current component map; intra-component
        # edges are dropped FOREVER (they can never re-cross), which is
        # what shrinks `cur` geometrically alongside the component count
        crossing = cut_lineage(
            cur.join(ca, "a").join(cb, "b").filter(F.col("ca") != F.col("cb"))
        )
        n_cross = crossing.count()
        if n_cross == 0:
            release(crossing)
            break
        cand = F.struct("w", "a", "b", F.col("other").alias("oc"))
        picks = (
            crossing.select(F.col("ca").alias("c"), "w", "a", "b",
                            F.col("cb").alias("other"))
            .union(
                crossing.select(F.col("cb").alias("c"), "w", "a", "b",
                                F.col("ca").alias("other"))
            )
            .groupBy("c")
            .agg(F.min(cand).alias("m"))
        )
        picks = cut_lineage(
            picks.select("c", "m.w", "m.a", "m.b", "m.oc")
        )
        pick_leaves.append(picks)
        # merge the selected component forest: tiny CC on component ids
        from .components import connected_components

        merge_labels = connected_components(
            picks.select(F.col("c").alias("src"), F.col("oc").alias("dst")),
            max_iter=max_rounds,
        )
        new_comp = cut_lineage(
            comp.join(
                merge_labels.withColumnsRenamed({"v": "c", "component": "nc"}),
                "c",
                "left",
            ).select("v", F.coalesce("nc", "c").alias("c"))
        )
        release(merge_labels)
        # crossing (minus the now-internal edges) is the next round's
        # edge set: already endpoint-labeled rows are re-labeled next
        # round anyway, so keep only the raw columns
        new_cur = cut_lineage(crossing.select("a", "b", "w"))
        release(comp)
        if cur is not canon:  # canon backs the empty-schema leg until return
            release(cur)
        release(crossing)
        comp, cur = new_comp, new_cur
    else:
        raise RuntimeError(
            f"minimum_spanning_forest: not converged in {max_rounds} rounds"
        )
    # an edge can be the minimum of BOTH its components — the final
    # distinct dedupes across rounds' legs in one pass
    out = canon.limit(0).select("a", "b", "w")
    for leaf in pick_leaves:
        out = out.union(leaf.select("a", "b", "w"))
    result = cut_lineage(
        out.distinct().select(
            F.col("a").alias("src"), F.col("b").alias("dst"),
            F.col("w").alias("weight"),
        )
    )
    if cur is not canon:
        release(cur)
    release(comp)
    release(canon)
    for leaf in pick_leaves:
        release(leaf)
    return result
