"""Triangle counting, clustering coefficients, transitivity (north_rule op).

Semantics: per-node triangle participation over the *deduplicated* simple
graph, exactly the reference's set-intersection counts
(transitivity.rs:20-51, clustering.rs:20-46).

Self-loops: these distributed operators normalize through
``canonical_undirected``, which drops self-loops; the pure-Python kernel
builder (kernels.build_undirected_adj) keeps v ∈ N(v) to match the
reference's adjacency.  Parity checks between the two therefore assume
loop-free input — every driver-derived fixture (co-purchase, event-chain)
is loop-free by construction (src <> dst filters).

Scale design — degree-ordered wedge enumeration:
  1. canonicalize edges (u < v, distinct),
  2. orient every edge from the lower-(degree, id) endpoint to the higher
     one; every triangle then has exactly one "apex" vertex with two
     out-edges, so the wedge self-join generates each triangle once and
     the join fan-out is bounded by O(m^1.5) instead of Σdeg² — the
     standard trick for power-law graphs where hub-centered wedges would
     otherwise explode,
  3. close wedges with a semi-ish inner join back onto the oriented edges,
  4. explode each found triangle to its three corners and aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.superstep import cut_lineage, project, release
from .builders import canonical_undirected


def _degrees(canon: DataFrame) -> DataFrame:
    """DataFrame[v, degree] of canonical edges: each row is already one
    distinct undirected edge, so nothing is re-canonicalized."""
    return (
        canon.select(F.col("src").alias("v"))
        .union(canon.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("degree"))
    )


def _oriented(canon: DataFrame, deg: DataFrame) -> DataFrame:
    """Canonical edges re-oriented from lower (degree, id) to higher."""
    e = (
        canon.join(deg.withColumnRenamed("v", "src"), "src")
        .withColumnRenamed("degree", "deg_src")
        .join(
            deg.withColumnRenamed("v", "dst").withColumnRenamed("degree", "deg_dst"),
            "dst",
        )
    )
    lower_first = (F.col("deg_src") < F.col("deg_dst")) | (
        (F.col("deg_src") == F.col("deg_dst")) & (F.col("src") < F.col("dst"))
    )
    return e.select(
        F.when(lower_first, F.col("src")).otherwise(F.col("dst")).alias("a"),
        F.when(lower_first, F.col("dst")).otherwise(F.col("src")).alias("b"),
    )


def _triples(canon: DataFrame, deg: DataFrame) -> DataFrame:
    """``triangle_triples`` of canonical edges with their degrees."""
    o = _oriented(canon, deg).persist()
    e1 = o.select(F.col("a"), F.col("b").alias("u"))
    e2 = o.select(F.col("a"), F.col("b").alias("w"))
    wedges = e1.join(e2, "a").filter(F.col("u") < F.col("w"))
    closing = canon.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    tri = cut_lineage(
        wedges.join(closing, ["u", "w"]).select(
            F.col("a").alias("x"), F.col("u").alias("y"), F.col("w").alias("z")
        )
    )
    o.unpersist()
    return tri


def _with_triangles(deg: DataFrame, tri: DataFrame) -> DataFrame:
    """DataFrame[v, degree, triangles]: ``deg`` plus the number of
    triples in ``tri`` touching each vertex (0 when none does)."""
    corners = (
        tri.select(F.col("x").alias("v"))
        .union(tri.select(F.col("y").alias("v")))
        .union(tri.select(F.col("z").alias("v")))
    )
    counts = corners.groupBy("v").agg(F.count("*").alias("triangles"))
    return deg.join(counts, "v", "left").select(
        "v", "degree", F.coalesce("triangles", F.lit(0)).alias("triangles")
    )


def triangle_triples(edges: DataFrame) -> DataFrame:
    """One row (x, y, z) per distinct triangle.

    The result is MATERIALIZED (lineage-cut leaf): every consumer fans
    the triple set into several projections (corner explosion, per-edge
    explosion), and a lazy plan would re-run the wedge join — and
    re-build its broadcast hash maps — once per branch.  The cut also
    lets the oriented intermediate be unpersisted before returning."""
    canon = canonical_undirected(edges)
    return _triples(canon, _degrees(canon))


def _per_vertex(edges: DataFrame, *cols) -> DataFrame:
    """``cols`` of ``_with_triangles`` over ``edges``, carrying the
    triangle cut's release handle: ``release(out)`` frees the cut the
    lazy frame reads."""
    canon = canonical_undirected(edges)
    deg = _degrees(canon)
    tri = _triples(canon, deg)
    return project(_with_triangles(deg, tri), *cols, cut=tri)


def triangle_counts(edges: DataFrame) -> DataFrame:
    """DataFrame[v, triangles] — triangles touching each vertex; vertices in
    no triangle appear with 0 (cf. transitivity.rs:20-34).  ``release``
    the result once nothing reads it."""
    return _per_vertex(edges, "v", "triangles")


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """DataFrame[v, degree, coefficient] with coefficient = 2*tri/(d*(d-1));
    null when degree <= 1 (cf. clustering.rs:20-39).  ``release`` the
    result once nothing reads it."""
    return _per_vertex(
        edges,
        "v",
        "degree",
        F.when(
            F.col("degree") > 1,
            2.0 * F.col("triangles") / (F.col("degree") * (F.col("degree") - 1)),
        ).alias("coefficient"),
    )


def avg_clustering(edges: DataFrame) -> float:
    cc = clustering_coefficients(edges)
    row = cc.agg(F.avg("coefficient").alias("c")).collect()[0]
    release(cc)
    return row["c"]


def transitivity(edges: DataFrame) -> float:
    """3*T / #triples (cf. transitivity.rs:43-51)."""
    return global_stats(edges)["transitivity"]


def global_stats(edges: DataFrame) -> dict:
    """One-pass summary: vertices, edges, triangles, transitivity,
    avg clustering.  The canonical, degree and oriented tables are each
    built once, and nothing stays persisted after the call."""
    canon = canonical_undirected(edges).persist()
    deg = _degrees(canon).persist()
    tri = _triples(canon, deg)
    agg = _with_triangles(deg, tri).agg(
        F.count("*").alias("vertices"),
        (F.sum("degree") / 2).alias("edges"),
        (F.sum("triangles") / 3).alias("triangles"),
        F.sum(F.col("degree") * (F.col("degree") - 1) / 2).alias("triples"),
        F.avg(
            F.when(
                F.col("degree") > 1,
                2.0 * F.col("triangles") / (F.col("degree") * (F.col("degree") - 1)),
            )
        ).alias("avg_clustering"),
    ).collect()[0]
    release(tri)
    canon.unpersist()
    deg.unpersist()
    return {
        "vertices": agg["vertices"],
        "edges": int(agg["edges"]),
        "triangles": int(agg["triangles"]),
        "transitivity": 3.0 * agg["triangles"] / agg["triples"]
        if agg["triples"]
        else float("nan"),
        "avg_clustering": agg["avg_clustering"],
    }
