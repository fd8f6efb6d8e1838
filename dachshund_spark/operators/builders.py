"""Edge-table construction and normalization — the DataFrame equivalents of
the reference's graph builders.

Column conventions used engine-wide:
  edges:        src: long, dst: long  (+ weight: double, + graph_id: long)
  vertex state: v: long, <value column(s)>

Reference parity:
  * simple undirected build = canonical dedup (least/greatest + distinct);
    cf. simple_undirected_graph_builder.rs:79-122
  * weighted last-wins dedup; cf. weighted_undirected_graph_builder.rs:21-73
    and tests/weighted_graph.rs:74-84 (needs an explicit input-order column
    because "last" is undefined in a parallel read)
  * typed-graph min-degree prune ≡ iterative anti-join peel;
    cf. typed_graph_builder.rs:174-228
  * synthetic generators; cf. simple_undirected_graph_builder.rs:26-77
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def edges_df(spark: SparkSession, edges, weighted: bool = False) -> DataFrame:
    """Materialize a python edge list as an edge DataFrame (test/fixture
    helper)."""
    if weighted:
        return spark.createDataFrame(
            [(int(u), int(v), float(w)) for u, v, w in edges],
            "src long, dst long, weight double",
        )
    return spark.createDataFrame(
        [(int(u), int(v)) for u, v in edges], "src long, dst long"
    )


def canonical_undirected(edges: DataFrame) -> DataFrame:
    """One row per undirected edge with src < dst; drops self-loops and
    duplicates (including reversed duplicates).  This is the normalized
    storage form — the analog of the reference's BTreeSet adjacency."""
    return (
        edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def symmetrized(edges: DataFrame) -> DataFrame:
    """Both directions of each undirected edge — the join-ready adjacency
    view used by gather-scatter supersteps (each undirected edge stored on
    both endpoints, like the reference's symmetric insert)."""
    canon = canonical_undirected(edges)
    return canon.union(canon.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def weighted_canonical(edges: DataFrame, order_col: str | None = None) -> DataFrame:
    """Undirected weighted dedup with last-weight-wins.

    "Last" follows ``order_col`` when given (an explicit input-sequence
    column — the distributed replacement for the reference's sequential
    read order); otherwise ties break on the max weight-carrying row by
    (weight) for determinism.
    """
    canon = edges.select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
        "weight",
        *([order_col] if order_col else []),
    )
    if order_col:
        return canon.groupBy("src", "dst").agg(
            F.max_by("weight", F.col(order_col)).alias("weight")
        )
    return canon.groupBy("src", "dst").agg(F.max("weight").alias("weight"))


def vertices(edges: DataFrame) -> DataFrame:
    """Distinct vertex ids appearing at either endpoint."""
    return (
        edges.select(F.col("src").alias("v"))
        .union(edges.select(F.col("dst").alias("v")))
        .distinct()
    )


def degrees(edges: DataFrame) -> DataFrame:
    """Distinct-neighbor degree per vertex of the undirected graph."""
    return (
        symmetrized(edges)
        .groupBy(F.col("src").alias("v"))
        .agg(F.count("*").alias("degree"))
    )


def min_degree_prune(edges: DataFrame, min_degree: int, max_iter: int = 100) -> DataFrame:
    """Iteratively remove vertices with degree < min_degree until fixpoint;
    returns the surviving canonical edge set, the edges of the
    ``min_degree``-core.  DataFrame form of typed_graph_builder.rs:174-228
    (trim_edges/prune); raises ``RuntimeError`` if ``max_iter`` peel
    rounds do not reach the fixpoint."""
    from .coreness import k_core_vertices

    core = k_core_vertices(edges, min_degree, max_iter)
    return (
        canonical_undirected(edges)
        .join(core.withColumnRenamed("v", "src"), "src", "left_semi")
        .join(core.withColumnRenamed("v", "dst"), "dst", "left_semi")
        .select("src", "dst")
    )


# ---------------------------------------------------------------------------
# Synthetic generators (cf. simple_undirected_graph_builder.rs:26-77)
# ---------------------------------------------------------------------------


def complete_graph(spark: SparkSession, n: int) -> DataFrame:
    """All pairs over ids 1..n."""
    a = spark.range(1, n + 1).select(F.col("id").alias("src"))
    b = spark.range(1, n + 1).select(F.col("id").alias("dst"))
    return a.crossJoin(b).filter(F.col("src") < F.col("dst"))


def path_graph(spark: SparkSession, n: int) -> DataFrame:
    return spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )


def cycle_graph(spark: SparkSession, n: int) -> DataFrame:
    return spark.range(n).select(
        F.col("id").alias("src"), F.pmod(F.col("id") + 1, F.lit(n)).alias("dst")
    )


def erdos_renyi_graph(spark: SparkSession, n: int, p: float, seed: int = 42) -> DataFrame:
    """Each pair kept with probability p; deterministic given the seed
    (hash-based, not rand(), so re-evaluation is stable)."""
    a = spark.range(1, n + 1).select(F.col("id").alias("src"))
    b = spark.range(1, n + 1).select(F.col("id").alias("dst"))
    pairs = a.crossJoin(b).filter(F.col("src") < F.col("dst"))
    # uniform in [0,1) from a 64-bit hash — deterministic under retries
    u = (F.pmod(F.xxhash64("src", "dst", F.lit(seed)), F.lit(1 << 30))) / float(1 << 30)
    return pairs.filter(u < p)


def with_cliques(edges: DataFrame, cliques: list[list[int]]) -> DataFrame:
    """Union the input with all within-clique pairs (clique seeding;
    cf. SimpleUndirectedGraphBuilderWithCliques,
    simple_undirected_graph_builder.rs:136-155; tested
    tests/karate_club.rs:706-733)."""
    spark = edges.sparkSession
    rows = []
    for clique in cliques:
        s = sorted(set(clique))
        for i, u in enumerate(s):
            for v in s[i + 1 :]:
                rows.append((u, v))
    if not rows:
        return canonical_undirected(edges)
    extra = spark.createDataFrame(rows, "src long, dst long")
    return canonical_undirected(edges.select("src", "dst").union(extra))
