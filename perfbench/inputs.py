"""Seeded benchmark inputs.  The package only ever sees these outputs.

* Crawl pages come from the package's own ``synthesize_pages`` (pure
  DataFrame SQL, deterministic in its seed).
* The co-purchase graph mimics TPC-H ``lineitem`` self-joined on the order
  key (``__spark_entry__.copurchase_edges``), generated here instead of read
  from disk: orders pick 2..6 parts, nine in ten from the order's own
  category of ``width`` parts, so the graph is dense communities joined by
  random cross links.  Its shape is fixed (``GRAPH_SEED``): peel depth and
  BFS depth, which set most of the run time, would otherwise change with
  the seed.  The workload seed relabels vertex ids by an affine bijection
  of [0, 2^31 - 1), which moves every id (and with it hash partitioning,
  id-order tie breaks and the sampled betweenness sources) while keeping
  the graph isomorphic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

PRIME = 2**31 - 1
GRAPH_SEED = 3


def relabel_params(seed: int) -> tuple[int, int]:
    """(a, b) of the bijection v -> (a*v + b) mod PRIME; a is never 0."""
    a = 1 + (seed * 2654435761 + 97) % (PRIME - 1)
    b = (seed * 40503 + 7919) % PRIME
    return a, b


def relabel(col: Column, seed: int) -> Column:
    a, b = relabel_params(seed)
    return F.pmod(col * F.lit(a) + F.lit(b), F.lit(PRIME))


def unrelabel(v: int, seed: int) -> int:
    a, b = relabel_params(seed)
    return (v - b) * pow(a, -1, PRIME) % PRIME


def copurchase_edges(
    spark: SparkSession, seed: int, parts: int, orders: int, width: int
) -> DataFrame:
    """Canonical (src < dst) co-purchase edges over part ids relabelled by
    ``seed``."""
    categories = parts // width

    def h(*cols):
        return F.xxhash64(*cols, F.lit(GRAPH_SEED))

    o = spark.range(orders).select(
        F.col("id").alias("o"),
        F.pmod(h("id"), F.lit(categories)).alias("c"),
        (F.pmod(h("id", F.lit(1)), F.lit(5)) + 2).cast("int").alias("k"),
    )
    lines = o.select("o", "c", F.explode(F.sequence(F.lit(1), "k")).alias("j"))
    local = F.col("c") * width + F.pmod(h("o", "j"), F.lit(width))
    cross = F.pmod(h("o", "j", F.lit(2)), F.lit(parts))
    lines = lines.select(
        "o",
        relabel(
            F.when(F.pmod(h("o", "j", F.lit(3)), F.lit(10)) == 0, cross)
            .otherwise(local),
            seed,
        ).alias("p"),
    )
    a, b = lines.alias("a"), lines.alias("b")
    return (
        a.join(b, "o")
        .filter(F.col("a.p") != F.col("b.p"))
        .select(
            F.least("a.p", "b.p").alias("src"),
            F.greatest("a.p", "b.p").alias("dst"),
        )
        .distinct()
    )
