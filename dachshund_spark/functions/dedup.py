"""Deduplication operators over the ``documents`` table: exact,
MinHash+LSH, n-gram Jaccard, SimHash.

Design for scale:
* exact: one hash-groupBy on the md5 fingerprint — partial agg JVM-side.
* MinHash+LSH: shingle -> k simulated hash functions (md5 with a seed
  prefix; lexicographic min over fixed-width hex == numeric min) -> band
  buckets -> bucket self-join.  Only the bucket join shuffles, and only
  docs sharing a band collide, so the candidate set is near-linear.
* n-gram Jaccard: exploded-shingle equi-join restricted by a blocking key
  — exact but quadratic per block; used to verify candidates or on small
  blocks.
* SimHash: Arrow-batched pandas UDF (numpy bit arithmetic per batch) —
  64-bit signature; banded for candidate generation.

The md5-based hash simulation is deliberately chosen so every step is
bit-identical between Spark and the DuckDB oracle SQL.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType


def normalized_text(text: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def spread_small_input(df: DataFrame) -> DataFrame:
    """Round-robin repartition a NARROW scan up to the cluster's default
    parallelism — only when the scan yields fewer partitions (a one-row-
    group parquet file otherwise pins the whole shingle/hash pipeline to
    one task: the per-row compute here is orders of magnitude heavier
    than the scan, so a serial scan stage serializes the query).  At
    corpus scale the input has >= parallelism splits and this is a no-op
    with zero shuffle; the keyless repartition is deterministic (Spark
    sorts before round-robin partitioning, SPARK-23207)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical (normalized) documents:
    (rep_doc_id, dup_count, fingerprint) for groups with >1 member."""
    fp = docs.select(
        "doc_id", F.md5(F.encode(normalized_text(F.col("text")), "UTF-8")).alias("fingerprint")
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count("*").alias("dup_count"),
        )
        .filter(F.col("dup_count") > 1)
    )


def shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text (array<string>);
    documents shorter than n tokens get their whole text as one shingle."""
    tokens = F.split(normalized_text(text), " ")
    k = F.size(tokens) - (n - 1)
    grams = F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda j: F.array_join(F.slice(tokens, j, n), " "),
        ),
    ).otherwise(F.array(F.array_join(tokens, " ")))
    return F.array_distinct(grams)


def doc_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    return spread_small_input(docs).select(
        "doc_id", F.explode(shingles_col(F.col("text"), n)).alias("shingle")
    )


def minhash_signatures(
    docs: DataFrame, n: int = 3, num_hashes: int = 12
) -> DataFrame:
    """(doc_id, sig array<string>): sig[i] = min over shingles of
    md5(i || '|' || shingle).  Fixed-width hex, so string-min == numeric
    min of the 128-bit value."""
    ex = doc_shingles(docs, n)
    mins = [
        F.min(
            F.md5(F.encode(F.concat(F.lit(f"{i}|"), F.col("shingle")), "UTF-8"))
        ).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    agg = ex.groupBy("doc_id").agg(*mins)
    return agg.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def lsh_candidate_pairs(
    docs: DataFrame, n: int = 3, num_hashes: int = 12, bands: int = 4
) -> DataFrame:
    """Near-duplicate candidate pairs (doc_a < doc_b, band) from banded
    MinHash: two docs are candidates if any band of rows of their
    signatures agrees exactly."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(docs, n, num_hashes)
    band_cols = [
        F.md5(
            F.encode(
                F.array_join(
                    F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band), "|"
                ),
                "UTF-8",
            )
        ).alias("bucket")
        for b in range(bands)
    ]
    buckets = sigs.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(b) for b in range(bands)]).alias("band"),
                F.array(*band_cols).alias("bucket"),
            )
        ).alias("z"),
    ).select("doc_id", F.col("z.band").alias("band"), F.col("z.bucket").alias("bucket"))
    a = buckets.select(
        F.col("doc_id").alias("doc_a"), "band", "bucket"
    )
    b = buckets.select(
        F.col("doc_id").alias("doc_b"), "band", "bucket"
    )
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs >= threshold.
    ``block_col`` (e.g. "lang" or "source") restricts comparisons to equal
    blocking keys — the standard way to keep the shingle join near-linear.
    Returns (doc_a, doc_b, jaccard rounded to 6dp)."""
    ex = docs.select(
        "doc_id",
        *( [F.col(block_col)] if block_col else [] ),
        F.explode(shingles_col(F.col("text"), n)).alias("shingle"),
    )
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("sz"))
    join_keys = ["shingle"] + ([block_col] if block_col else [])
    a = ex.select(F.col("doc_id").alias("doc_a"), *join_keys)
    b = ex.select(F.col("doc_id").alias("doc_b"), *join_keys)
    inter = (
        a.join(b, join_keys)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


@pandas_udf(LongType())
def simhash64_udf(text: pd.Series) -> pd.Series:
    """Reference implementation of the 64-bit SimHash (python/numpy) —
    kept ONLY as the cross-check oracle for tests; the production path is
    the fully JVM-side ``simhash_signatures`` below, which computes
    bit-identical signatures with no Python in the plan."""
    import hashlib

    import numpy as np

    out = []
    cache: dict[str, int] = {}

    def token_hash(tok: str) -> int:
        h = cache.get(tok)
        if h is None:
            h = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:16], 16)
            cache[tok] = h
        return h

    for t in text:
        tokens = (t or "").lower().split()
        if not tokens:
            out.append(0)
            continue
        hashes = np.fromiter(
            (token_hash(tok) for tok in tokens), dtype=np.uint64, count=len(tokens)
        )
        bits = (
            (hashes[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
        ).astype(np.int64)
        votes = (2 * bits - 1).sum(axis=0)
        sig = np.uint64(0)
        for i in np.nonzero(votes > 0)[0]:
            sig |= np.uint64(1) << np.uint64(i)
        out.append(int(np.int64(sig)))
    return pd.Series(out)


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash long): 64-bit SimHash over whitespace tokens,
    token hash = first 16 hex chars of md5 — entirely JVM-side expressions
    (explode -> md5 -> per-bit vote sums in one hash aggregate), so the
    whole plan stays inside whole-stage codegen with map-side partial
    aggregation.  Bit-identical to ``simhash64_udf`` (tested) and to the
    DuckDB oracle SQL.

    Scale shape: |tokens| exploded rows, one groupBy(doc_id) with 64
    algebraic sums — linear, skew-free (doc_id is unique), no Python."""
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    h16 = F.substring(F.md5(F.encode(F.col("tok"), "UTF-8")), 1, 16)
    parts = toks.select(
        "doc_id",
        F.conv(F.substring(h16, 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(h16, 9, 8), 16, 10).cast("long").alias("lo"),
    )
    bit = lambda i: F.shiftright(
        F.col("lo") if i < 32 else F.col("hi"), i % 32
    ).bitwiseAND(F.lit(1))
    votes = parts.groupBy("doc_id").agg(
        *[F.sum(bit(i) * 2 - 1).alias(f"v{i}") for i in range(64)]
    )
    sig = F.lit(0).cast("long")
    for i in range(64):
        weight = -(2**63) if i == 63 else (1 << i)
        sig = sig + F.when(F.col(f"v{i}") > 0, F.lit(weight)).otherwise(F.lit(0))
    sigs = votes.select("doc_id", sig.alias("simhash"))
    # token-free documents (empty/whitespace/null text) hash to 0
    return (
        docs.select("doc_id")
        .join(sigs, "doc_id", "left")
        .select("doc_id", F.coalesce("simhash", F.lit(0)).alias("simhash"))
    )


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 10,
    n_tables: int = 16,
    seed: int = 42,
    dim: int | None = None,
    exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (vec_a, vec_b, cosine) with
    vec_a < vec_b and cosine >= threshold.

    ``exact=False`` (the scale default): hyperplane-LSH bucket self-join
    generates candidates, exact cosine re-checks them — only same-bucket
    vectors shuffle, so the pair set is near-linear on clustered corpora
    (the all-pairs cross join never happens).  Recall is governed by
    (n_planes, n_tables); the clustered-fixture pytest pins it >= 0.99 at
    the defaults.  ``exact=True`` is the all-pairs verification baseline.

    Pass ``dim`` explicitly in production (the hyperplane UDF closure
    needs it at plan time; the ``None`` convenience fallback probes one
    row, costing a driver action).
    """
    from .similarity import cosine_col, lsh_candidate_pairs_emb

    if dim is None:
        dim = len(embeddings.select("embedding").first()[0])
    if exact:
        a = embeddings.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
        )
        b = embeddings.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_emb"),
        )
        cands = a.crossJoin(b).filter(
            F.col("query_id") < F.col("neighbor_id")
        )
    else:
        cands = lsh_candidate_pairs_emb(
            embeddings, embeddings, n_planes, n_tables, seed, dim
        ).filter(F.col("query_id") < F.col("neighbor_id"))
    scored = cands.select(
        F.col("query_id").alias("vec_a"),
        F.col("neighbor_id").alias("vec_b"),
        cosine_col(
            F.col("q_emb").cast("array<double>"),
            F.col("c_emb").cast("array<double>"),
        ).alias("cosine"),
    )
    return scored.filter(F.col("cosine") >= threshold).select(
        "vec_a", "vec_b", F.round("cosine", 6).alias("cosine")
    )


def simhash_candidate_pairs(docs: DataFrame, bands: int = 4) -> DataFrame:
    """Hamming-near candidates: split the 64-bit signature into ``bands``
    16-bit bands; docs sharing any band are candidates (Hamming distance
    <= 64 - 64/bands guaranteed covered for distance < bands)."""
    width = 64 // bands
    sigs = simhash_signatures(docs)
    parts = [
        (
            F.shiftrightunsigned(F.col("simhash"), b * width)
            .bitwiseAND(F.lit((1 << width) - 1))
        ).alias(f"b{b}")
        for b in range(bands)
    ]
    banded = sigs.select("doc_id", *parts)
    stacked = banded.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(b) for b in range(bands)]).alias("band"),
                F.array(*[F.col(f"b{b}") for b in range(bands)]).alias("val"),
            )
        ).alias("z"),
    ).select("doc_id", F.col("z.band").alias("band"), F.col("z.val").alias("val"))
    a = stacked.select(F.col("doc_id").alias("doc_a"), "band", "val")
    b = stacked.select(F.col("doc_id").alias("doc_b"), "band", "val")
    return (
        a.join(b, ["band", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
