"""Similarity search over an embedding column (array<float>).

* ``cosine_topk`` — exact brute-force top-k neighbors, all JVM-side
  (``zip_with`` + ``aggregate`` dot products inside whole-stage codegen);
  the baseline and the verifier for the approximate path.
* ``lsh_bucketed_topk`` — random-hyperplane LSH: a deterministic
  pseudo-random projection matrix (seeded, recomputed identically on every
  executor) maps each embedding to a bucket id via an Arrow-batched pandas
  UDF (one numpy matmul per batch); candidates = same-bucket vectors
  (multi-probe over ``n_tables`` independent tables), then exact cosine
  re-rank.  This is the 100 TB path: the cross join collapses to a
  bucket-key equi-join.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    embeddings: (vec_id, embedding); queries: (vec_id, embedding).
    Returns (query_id, neighbor_id, cosine, rank) excluding self-matches;
    ties broken by neighbor_id for determinism.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_col(
                F.col("q_emb").cast("array<double>"),
                F.col("c_emb").cast("array<double>"),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def ann_recall(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """recall@k of the LSH-bucketed path against the exact brute-force
    baseline, per query: |topk_lsh ∩ topk_exact| / k.  The driver-gate
    quality check for the approximate similarity path."""
    exact = cosine_topk(embeddings, queries, k).select(
        "query_id", "neighbor_id"
    )
    approx = lsh_bucketed_topk(
        embeddings, queries, k, n_planes, n_tables, seed, dim
    ).select("query_id", "neighbor_id")
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hit"))
    )
    qs = exact.select("query_id").distinct()
    return qs.join(hits, "query_id", "left").select(
        "query_id",
        F.round(F.coalesce("n_hit", F.lit(0)) / F.lit(float(k)), 6).alias(
            "recall"
        ),
    )


def synthesize_clustered_embeddings(
    spark,
    n: int,
    dim: int = 32,
    n_clusters: int = 50,
    sigma: float = 0.1,
    seed: int = 7,
    partitions: int = 8,
) -> DataFrame:
    """Deterministic mixture-of-Gaussians embedding table
    (vec_id, embedding array<float>): vector i belongs to cluster
    ``i % n_clusters``; value = unit-norm cluster center + sigma * noise,
    both drawn from ``np.random.default_rng`` streams keyed ONLY by
    (seed, cluster) / (seed, vec_id) — executor- and partitioning-
    independent, so the in-process oracle regenerates the exact bytes.

    This is the fixture that demonstrates the LSH scale win: on clustered
    data (real corpora), same-cluster vectors collide in nearly every
    hash table while cross-cluster vectors almost never do, so the
    candidate set is a small fraction of the corpus at recall ~1."""
    import pandas as pd  # noqa: F811 (kept local for mapInPandas pickling)

    def gen(batches):
        import numpy as np

        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["id"].to_numpy()
            vecs = []
            for i in ids:
                c = int(i) % n_clusters
                center = np.random.default_rng(seed * 1_000_003 + c).standard_normal(dim)
                center /= np.linalg.norm(center)
                noise = np.random.default_rng(
                    seed * 2_000_003 + int(i)
                ).standard_normal(dim)
                vecs.append((center + sigma * noise).astype(np.float32).tolist())
            yield pd.DataFrame({"vec_id": ids, "embedding": vecs})

    return (
        spark.range(0, n, 1, partitions)
        .select(F.col("id"))
        .mapInPandas(gen, "vec_id long, embedding array<float>")
    )


def lsh_candidate_pairs_emb(
    embeddings: DataFrame,
    queries: DataFrame,
    n_planes: int,
    n_tables: int,
    seed: int,
    dim: int,
) -> DataFrame:
    """Deduped same-bucket (query_id, neighbor_id, q_emb, c_emb)
    candidates over ``n_tables`` hyperplane tables, self-matches removed —
    the shared candidate-generation stage of the approximate path."""
    cand_frames = []
    for t in range(n_tables):
        udf = _bucket_udf(dim, n_planes, seed, t)
        qb = queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            udf(F.col("embedding")).alias("bucket"),
        )
        cb = embeddings.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_emb"),
            udf(F.col("embedding")).alias("bucket"),
        )
        cand_frames.append(
            qb.join(cb, "bucket").select(
                "query_id", "neighbor_id", "q_emb", "c_emb"
            )
        )
    cands = cand_frames[0]
    for f in cand_frames[1:]:
        cands = cands.union(f)
    return cands.dropDuplicates(["query_id", "neighbor_id"]).filter(
        F.col("query_id") != F.col("neighbor_id")
    )


def ann_recall_stats(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 12,
    n_tables: int = 16,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Per query: recall@k of the LSH path vs the exact baseline AND the
    candidate fraction (candidates examined / possible neighbors) — the
    pruning evidence that justifies the approximate path at scale.
    Returns (query_id, recall, cand_fraction)."""
    if dim is None:
        dim = len(embeddings.select("embedding").first()[0])
    from ..plans.superstep import cut_lineage

    n_total = embeddings.count()
    cands = lsh_candidate_pairs_emb(
        embeddings, queries, n_planes, n_tables, seed, dim
    ).persist()
    # both consumers of the (large) candidate table are tiny — per-query
    # counts and a top-k — so materialize them eagerly and drop the
    # candidate cache before returning instead of leaking it for the
    # session lifetime
    n_cand = cut_lineage(
        cands.groupBy("query_id").agg(F.count("*").alias("n_cand"))
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        cosine_col(
            F.col("q_emb").cast("array<double>"),
            F.col("c_emb").cast("array<double>"),
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    approx = cut_lineage(
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
    )
    cands.unpersist()
    exact = cosine_topk(embeddings, queries, k).select(
        "query_id", "neighbor_id"
    )
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hit"))
    )
    qs = exact.select("query_id").distinct()
    return (
        qs.join(hits, "query_id", "left")
        .join(n_cand, "query_id", "left")
        .select(
            "query_id",
            F.round(
                F.coalesce("n_hit", F.lit(0)) / F.lit(float(k)), 6
            ).alias("recall"),
            F.round(
                F.coalesce("n_cand", F.lit(0)) / F.lit(float(n_total - 1)), 6
            ).alias("cand_fraction"),
        )
    )


def lsh_planes(dim: int, n_planes: int, seed: int, table: int):
    """The deterministic hyperplane matrix for one LSH table — shared by
    the Spark UDF and the in-process kernel oracle."""
    import numpy as np

    rng = np.random.default_rng(seed * 1_000_003 + table)
    return rng.standard_normal((dim, n_planes))


def _bucket_udf(dim: int, n_planes: int, seed: int, table: int):
    @pandas_udf(LongType())
    def bucket(emb: pd.Series) -> pd.Series:
        import numpy as np

        planes = lsh_planes(dim, n_planes, seed, table)
        # one vectorized conversion of the whole Arrow batch — no per-row
        # python: the list array flattens to a contiguous (n*dim) buffer
        mat = np.vstack(emb.to_numpy()).astype(np.float64, copy=False)
        bits = (mat @ planes) > 0
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        return pd.Series((bits @ weights).astype(np.int64))

    return bucket


def lsh_bucketed_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: union of same-bucket candidates over
    ``n_tables`` hyperplane tables, exact cosine re-rank.  Deterministic
    given the seed.  This is the scale default for similarity search —
    the bucket equi-join replaces ``cosine_topk``'s cross join; use
    ``cosine_topk`` only as the verification baseline.

    Pass ``dim`` explicitly at scale (it is schema metadata); the
    ``.first()`` fallback is a convenience for ad-hoc use only."""
    if dim is None:
        dim = len(embeddings.select("embedding").first()[0])
    cands = lsh_candidate_pairs_emb(
        embeddings, queries, n_planes, n_tables, seed, dim
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        cosine_col(
            F.col("q_emb").cast("array<double>"),
            F.col("c_emb").cast("array<double>"),
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the second scale path next to hyperplane LSH:
# a coarse k-means quantizer partitions the corpus into centroid cells;
# queries probe only their n_probe nearest cells, so candidate generation
# is an equi-join on cell id (never a cross join).  Training runs
# driver-side on a deterministic bounded sample (FAISS-style: the coarse
# quantizer is tiny and trained offline; ASSIGNMENT is the distributed
# part) — at 100 TB the sample is a hash-ranked draw, here vec_id order.
# ---------------------------------------------------------------------------


def kmeans_centroids(mat, n_centroids: int, n_iters: int = 10):
    """Deterministic spherical Lloyd's iterations on an (n, dim) array.

    Determinism contract (shared with the in-process oracle): unit-norm
    inputs, evenly-spaced init over the row order, dots quantized to 1e-6
    before argmax so BLAS summation-order ulps can never flip an
    assignment, empty cells keep their previous centroid."""
    import numpy as np

    mat64 = np.asarray(mat, dtype=np.float64)
    norms = np.linalg.norm(mat64, axis=1)
    norms[norms == 0] = 1.0
    unit = mat64 / norms[:, None]
    idx = np.linspace(0, len(unit) - 1, n_centroids).astype(int)
    cent = unit[idx].copy()
    for _ in range(n_iters):
        dots = np.round(unit @ cent.T, 6)
        assign = dots.argmax(axis=1)
        for c in range(n_centroids):
            members = unit[assign == c]
            if len(members):
                m = members.mean(axis=0)
                nrm = np.linalg.norm(m)
                if nrm > 0:
                    cent[c] = m / nrm
    return cent


def ivf_probe_cids(mat, cent, n_probe: int):
    """Top-``n_probe`` centroid cells per row (rounded-dot argsort, stable
    ties) — the one function both the Spark UDF batches and the numpy
    oracle call, so cell decisions are identical by construction."""
    import numpy as np

    m = np.asarray(mat, dtype=np.float64)
    nrm = np.linalg.norm(m, axis=1)
    nrm[nrm == 0] = 1.0
    dots = np.round((m / nrm[:, None]) @ cent.T, 6)
    return np.argsort(-dots, axis=1, kind="stable")[:, :n_probe]


def _ivf_cells_udf(cent, n_probe: int):
    from pyspark.sql.types import ArrayType, IntegerType

    @pandas_udf(ArrayType(IntegerType()))
    def cells(emb: pd.Series) -> pd.Series:
        import numpy as np

        mat = np.array(emb.tolist(), dtype=np.float64)
        out = ivf_probe_cids(mat, cent, n_probe)
        return pd.Series([row.astype(int).tolist() for row in out])

    return cells


def train_ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int,
    n_iters: int = 10,
    train_limit: int = 4096,
):
    """Driver-side coarse-quantizer training on a deterministic bounded
    sample (first ``train_limit`` rows by vec_id; swap for a hash-ranked
    sample at corpus scale)."""
    import numpy as np

    rows = (
        embeddings.orderBy("vec_id")
        .limit(train_limit)
        .select("embedding")
        .collect()
    )
    mat = np.array([list(r[0]) for r in rows], dtype=np.float64)
    return kmeans_centroids(mat, n_centroids, n_iters)


def ivf_recall_stats(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 32,
    n_probe: int = 4,
    n_iters: int = 10,
    train_limit: int = 4096,
) -> DataFrame:
    """Per query: recall@k of the IVF path vs the exact baseline AND the
    candidate fraction (cells probed / corpus size) — the IVF twin of
    ``ann_recall_stats``.  Returns (query_id, recall, cand_fraction)."""
    from ..plans.superstep import cut_lineage

    centroids = train_ivf_centroids(
        embeddings, n_centroids, n_iters, train_limit
    )
    n_total = embeddings.count()
    assign1 = _ivf_cells_udf(centroids, 1)
    probe = _ivf_cells_udf(centroids, n_probe)
    corpus = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.element_at(assign1(F.col("embedding")), 1).alias("cid"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.explode(probe(F.col("embedding"))).alias("cid"),
    )
    cands = (
        q.join(corpus, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .persist()
    )
    n_cand = cut_lineage(
        cands.groupBy("query_id").agg(F.count("*").alias("n_cand"))
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        cosine_col(
            F.col("q_emb").cast("array<double>"),
            F.col("c_emb").cast("array<double>"),
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    approx = cut_lineage(
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
    )
    cands.unpersist()
    exact = cosine_topk(embeddings, queries, k).select(
        "query_id", "neighbor_id"
    )
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hit"))
    )
    qs = exact.select("query_id").distinct()
    return (
        qs.join(hits, "query_id", "left")
        .join(n_cand, "query_id", "left")
        .select(
            "query_id",
            F.round(
                F.coalesce("n_hit", F.lit(0)) / F.lit(float(k)), 6
            ).alias("recall"),
            F.round(
                F.coalesce("n_cand", F.lit(0)) / F.lit(float(n_total - 1)), 6
            ).alias("cand_fraction"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze & Schmid, TPAMI 2011) — the
# compressed-domain scale path: a dim-D vector becomes M uint8 codes
# (one per D/M-dim subspace), a 32x+ memory reduction that lets a
# 100 TB embedding corpus live in executor memory for ADC re-ranking.
# Codebook training is driver-side on a bounded sample (like the IVF
# coarse quantizer: tiny, offline); ENCODING is the distributed part —
# one Arrow-batched numpy matmul-free argmin per subspace.
# ---------------------------------------------------------------------------


def pq_train_codebooks(mat, m: int = 4, k: int = 16, n_iters: int = 10):
    """Per-subspace L2 Lloyd's on an (n, dim) sample.

    Determinism contract (shared with the in-process oracle): evenly
    spaced init over the row order, squared distances rounded to 1e-6
    before the stable argmin so summation-order ulps can never flip an
    assignment, empty cells keep their previous centroid.  Returns a
    list of M (k, dim/M) float64 codebooks."""
    import numpy as np

    mat64 = np.asarray(mat, dtype=np.float64)
    n, dim = mat64.shape
    if dim % m:
        raise ValueError(f"pq: dim {dim} not divisible by m {m}")
    sub = dim // m
    books = []
    for s in range(m):
        x = mat64[:, s * sub : (s + 1) * sub]
        cb = x[np.linspace(0, n - 1, k).astype(int)].copy()
        for _ in range(n_iters):
            d2 = np.round(
                ((x[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2), 6
            )
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = x[assign == c]
                if len(members):
                    cb[c] = members.mean(axis=0)
        books.append(cb)
    return books


def pq_encode_mat(mat, books):
    """(codes, recon_err) for an (n, dim) batch under trained codebooks —
    the one function both the Spark UDF batches and the numpy oracle
    call, so code decisions and the rounded reconstruction error are
    identical by construction.  codes is (n, M) int; recon_err is the
    per-row total squared L2 error, rounded to 1e-6."""
    import numpy as np

    mat64 = np.asarray(mat, dtype=np.float64)
    n = mat64.shape[0]
    m = len(books)
    sub = mat64.shape[1] // m
    codes = np.empty((n, m), dtype=np.int64)
    err = np.zeros(n, dtype=np.float64)
    for s, cb in enumerate(books):
        x = mat64[:, s * sub : (s + 1) * sub]
        d2 = np.round(((x[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2), 6)
        codes[:, s] = d2.argmin(axis=1)
        err += d2[np.arange(n), codes[:, s]]
    return codes, np.round(err, 6)


def pq_train_driver(
    embeddings: DataFrame, m: int = 4, k: int = 16, n_iters: int = 10,
    train_limit: int = 4096,
):
    """Driver-side codebook training on a deterministic bounded sample
    (first ``train_limit`` rows by vec_id; swap for a hash-ranked draw at
    corpus scale)."""
    import numpy as np

    rows = (
        embeddings.orderBy("vec_id")
        .limit(train_limit)
        .select("embedding")
        .collect()
    )
    return pq_train_codebooks(
        np.array([list(r[0]) for r in rows], dtype=np.float64), m, k, n_iters
    )


def pq_codes(
    embeddings: DataFrame, m: int = 4, k: int = 16, n_iters: int = 10,
    train_limit: int = 4096, books=None,
) -> DataFrame:
    """Distributed PQ encoding: (vec_id, code0..code{M-1}, recon_err).

    The codebooks ride into executors as a closure (M*k*sub floats —
    kilobytes); each Arrow batch is encoded with one vectorized
    numpy pass per subspace, no per-row Python.  recon_err is rounded
    inside the shared numpy kernel, NOT via F.round, so the oracle's
    double is bit-identical."""
    from pyspark.sql.types import ArrayType, DoubleType

    if books is None:
        books = pq_train_driver(embeddings, m, k, n_iters, train_limit)

    @pandas_udf(ArrayType(DoubleType()))
    def enc(emb: pd.Series) -> pd.Series:
        import numpy as np

        mat = np.array(emb.tolist(), dtype=np.float64)
        codes, err = pq_encode_mat(mat, books)
        out = np.concatenate([codes.astype(np.float64), err[:, None]], axis=1)
        return pd.Series(list(out))

    enc_col = enc(F.col("embedding"))
    cols = [
        F.element_at(F.col("e"), s + 1).cast("int").alias(f"code{s}")
        for s in range(m)
    ]
    return (
        embeddings.select("vec_id", enc_col.alias("e"))
        .select("vec_id", *cols, F.element_at(F.col("e"), m + 1).alias("recon_err"))
    )


def pq_adc_lut(q_mat, books):
    """Integer ADC lookup tables: (nq, M, k) int64 of squared-L2 costs in
    micro-units (round(d2 * 1e6)).  Integer costs make the per-candidate
    ADC total an EXACT sum — no float accumulation order, so the ranking
    is engine-independent.  Shared by the Spark LUT DataFrame and the
    numpy oracle."""
    import numpy as np

    q64 = np.asarray(q_mat, dtype=np.float64)
    m = len(books)
    k = books[0].shape[0]
    sub = q64.shape[1] // m
    lut = np.empty((q64.shape[0], m, k), dtype=np.int64)
    for s, cb in enumerate(books):
        qs = q64[:, s * sub : (s + 1) * sub]
        d2 = ((qs[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
        lut[:, s, :] = np.round(d2 * 1e6).astype(np.int64)
    return lut


def pq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k_neighbors: int = 10,
    m: int = 4,
    k: int = 16,
    n_iters: int = 10,
    train_limit: int = 4096,
) -> DataFrame:
    """PQ asymmetric-distance top-k: corpus vectors are M uint8 codes;
    each query's cost against a candidate is M integer table lookups —
    never a D-dim float op.  Returns (query_id, neighbor_id, adc_micro,
    rank), rank by (adc_micro ASC, neighbor_id ASC).

    Spark shape: the corpus code table (the compressed corpus — the
    whole point of PQ at 100 TB) is exploded to (vec_id, s, code) rows
    once; the per-query LUTs are a BROADCAST table of nq*M*k rows
    (kilobytes), so candidate scoring is a broadcast equi-join on
    (s, code) + one map-side-combinable integer sum per (query,
    candidate) — no cross join, no float, no UDF in the scoring path."""
    import numpy as np

    books = pq_train_driver(embeddings, m, k, n_iters, train_limit)
    codes = pq_codes(embeddings, m, k, n_iters, train_limit, books=books)
    long_codes = codes.select(
        F.col("vec_id").alias("neighbor_id"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("s"), F.col(f"code{s}").alias("code")
                )
                for s in range(m)
            ])
        ).alias("sc"),
    ).select("neighbor_id", "sc.s", "sc.code")
    q_rows = sorted(
        queries.select("vec_id", "embedding").collect(), key=lambda r: r[0]
    )
    q_mat = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    lut = pq_adc_lut(q_mat, books)
    spark = embeddings.sparkSession
    lut_rows = [
        (int(q_rows[qi][0]), s, c, int(lut[qi, s, c]))
        for qi in range(len(q_rows))
        for s in range(m)
        for c in range(k)
    ]
    lut_df = spark.createDataFrame(
        lut_rows, "query_id long, s int, code int, cost long"
    )
    scored = (
        long_codes.join(F.broadcast(lut_df), ["s", "code"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("cost").alias("adc_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_micro").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_neighbors)
    )
