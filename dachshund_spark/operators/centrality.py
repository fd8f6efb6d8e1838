"""Distributed centrality operators.

* ``eigenvector_centrality`` — power iteration as supersteps with the
  reference's exact discipline (eigenvector_centrality.rs:21-42): x <- xA,
  L-infinity normalize each step, stop when the L1 change <= eps or
  max_iter.  Golden values: tests/karate_club.rs:446-458.

* ``betweenness`` — Brandes, parallelized over sources
  (betweenness.rs:57-96; the reference loops sources sequentially).  The
  canonical edge table is written ONCE to a parquet scratch path and read
  inside each task (pyarrow) — the edge list never round-trips through
  the driver, so driver memory stays O(1) in the graph size.  Each task
  runs the pure-Python Brandes kernel for its slice of sources over a
  shared in-process adjacency, emitting (v, dependency) partials that a
  final groupBy sums.  The default is the reference featurizer's
  approximation — 100 sampled sources when the graph has more than 100
  vertices (simple_transformer.rs:46-52) — because exact betweenness is
  inherently O(VE); pass ``max_sources=None`` for exact.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import uuid
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.superstep import cut_lineage, iterate
from .builders import symmetrized, vertices


def eigenvector_centrality(
    edges: DataFrame, eps: float = 0.001, max_iter: int = 1000
) -> DataFrame:
    """DataFrame[v, evcent], L-inf normalized (max = 1).

    ONE driver action per superstep (pagerank.py's discipline): the state
    carries the UN-normalized inflow ``y_i`` plus the previous normalized
    vector ``x_{i-1}``; the L-inf scale ``m_i = max(y_i)`` lives on the
    driver and is applied lazily as a ``lit`` expression, so normalization
    costs no job.  The single per-superstep aggregate returns
    ``(max(y_i), L1(x_{i-1} - x_{i-2}), rows)`` — the L1 change is EXACT
    but lagged one superstep (both scales in ``|y_{i-1}/m_{i-1} -
    x_{i-2}|`` are known by then), so a tolerance stop detects convergence
    one superstep late and returns the converged vector ``x_{i-1}``
    itself, bit-identical to the eager-delta formulation."""
    adj = symmetrized(edges).repartition("src").persist()
    adj.count()
    n_row = vertices(edges).count()
    state0 = vertices(edges).select(
        "v",
        F.lit(1.0 / n_row).alias("y"),
        F.lit(1.0 / n_row).alias("xprev"),
    )
    scale = {"m": 1.0}  # x_0 = y_0 / 1

    def step(state: DataFrame, i: int):
        m = scale["m"]
        msgs = adj.join(state, adj.src == state.v).select(
            F.col("dst").alias("v"), (F.col("y") / F.lit(m)).alias("x")
        )
        inflow = msgs.groupBy("v").agg(F.sum("x").alias("ynew"))
        new_state = (
            state.join(inflow, "v", "left")
            .select(
                "v",
                F.coalesce("ynew", F.lit(0.0)).alias("y"),
                (F.col("y") / F.lit(m)).alias("xprev"),
                F.abs(F.col("y") / F.lit(m) - F.col("xprev")).alias("d"),
            )
            .persist()
        )
        agg = new_state.agg(
            F.max("y").alias("m"),
            F.sum("d").alias("l1"),
            F.count("*").alias("rows"),
        ).collect()[0]
        scale["m"] = float(agg["m"])
        # first superstep has no previous change to report
        delta = float("inf") if i == 0 else float(agg["l1"])
        return (new_state, delta, int(agg["rows"]))

    result = iterate(state0, step, max_iter=max_iter, tol=eps)
    if result.converged:
        # stop fired on the lagged delta: xprev IS the converged vector
        out = result.state.select("v", F.col("xprev").alias("evcent"))
    else:
        out = result.state.select(
            "v", (F.col("y") / F.lit(scale["m"])).alias("evcent")
        )
    adj.unpersist()
    return out


def source_hash_expr(v, seed: int):
    """md5(seed|v) — the deterministic source-sampling rank.  Computable
    identically in Spark SQL, DuckDB, and python hashlib, so sampled-source
    runs are reproducible across engines and across executors."""
    return F.md5(F.concat(F.lit(f"{seed}|"), v.cast("string")))


def sample_sources_py(vertex_ids, max_sources: int, seed: int) -> list[int]:
    """Python mirror of the Spark-side sampled-source selection (used by
    kernel oracles): the ``max_sources`` vertices with smallest
    md5(seed|v)."""
    ranked = sorted(
        (hashlib.md5(f"{seed}|{v}".encode()).hexdigest(), v) for v in vertex_ids
    )
    return [v for _, v in ranked[:max_sources]]


def _csr_from_canonical(src, dst):
    """Canonical (src<dst, distinct, loop-free) edge arrays -> dense CSR
    (ids, indptr, nbrs) with neighbor lists sorted ascending by id.

    The dense-id neighbor order equals ``sorted(adj[v])`` iteration over
    the dict-of-sets adjacency (ids are sorted, searchsorted is monotone),
    which is what makes ``_brandes_csr`` float-exact against the kernel.
    ~50 bytes/edge of numpy arrays instead of ~400 bytes/edge of Python
    sets — the per-task memory footprint that made 32 concurrent workers
    memory-bandwidth-bound (guide §4.2: hand whole batches to native
    code)."""
    import numpy as np

    ids = np.unique(np.concatenate([src, dst]))
    a = np.searchsorted(ids, src).astype(np.int64)
    b = np.searchsorted(ids, dst).astype(np.int64)
    heads = np.concatenate([a, b])
    tails = np.concatenate([b, a])
    order = np.lexsort((tails, heads))
    heads = heads[order]
    tails = tails[order]
    n = len(ids)
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(heads, minlength=n), out=indptr[1:])
    return ids, indptr, tails


# sigma is carried as float64: path counts are exact integers up to 2^53
# (the same representation betweenness_superstep ships through Spark SQL).
# A source whose max sigma reaches this bound falls back to the bigint
# dict kernel so the operator NEVER silently loses precision.
_SIGMA_EXACT_BOUND = float(2**53)


def _brandes_csr(indptr, nbrs, n, s, delta_out):
    """One Brandes source pass over the CSR adjacency, accumulating
    dependencies into ``delta_out`` (in-place) — a float-EXACT mirror of
    ``kernels.brandes_single_source``:

    * BFS dequeues in the same order (neighbors scanned sorted-ascending),
      so the visit stack is identical;
    * sigma additions are integer-valued float adds (exact, any order);
    * the backward pass pops the stack in the same reverse order and for
      each popped w updates its predecessors vectorized — every delta[p]
      receives the SAME contributions in the SAME w-order as the kernel's
      ``for p in preds[w]`` loop (contributions within one w go to
      distinct p's, so their relative order cannot affect any sum);
    * the per-(p, w) term ``(0.5 + delta[w]) * (sigma[p] / sigma[w])``
      is computed with the same operand order.

    Returns the max sigma so the caller can enforce the exactness bound.
    Parity is pinned by tests (random fixtures + real-graph spot check).
    """
    import numpy as np

    sigma = np.zeros(n)
    sigma[s] = 1.0
    dist = np.full(n, -1, dtype=np.int64)
    dist[s] = 0
    order = np.empty(n, dtype=np.int64)
    order[0] = s
    head, tail = 0, 1
    while head < tail:
        v = order[head]
        head += 1
        nb = nbrs[indptr[v]:indptr[v + 1]]
        new = nb[dist[nb] < 0]
        dv1 = dist[v] + 1
        if new.size:
            dist[new] = dv1
            order[tail:tail + new.size] = new
            tail += new.size
        upd = nb[dist[nb] == dv1]
        if upd.size:
            sigma[upd] += sigma[v]
    delta = np.zeros(n)
    for i in range(tail - 1, 0, -1):
        w = order[i]
        nb = nbrs[indptr[w]:indptr[w + 1]]
        pp = nb[dist[nb] == dist[w] - 1]
        if pp.size:
            delta[pp] += (0.5 + delta[w]) * (sigma[pp] / sigma[w])
    delta[s] = 0.0
    delta_out += delta
    return float(sigma[order[:tail]].max())


def _hadoop_delete(spark, path: str) -> None:
    """Delete a scratch path through the Hadoop FileSystem API — resolves
    the path's own scheme, so it works for local dirs AND cluster URIs
    (HDFS/S3/shared FS), unlike a driver-side ``shutil.rmtree``."""
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(hpath, True)
    except Exception:  # pragma: no cover - JVM gone / permissions
        pass


def _select_sources(spark, verts, sources, max_sources, seed):
    if sources is not None:
        return spark.createDataFrame(
            [(int(s),) for s in sources], "source long"
        )
    if max_sources is not None:
        return (
            verts.orderBy(source_hash_expr(F.col("v"), seed))
            .limit(max_sources)
            .select(F.col("v").alias("source"))
        )
    return verts.select(F.col("v").alias("source"))


def betweenness(
    edges: DataFrame,
    sources: list[int] | None = None,
    max_sources: int | None = 100,
    seed: int = 0,
    scratch_dir: str | None = None,
    edge_budget: int = 50_000_000,
) -> DataFrame:
    """Brandes betweenness (undirected, 0.5-per-direction weights as in
    the reference), source-parallel.

    * ``sources`` — explicit source list (overrides sampling).
    * ``max_sources`` — when the graph has more vertices than this, run
      from a deterministic md5-ranked sample (the reference featurizer's
      100-source approximation, simple_transformer.rs:46-52).  ``None``
      means every vertex (exact).
    * ``scratch_dir`` — where the canonical edge table is staged as
      parquet for task-side reads.  MUST be a cluster-visible path
      (HDFS/S3/shared FS) on a real cluster; defaults to a local temp dir,
      correct for local[*] mode.
    * ``edge_budget`` — every task loads the FULL canonical edge list into
      an in-process adjacency (that is what makes source-parallel Brandes
      fast).  Above this many edges that per-task load would OOM an
      executor, so the call fails fast with guidance instead of melting
      the cluster; ``betweenness_superstep`` is the giant-graph fallback.
    """
    spark = edges.sparkSession
    from ..operators.builders import canonical_undirected

    master = spark.sparkContext.master
    if scratch_dir is None and not master.startswith("local"):
        raise ValueError(
            "betweenness on a non-local cluster requires scratch_dir to be "
            "a cluster-visible path (HDFS/S3/shared FS); the local tempdir "
            f"default would fail task-side reads under master={master!r}"
        )
    canon = canonical_undirected(edges)
    # cheap PRE-write guard: HLL-approximate the canonical pair count with
    # a single scan + partial aggregate (no shuffle write), so a clearly
    # over-budget graph fails before paying the full distributed parquet
    # stage the exact check below sits behind.  The 1.2 slack covers the
    # ~5% HLL rsd; borderline graphs fall through to the exact post-write
    # count, which remains authoritative.
    approx_edges = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter("a != b")
        .agg(F.approx_count_distinct(F.struct("a", "b")).alias("n"))
        .collect()[0]["n"]
    )
    if approx_edges > 1.2 * edge_budget:
        raise RuntimeError(
            f"betweenness: ~{approx_edges} canonical edges (approximate) "
            f"exceed the per-task adjacency budget ({edge_budget}); every "
            "task materializes the full edge list, so this would OOM "
            "executors.  Either raise edge_budget (if executors have the "
            "memory) or use betweenness_superstep(), which keeps the "
            "graph distributed"
        )
    root = scratch_dir or os.path.join(tempfile.gettempdir(), "dachshund_bet")
    path = os.path.join(root, f"edges-{uuid.uuid4().hex}")
    # everything from the scratch write onward sits inside try/finally so a
    # failure in ANY stage (write, budget check, sampling, the mapInPandas
    # job) still deletes the edges-<uuid> directory — via the Hadoop FS
    # API, which unlike shutil also works when scratch_dir is a remote URI
    try:
        canon.write.mode("overwrite").parquet(path)
        canon = spark.read.parquet(path)
        # budget check AFTER the scratch write: counting the written
        # parquet is a footer-metadata scan, whereas counting `canon`
        # directly would compute the whole canonicalization shuffle a
        # second time.  Still fails fast — nothing has launched the
        # per-task adjacency load (the mapInPandas job) yet.
        n_edges = canon.count()
        if n_edges > edge_budget:
            raise RuntimeError(
                f"betweenness: {n_edges} canonical edges exceed the "
                f"per-task adjacency budget ({edge_budget}); every task "
                "materializes the full edge list, so this would OOM "
                "executors.  Either raise edge_budget (if executors have "
                "the memory) or use betweenness_superstep(), which keeps "
                "the graph distributed"
            )

        verts = vertices(canon)
        src_df = _select_sources(spark, verts, sources, max_sources, seed)
        n_part = max(spark.sparkContext.defaultParallelism, 8)
        src_df = src_df.repartition(n_part)

        def _build_csr_shared(_):
            """One task builds the CSR ONCE and publishes it as .npy files
            next to the scratch parquet; every source task then mmap-loads
            the shared read-only arrays instead of re-deriving the same
            CSR from parquet N-tasks times (at 32 concurrent workers the
            redundant builds were memory-bandwidth-bound, not CPU-bound).
            Best-effort: a scratch FS numpy cannot address (object-store
            URI) simply leaves the files absent and tasks fall back."""
            import numpy as np
            import pyarrow.parquet as pq

            try:
                tbl = pq.read_table(path, columns=["src", "dst"])
                ids, indptr, nbrs = _csr_from_canonical(
                    tbl["src"].to_numpy(), tbl["dst"].to_numpy()
                )
                np.save(os.path.join(path, "_csr_ids.npy"), ids)
                np.save(os.path.join(path, "_csr_indptr.npy"), indptr)
                np.save(
                    os.path.join(path, "_csr_nbrs.npy"),
                    nbrs.astype(np.int32),
                    # int32 is always safe: dense ids < 2 * edge_budget
                )
                return [True]
            except Exception:
                return [False]

        spark.sparkContext.parallelize([0], 1).mapPartitions(
            _build_csr_shared
        ).count()

        def run_sources(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            import numpy as np
            import pyarrow.parquet as pq

            src_a = dst_a = None
            try:
                ids = np.load(os.path.join(path, "_csr_ids.npy"), mmap_mode="r")
                indptr = np.load(
                    os.path.join(path, "_csr_indptr.npy"), mmap_mode="r"
                )
                nbrs = np.load(
                    os.path.join(path, "_csr_nbrs.npy"), mmap_mode="r"
                )
            except Exception:
                tbl = pq.read_table(path, columns=["src", "dst"])
                src_a = tbl["src"].to_numpy()
                dst_a = tbl["dst"].to_numpy()
                ids, indptr, nbrs = _csr_from_canonical(src_a, dst_a)
            acc = np.zeros(len(ids))
            fallback_adj = None
            ran = False
            for pdf in batches:
                for s in pdf["source"]:
                    ran = True
                    si = int(np.searchsorted(ids, int(s)))
                    before = acc.copy()
                    max_sigma = _brandes_csr(indptr, nbrs, len(ids), si, acc)
                    if max_sigma >= _SIGMA_EXACT_BOUND:
                        # path counts outgrew exact float64: redo this
                        # source with the bigint dict kernel (slow, exact)
                        from ..functions.kernels import (
                            brandes_single_source,
                            build_undirected_adj,
                        )

                        if fallback_adj is None:
                            if src_a is None:
                                t = pq.read_table(path, columns=["src", "dst"])
                                sa, da = (
                                    t["src"].to_numpy(), t["dst"].to_numpy()
                                )
                            else:
                                sa, da = src_a, dst_a
                            fallback_adj = build_undirected_adj(
                                list(zip(sa.tolist(), da.tolist()))
                            )
                        acc = before
                        dense = {int(x): i for i, x in enumerate(ids)}
                        for nid, dep in brandes_single_source(
                            fallback_adj, int(s)
                        ).items():
                            acc[dense[nid]] += dep
            if ran:
                nz = np.nonzero(acc)[0]
                # zero-dependency vertices are restored by the caller's
                # left join + coalesce(0.0); shuffling them adds nothing
                yield pd.DataFrame({"v": ids[nz], "partial": acc[nz]})

        partials = src_df.mapInPandas(run_sources, "v long, partial double")
        summed = partials.groupBy("v").agg(
            F.sum("partial").alias("betweenness")
        )
        out = verts.join(summed, "v", "left").select(
            "v", F.coalesce("betweenness", F.lit(0.0)).alias("betweenness")
        )
        # the result is small (one row per vertex): materialize it eagerly
        # so the scratch parquet can be deleted before returning
        return cut_lineage(out)
    finally:
        _hadoop_delete(spark, path)


def betweenness_superstep(
    edges: DataFrame,
    sources: list[int] | None = None,
    max_sources: int | None = 100,
    seed: int = 0,
    max_depth: int = 200,
) -> DataFrame:
    """Brandes betweenness for graphs over ``betweenness``'s per-task
    adjacency budget: the graph never leaves the cluster.

    All selected sources run SIMULTANEOUSLY as DataFrame supersteps keyed
    by (source, v) — forward BFS accumulates shortest-path counts sigma
    level by level, then the dependency accumulation walks depths from the
    deepest level back to 0 using the Brandes recurrence
    ``delta(p) = sum_w (0.5 + delta(w)) * sigma(p)/sigma(w)`` over
    successors ``w`` (dist_w = dist_p + 1).  Total supersteps = 2 × the
    BFS eccentricity bound across sources (small-world web graphs: tens),
    independent of the number of sources.

    Matches ``betweenness`` / kernels.brandes_single_source exactly on the
    same sources (parity pytest); sigma is carried as double, so path
    counts are exact up to 2^53 — beyond that the per-task kernel's Python
    bigints differ, which no sampled web-graph workload reaches.
    """
    spark = edges.sparkSession
    from ..plans.superstep import release

    sym = symmetrized(edges).repartition("src").persist()
    sym.count()
    verts = vertices(sym)
    src_df = _select_sources(spark, verts, sources, max_sources, seed)
    # Key narrowing long -> int32 (guide "narrower types") was
    # implemented with a runtime id-bounds guard and REJECTED by
    # interleaved A/B (1/3 pairs, median 45.9s vs 43.4s at sf0.1,
    # BENCH/AB_NARROW_KEYS_r07.txt): UnsafeRow aligns fixed-width fields
    # to 8-byte slots, so int keys save no aggregate-hash or shuffle
    # bytes here — the bounds probe and per-probe cast were pure cost.
    # NOTE on level-leaf partitioning: the cut leaves inherit the AQE-
    # coalesced partition count of the aggregate that produced them, and
    # the next depth's broadcast-probe fan-out runs map-side over those
    # partitions (observed 8-task stages of 84-148s pure CPU at sf0.1).
    # An explicit hash-repartition of every new level to the configured
    # shuffle parallelism was implemented and A/B'd: statistical TIE at
    # sf0.1 across 9 interleaved pairs (the extra exchange offsets the
    # parallelism gain) and -13% at the 3x fixture (2 pairs) — never a
    # measured win, so it was removed; the observation is recorded here
    # for the next time this operator is profiled on a real cluster.

    # forward: levels[d] = the depth-d frontier (source, v, sigma), each a
    # separate cut_lineage product.  Per-depth checkpoint I/O is the NEW
    # frontier only — the old design rewrote the full accumulated visited
    # state every level (union + cut), i.e. O(depth × |state|) checkpoint
    # I/O, quadratic-ish in depth for deep graphs.  Dedup anti-joins
    # against the lazy union of the frontier leaves: same scan volume as
    # one consolidated state table, no rewrite; the union legs are
    # stat-free LogicalRDD leaves, so Catalyst's size estimator stays
    # bounded (cut_lineage doc).  The backward pass reads exactly two
    # frontier leaves per depth instead of filtering the full state twice.
    levels = [
        cut_lineage(
            src_df.select(
                "source",
                F.col("source").alias("v"),
                F.lit(1.0).alias("sigma"),
            )
        )
    ]
    # (An anti-join-BEFORE-aggregate variant — broadcast the visited set
    # and drop already-visited targets before the sigma aggregate — was
    # measured and REJECTED: rebuilding the O(|S| x |V|)-row visited
    # broadcast every depth cost more than the aggregate it saved, 54s ->
    # 104s at sf0.1.  Aggregate-first is also the only order that scales
    # past a broadcastable visited set.)
    depth = 0
    while depth < max_depth:
        frontier = levels[depth]
        # NOTE: deliberately NOT shuffle_hash-hinted (unlike the single-
        # vector supersteps): the frontier here is (source, v) pairs — up
        # to |S|x|V| rows, routinely BIGGER than the edge table — so
        # letting the planner broadcast the (known-size) edge side when it
        # fits beats shuffling the fat frontier (measured: hinting this
        # join 54s -> 84s at sf0.1); past the broadcast threshold the
        # planner degrades to SMJ on its own.
        msgs = frontier.join(sym, frontier.v == sym.src).select(
            "source", F.col("dst").alias("v"), "sigma"
        )
        # BFS dedup window: a candidate produced by expanding depth d is
        # adjacent to a distance-d vertex, so its true distance is d-1, d
        # or d+1 — an already-visited candidate can only live in levels d
        # or d-1.  Anti-joining against those two leaves is therefore
        # result-identical to anti-joining against every level (identical
        # on every pair in BENCH/AB_VISITED_WINDOW_r07.txt) while scanning
        # and shuffling O(2 levels) instead of O(total visited) per depth —
        # the old full union re-shuffled the entire accumulated state
        # (up to |S|x|V| rows) every round.
        visited = levels[depth].select("source", "v")
        if depth > 0:
            visited = visited.union(levels[depth - 1].select("source", "v"))
        cand = msgs.groupBy("source", "v").agg(F.sum("sigma").alias("sigma"))
        # lazy cut: the count() below materializes the checkpoint in the
        # same job — one driver job per depth instead of two
        # (BENCH/AB_LAZY_CUTS_r07.txt).  The leaves this cut reads stay
        # live until the backward pass, so no release ordering depends on
        # eagerness here.
        new = cut_lineage(
            cand.join(visited, ["source", "v"], "left_anti").select(
                "source", "v", "sigma"
            ),
            eager=False,
        )
        if new.count() == 0:
            release(new)
            break
        levels.append(new)
        depth += 1
    else:
        raise RuntimeError(
            f"betweenness_superstep: BFS did not exhaust in {max_depth} "
            "levels; raise max_depth"
        )

    # backward: delta per (source, v), deepest depth first; the per-depth
    # dependency rows fold into a running (v, partial) accumulator each
    # round so every intermediate can be released immediately
    acc = None  # running sum over sources+depths of delta(source, v)
    delta_prev = None  # delta rows for depth d+1
    for d in range(depth - 1, -1, -1):
        nodes_d = levels[d]
        succ = levels[d + 1].select(
            "source",
            F.col("v").alias("w"),
            F.col("sigma").alias("sigma_w"),
        )
        if delta_prev is not None:
            dw_side = delta_prev.select(
                "source", F.col("v").alias("w"), F.col("delta").alias("dw")
            ).hint("shuffle_hash")
            succ = succ.join(
                dw_side,
                ["source", "w"],
                "left",
            ).select(
                "source", "w", "sigma_w",
                F.coalesce("dw", F.lit(0.0)).alias("dw"),
            )
        else:
            succ = succ.select(
                "source", "w", "sigma_w", F.lit(0.0).alias("dw")
            )
        links = nodes_d.join(sym, nodes_d.v == sym.src).select(
            "source", "v", "sigma", F.col("dst").alias("w")
        )
        # succ (|level d+1| rows) is the smaller side of the join against
        # the |level d| x degree fan-out: build it as a per-partition
        # hash table instead of sort-merging, which sorted the fan-out
        # rows every depth (stat-free cut leaves otherwise fall to SMJ;
        # BENCH/AB_BWD_SHJ_r07.txt)
        succ = succ.hint("shuffle_hash")
        # delta_d stays LAZY and the accumulator's eager cut below
        # materializes it in the same job — one driver job per backward
        # depth instead of two
        delta_d = cut_lineage(
            links.join(succ, ["source", "w"])
            .groupBy("source", "v")
            .agg(
                F.sum(
                    (F.lit(0.5) + F.col("dw"))
                    * F.col("sigma")
                    / F.col("sigma_w")
                ).alias("delta")
            ),
            eager=False,
        )
        prev_delta = delta_prev
        delta_prev = delta_d
        dep = delta_d.filter(F.col("v") != F.col("source")).select(
            "v", F.col("delta").alias("partial")
        )
        folded = dep if acc is None else acc.union(dep)
        new_acc = cut_lineage(
            folded.groupBy("v").agg(F.sum("partial").alias("partial"))
        )
        release(acc)
        # the eager new_acc cut has materialized delta_d's checkpoint;
        # only now is the previous delta (which delta_d's recompute
        # lineage read) safe to free
        release(prev_delta)
        acc = new_acc
        # levels[d+1] was read for the last time (as succ this round and
        # as delta_prev's base last round) — free its blocks now instead
        # of holding every frontier until the end
        release(levels[d + 1])
    release(delta_prev)
    # the backward loop released levels[1..depth]; only levels[0] (the
    # sources frontier) is still held — single-release invariant
    release(levels[0])
    sym.unpersist()
    if acc is None:
        return verts.select("v", F.lit(0.0).alias("betweenness"))
    out = verts.join(acc, "v", "left").select(
        "v", F.coalesce("partial", F.lit(0.0)).alias("betweenness")
    )
    return out


def harmonic_centrality(
    edges: DataFrame,
    sources: list[int] | None = None,
    max_sources: int | None = 100,
    seed: int = 0,
    max_depth: int = 200,
) -> DataFrame:
    """Harmonic centrality H(v) = Σ_s 1/d(s, v) over the (sampled)
    source set, distances on the symmetrized graph, unreachable pairs
    contributing 0 (Boldi & Vigna, "Axioms for centrality", 2014 — the
    closeness variant that is well-defined on disconnected graphs).

    The reference engine has no closeness-family transformer (its
    centrality files are eigenvector_centrality.rs and betweenness.rs);
    this is a scale-path addition reusing the betweenness_superstep
    forward machinery: all sources run simultaneously as (source, v)
    BFS frontiers, one edge join + anti-join per depth, each level a
    lazy cut leaf materialized by that depth's frontier count.  Source
    sampling is the shared deterministic md5(seed|v) rank
    (``_select_sources``), so runs are reproducible across engines.

    Distributed shape: the per-depth state is the NEW frontier only
    (same O(|sources| x |V|) bound and release discipline as the
    betweenness forward pass); the readout folds each level to per-vertex
    counts (V rows per depth) and pivots on depth — width = the BFS
    eccentricity bound, tens on small-world web graphs — so the final
    1/d sum is ONE fixed-order codegen'd expression per vertex:
    deterministic float addition order (increasing d, left-associated),
    hash-comparable to the sequential kernel
    (functions.kernels.harmonic_centrality).

    Returns DataFrame[v, harmonic] (harmonic rounded to 6 decimals).
    """
    from ..plans.superstep import release

    spark = edges.sparkSession
    sym = symmetrized(edges).repartition("src").persist()
    sym.count()
    verts = vertices(sym)
    src_df = _select_sources(spark, verts, sources, max_sources, seed)

    levels = [
        cut_lineage(src_df.select("source", F.col("source").alias("v")))
    ]
    depth = 0
    while depth < max_depth:
        frontier = levels[depth]
        msgs = (
            frontier.join(sym, frontier.v == sym.src)
            .select("source", F.col("dst").alias("v"))
            .distinct()
        )
        # last-two-levels dedup window — result-identical to the full
        # visited union by the BFS distance property (see the comment in
        # betweenness_superstep; BENCH/AB_VISITED_WINDOW_r07.txt)
        visited = levels[depth]
        if depth > 0:
            visited = visited.union(levels[depth - 1])
        # lazy cut — the count() materializes it (one job per depth; see
        # the betweenness_superstep forward loop)
        new = cut_lineage(
            msgs.join(visited, ["source", "v"], "left_anti"), eager=False
        )
        if new.count() == 0:
            release(new)
            break
        levels.append(new)
        depth += 1
    else:
        raise RuntimeError(
            f"harmonic_centrality: BFS did not exhaust in {max_depth} "
            "levels; raise max_depth"
        )

    if depth == 0:
        for lv in levels:
            release(lv)
        sym.unpersist()
        return verts.select("v", F.lit(0.0).alias("harmonic"))

    # per-depth reach counts: level d holds (source, v) pairs at exact
    # distance d, so its per-v row count is the number of sampled sources
    # at that distance — V rows per depth, unioned over cut leaves
    cnts = None
    for d in range(1, depth + 1):
        c = levels[d].groupBy("v").agg(F.count(F.lit(1)).alias("c")).select(
            "v", F.lit(d).alias("dist"), "c"
        )
        cnts = c if cnts is None else cnts.union(c)
    wide = cnts.groupBy("v").pivot("dist", list(range(1, depth + 1))).agg(
        F.sum("c")
    )
    # fixed-order 1/d fold: increasing d, left-associated — float-exact
    # mirror of the kernel's accumulation loop
    terms = " + ".join(
        f"coalesce(cast(`{d}` as double), 0.0d) / {float(d)}d"
        for d in range(1, depth + 1)
    )
    out = cut_lineage(
        verts.join(wide, "v", "left").selectExpr(
            "v", f"round({terms}, 6) as harmonic"
        )
    )
    # out is an eager cut — the level leaves it read can be freed now
    for lv in levels:
        release(lv)
    sym.unpersist()
    return out
