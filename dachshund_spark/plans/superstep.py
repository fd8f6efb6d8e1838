"""Superstep driver loop with lineage control, per-superstep checkpoints,
and metrics — the iterative backbone under PageRank / connected components /
label propagation / eigenvector centrality / coreness / SCC labels.

Spark has no native iterate-to-fixpoint, so iterative algorithms are driver
loops where every iteration appends to the logical plan.  Unchecked, plan
depth grows linearly and job setup cost dominates by iteration ~20 (and at
cluster scale a lost executor replays the whole lineage).  ``iterate``
therefore owns, in one place:

* ONE Spark action per round.  A step hands back its lazy state plus the
  round's aggregate columns, and the loop picks the action that both
  holds the state and computes the aggregate:

  - a *seal* round (every ``checkpoint_every``-th, the last allowed one)
    without a checkpointer is a lazy ``cut_lineage`` that the aggregate
    materializes;
  - a seal round WITH a ``CheckpointManager`` is durable: the parquet
    write of ``state.observe(Observation(), *aggs)`` is the round's only
    job, and the next state is that step's parquet read back lazily
    (explicit schema: no inference job, no persist, no count);
  - rounds in between are ``persist()``ed and aggregated.

  A convergence between seals is sealed after the fact by an eager cut,
  or a full durable save.
* the commit protocol, after Delta Lake's (data first, then the commit
  record): a durable round writes the parquet, reads the observation,
  and only then writes the step's metrics sidecar, the marker resume
  trusts.  A kill in between leaves an uncommitted step that ``latest``
  skips.  Because a durable state reads its step's files lazily, a step
  directory must outlive the next durable write.
* the deferred-release window: a persisted round still lineage-depends on
  its predecessors, so superseded states are released only once a sealed
  successor has materialized on top of them (``release``'s invariant);
* one metrics row per superstep (rows, delta, wall seconds, partition
  count), stored next to each durable checkpoint so a resumed job (the
  caller's ``load_latest`` round passed as ``start_iteration``) knows
  exactly where it stopped.

The reference engine has no equivalent (single-process loops,
transformer_base.rs:38-91); this is engine-side machinery our Spark design
needs at 100 TB.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation


def cut_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """localCheckpoint + STATISTICS RESET — the lineage cut every iterative
    loop in this engine must use.

    ``Dataset.localCheckpoint`` deliberately carries the checkpointed
    plan's computed statistics into the new LogicalRDD leaf.  For loops
    built from INNER joins that is a time bomb: Catalyst's size-only
    estimator multiplies children's sizeInBytes at every join, so the
    carried stats compound — round r's leaf estimate is a product of
    round r-1's, and the BigInt digit count grows geometrically (measured
    ~3x per round for the k-truss wedge join: 12 → 35 → 105 → ... digits;
    by round ~15 Catalyst spends MINUTES inside BigInteger.multiply in
    SizeInBytesOnlyStatsPlanVisitor.visitJoin).  Anti/semi-join loops
    survive (their estimate is the left child's), which is why only the
    inner-join loops hit it.

    The reset rebuilds the DataFrame from the checkpointed RDD via
    SparkSession.internalCreateDataFrame, whose LogicalRDD carries no
    inherited stats (leaves fall back to defaultSizeInBytes, keeping every
    later estimate bounded).  Falls back to the plain localCheckpoint if
    the internal API is unavailable."""
    cut = df.localCheckpoint(eager=eager)
    try:
        spark = df.sparkSession
        jdf = cut._jdf
        jrdd = jdf.queryExecution().toRdd()
        new_jdf = spark._jsparkSession.internalCreateDataFrame(
            jrdd, jdf.schema(), False
        )
        out = DataFrame(new_jdf, spark)
        # handle to the checkpointed RDD so release() can drop its storage
        # blocks deterministically (they otherwise live until the JVM
        # ContextCleaner happens to GC the reference — which accumulates
        # driver/executor heap across a long peel cascade).  It is the
        # LogicalRDD's own RDD: ``jrdd`` is a projection on top of it and
        # holds no blocks.
        out._cut_rdd = jdf.logicalPlan().rdd()
        return out
    except Exception:  # pragma: no cover - internal API moved/renamed
        return cut


def superstep_state_side(
    state: DataFrame, n_rows: int | None, threshold: int = 100_000
) -> DataFrame:
    """Join-strategy hint for the O(|V|)-row state side of a superstep
    join against a cached, pre-partitioned edge table.

    The lineage-cut state leaf carries no size statistics, so left to the
    static planner the join either broadcasts the EDGE table (when its
    known cached size is under the broadcast threshold — a serial
    |E|-row build every round) or falls to sort-merge.  The operator,
    unlike the optimizer, KNOWS the state's row count from its own
    per-round aggregate, so it picks deliberately (guide §3.1/§8):

    * ``n_rows < threshold``: broadcast the state — zero exchanges on
      either side, the cheapest possible round (this is also what AQE
      eventually discovers at runtime when nothing is hinted and the
      edge table is over-threshold, measured on the 3x fixture);
    * otherwise: ``shuffle_hash`` — only the state shuffles against the
      cached edges; no per-round broadcast build, no sort, and the only
      shape that scales to states too large to broadcast (pagerank's
      rank-vector discipline; its measured crossover, ~100k rows, is the
      default threshold).
    * ``n_rows`` unknown (first round): shuffle_hash, the safe side.
    """
    if n_rows is not None and n_rows < threshold:
        return state.hint("broadcast")
    return state.hint("shuffle_hash")


def release(df: DataFrame | None) -> None:
    """Free the storage behind an intermediate state DataFrame: the
    locally-checkpointed RDD blocks for a ``cut_lineage`` product, plus any
    regular persist() cache.  Only call on states that nothing downstream
    will read again — a released cut cannot be recomputed (local
    checkpoints discard lineage).

    Executor-loss caveat (real clusters): "nothing downstream reads it"
    must hold through RECOMPUTE paths, not just the happy path.  If a
    successor state is merely persist()ed, its cached blocks still
    lineage-depend on this cut; losing one of those blocks after the
    release makes the successor unrecomputable ("Checkpoint block not
    found" job failure).  The loop invariant every caller follows: a
    successor must itself be a ``cut_lineage`` product, materialized
    before its predecessor is released — then the only loss that matters
    is of the successor's own checkpoint blocks, which is the inherent
    localCheckpoint durability trade (use a CheckpointManager for
    durable-resume jobs)."""
    if df is None:
        return
    jrdd = getattr(df, "_cut_rdd", None)
    if jrdd is not None:
        try:
            jrdd.unpersist(False)
        except Exception:  # pragma: no cover - JVM already torn down
            pass
    try:
        df.unpersist()
    except Exception:  # pragma: no cover
        pass


@dataclass
class SuperstepMetrics:
    """One round's record.  ``seconds`` is the round's wall time, the
    checkpoint write included on durable rounds.  A record carrying only
    ``superstep`` is a durable round whose numbers are not read yet:
    ``CheckpointManager.save`` writes its data but not its commit."""

    superstep: int
    rows: int | None = None
    delta: float | None = None
    seconds: float | None = None
    partitions: int | None = None


@dataclass
class SuperstepResult:
    state: DataFrame
    iterations: int
    converged: bool
    metrics: list[SuperstepMetrics] = field(default_factory=list)


class CheckpointManager:
    """Durable parquet checkpoints for vertex-state DataFrames.

    Layout: ``<root>/<name>/step=<k>/`` (parquet) plus
    ``<root>/<name>/step=<k>.metrics.json``, the step's commit record.
    The data is written first and the sidecar after it (``commit``); a
    step without its sidecar is torn and ``latest`` never resumes from
    it.  ``save(df, m)`` with a complete ``m`` does both; ``iterate``
    saves with ``SuperstepMetrics(superstep=k)`` so that the write also
    computes the round's aggregate, and commits once it has read it.

    The frame ``save`` returns reads the step's files lazily, so a step
    directory must outlive every state derived from it — in ``iterate``,
    until the next durable write.
    """

    def __init__(self, root: str, name: str, fingerprint: str | None = None):
        """``fingerprint`` identifies the input + parameters of the job
        (any stable string, e.g. json of input path/tol/damping/block
        size).  It is stored next to every checkpoint; ``load_latest``
        refuses to resume from state written under a different
        fingerprint — preventing a silent resume of stale state when a
        job is re-run with changed inputs or parameters."""
        self.dir = os.path.join(root, name)
        self.fingerprint = fingerprint
        os.makedirs(self.dir, exist_ok=True)

    def _step_path(self, step: int) -> str:
        return os.path.join(self.dir, f"step={step}")

    def save(self, df: DataFrame, metrics: SuperstepMetrics) -> DataFrame:
        """Write ``df`` as step ``metrics.superstep`` and return the lazy
        reread (explicit schema: no inference job).  Commits only when
        ``metrics`` carries the round's numbers."""
        path = self._step_path(metrics.superstep)
        if os.path.exists(path + ".metrics.json"):
            # a rewritten step is uncommitted until its new record lands
            os.remove(path + ".metrics.json")
        df.write.mode("overwrite").parquet(path)
        if metrics.rows is not None:
            self.commit(metrics)
        return df.sparkSession.read.schema(df.schema).parquet(path)

    def commit(self, metrics: SuperstepMetrics) -> None:
        """Write step ``metrics.superstep``'s record: the step becomes
        resumable."""
        payload = dict(metrics.__dict__)
        if self.fingerprint is not None:
            payload["fingerprint"] = self.fingerprint
        with open(self._step_path(metrics.superstep) + ".metrics.json", "w") as f:
            f.write(json.dumps(payload))

    def latest(self) -> tuple[int, str] | None:
        steps = []
        for entry in os.listdir(self.dir):
            if entry.startswith("step=") and entry.endswith(".metrics.json"):
                steps.append(int(entry[len("step="):-len(".metrics.json")]))
        if not steps:
            return None
        k = max(steps)
        return k, self._step_path(k)

    def load_latest(self, spark) -> tuple[int, DataFrame] | None:
        found = self.latest()
        if found is None:
            return None
        k, path = found
        if self.fingerprint is not None:
            with open(path + ".metrics.json") as f:
                saved = json.load(f).get("fingerprint")
            if saved is not None and saved != self.fingerprint:
                raise ValueError(
                    f"checkpoint {path} was written for a different "
                    f"input/parameter fingerprint ({saved!r} != "
                    f"{self.fingerprint!r}); clear() it or use a new job name"
                )
        return k, spark.read.parquet(path)

    def clear(self):
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir, exist_ok=True)


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], tuple[DataFrame, list[Column], Callable]],
    max_iter: int,
    tol: float = 0.0,
    checkpoint_every: int = 3,
    checkpointer: CheckpointManager | None = None,
    start_iteration: int = 0,
) -> SuperstepResult:
    """Run ``step(state, i) -> (new_state, aggs, measure)`` until
    ``delta <= tol`` or ``max_iter``.

    ``new_state`` is lazy and ``aggs`` is the round's list of named
    aggregate columns over it.  The loop holds the state (see the module
    docstring) in the same Spark action that computes ``aggs``, then
    calls ``measure(row) -> (delta, rows)`` on the resulting row (a
    ``Row``, or the observation's dict on a durable round; index it by
    name).  ``delta`` is the algorithm's convergence measure (L1 score
    change, #changed labels...).  Anything else the next round needs
    from the row (a carried scalar, a density switch) the step stashes
    in its own closure from inside ``measure``.

    Ownership: ``iterate`` takes ``state`` (persisting it unless the
    caller already did) and releases every superseded state itself.  The
    returned ``result.state`` is always sealed — a cut leaf, or the lazy
    parquet reread of the last durable step — so the caller frees it with
    one ``release(result.state)`` once nothing reads it any more.
    """
    if start_iteration > 0 and start_iteration >= max_iter:
        # a resumed checkpoint already at/past the iteration bound would
        # skip the loop body entirely and die later with a misleading
        # "did not converge" — refuse up front with the actual cause
        raise ValueError(
            f"checkpoint resumes at iteration {start_iteration}, already "
            f"past max_iter={max_iter}; rerun with a larger --max-iter "
            "(or clear the checkpoint dir to restart from scratch)"
        )
    if not state.is_cached:
        # materialized by round 1's job: a separate count would be one
        # more driver job for nothing
        state = state.persist()
    metrics: list[SuperstepMetrics] = []
    # deferred-release window: states superseded by persist-only rounds.
    # A persisted successor's recompute lineage still reads them, so they
    # are freed only once a sealed successor has materialized on top of
    # them (release()'s executor-loss invariant).
    pending: list[DataFrame] = []
    converged = False
    i = start_iteration
    while i < max_iter:
        t0 = time.time()
        new_state, aggs, measure = step(state, i)
        i += 1
        sealed = i % checkpoint_every == 0 or i == max_iter
        durable = sealed and checkpointer is not None
        m = SuperstepMetrics(superstep=i)
        if durable:
            # the write is the round's one job; its observation is the
            # aggregate, and the commit waits for it
            obs = Observation()
            new_state = checkpointer.save(new_state.observe(obs, *aggs), m)
            row = obs.get
        else:
            if sealed:
                # lazy cut: the aggregate materializes the checkpoint in
                # the same job
                new_state = cut_lineage(new_state, eager=False)
            else:
                new_state = new_state.persist()
            row = new_state.agg(*aggs).collect()[0]
        delta, rows = measure(row)
        converged = delta <= tol
        m.rows, m.delta = int(rows), float(delta)
        m.seconds = round(time.time() - t0, 4)
        m.partitions = new_state.rdd.getNumPartitions()
        metrics.append(m)
        if durable:
            checkpointer.commit(m)
        elif converged and not sealed:
            # seal the final state so the caller never inherits the window
            if checkpointer is not None:
                sealed_state = checkpointer.save(new_state, m)
            else:
                sealed_state = cut_lineage(new_state)
            new_state.unpersist()
            new_state = sealed_state
            sealed = True
        if sealed:
            # the lineage-free successor is materialized: every older
            # state in the window is unreachable from anything live
            for p in pending:
                release(p)
            pending.clear()
            release(state)
        else:
            pending.append(state)
        state = new_state
        if converged:
            break
    return SuperstepResult(
        state=state, iterations=i, converged=converged, metrics=metrics
    )
