"""Louvain phase-1 community detection — synchronous modularity-gain
label moves over DataFrames (Blondel et al. 2008, "Fast unfolding of
communities in large networks", the local-move phase).

The reference's community family (clustering.rs CNM runs per-graph on the
driver-side kernel path) has no DISTRIBUTED modularity optimizer; this is
the standard one for web-scale link graphs (host/page community finding).

Semantics (unweighted, undirected, synchronous rounds):

- in round ``r`` only vertices whose deterministic md5 parity
  ``int(md5(f"{r}:{v}")[:15], 16) % 2 == 0`` is even may move (the
  standard distributed-Louvain symmetry breaker: full synchronous moves
  2-cycle on symmetric graphs — two mutually-attracted vertices swap
  labels forever; gating a pseudo-random half per round breaks every
  such cycle as soon as one endpoint is gated off).  There is no
  early-exit on "no moves": with gating, a quiet round only proves the
  gated HALF was stable, so the round count is part of the spec —
  "labels after exactly k gated synchronous rounds";
- every gated vertex considers its neighbor communities plus staying
  put; the
  modularity gain of joining community C is, up to the positive constant
  1/(2m^2), proportional to ``2m * e(v,C) - deg(v) * vol(C \\ v)`` — ALL
  INTEGERS here (m edges, e(v,C) edges from v into C, vol = sum of
  member degrees, minus deg(v) when v itself is in C).  Comparing the
  integer keys instead of the float gains makes every move decision
  exact in any engine — no float, no ties-by-ulp;
- ties break to the smaller community id; all gated moves apply
  simultaneously.  The output is mirrored exactly by the sequential
  kernel (kernels.louvain_moves) — which makes even this heuristic
  value-hash-gateable.

Spark shape per round (2 data shuffles, both map-side combinable):

- e(v,C): directed edge table joins the label table on dst, then one
  (src, community) count — the big shuffle, partial-aggregated map-side
  (hub fan-in collapses to one row per (vertex, community, partition));
- vol(C): label table joins the static degree table, one community sum —
  community-count-sized, broadcast back;
- the candidate table unions an explicit "stay" row (staying needs no
  edge into your own community), computes the integer key, and one
  ``min(struct(-key, community))`` per vertex picks the winner.

Lineage: per-round labels are ``cut_lineage`` leaves, superseded leaves
released once the successor materializes (engine-wide discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.superstep import cut_lineage, project, release, superstep_state_side


def louvain_moves(edges: DataFrame, max_rounds: int = 6) -> DataFrame:
    """Undirected edges (src, dst) -> DataFrame[v, community] after
    exactly ``max_rounds`` gated synchronous modularity-gain label
    moves.  Duplicate / reversed edges and self-loops are canonicalized
    away first.

    Integer-domain bound: the BIGINT gain key ``2m*e - deg*vol`` (and the
    ``modularity`` readout's ``vol^2``) stays inside int64 only while
    ``m <= ~1.5e9`` edges (vol <= 2m, so vol^2 < 2^63 requires
    m < 2^30.5).  Past that, Spark 4's ANSI mode aborts rather than
    silently wrapping; shard such graphs or widen the key to
    DECIMAL(38,0) (at a measured ~2x aggregate cost, which is why the
    int64 fast path is the default)."""
    canon = cut_lineage(
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    m = canon.count()
    if m == 0:
        release(canon)
        raise ValueError("louvain_moves: empty edge table")
    dir_e = canon.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        canon.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    dir_e = dir_e.repartition("dst").persist()
    deg = dir_e.groupBy(F.col("src").alias("v")).agg(
        F.count("*").alias("deg")
    )
    # the static per-vertex degree rides INSIDE the label state (one
    # extra long per row on a leaf that is rewritten every round anyway):
    # vol(C) becomes a plain rollup of the state and the winner pick
    # needs one state join instead of separate deg + current-label joins
    labels = cut_lineage(
        deg.select("v", F.col("v").alias("c"), "deg")
    )
    n_verts = labels.count()
    def _gate(col, rnd):
        # md5-parity move gate (mirrored bit-for-bit in the kernel)
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.lit(rnd), col.cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 2
            == 0
        )

    for rnd in range(max_rounds):
        # the gate is applied UPSTREAM of the round's big shuffle:
        # ungated vertices contribute no (src, community) messages at all,
        # halving the dominant exchange instead of discarding its result
        gated_e = dir_e.filter(_gate(F.col("src"), rnd))
        # e(v, C): one map-side-combinable count per (gated vertex,
        # neighbor community)
        # deliberate label-side strategy (superstep_state_side): the
        # stats-free cut leaf otherwise makes the planner broadcast the
        # gated edge filter — a serial |E|/2-row broadcast build per round
        evc = (
            gated_e.join(
                superstep_state_side(
                    labels.select(F.col("v").alias("dst"), F.col("c")),
                    n_verts,
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("v"), "c")
            .agg(F.count("*").alias("e"))
        )
        # vol(C): community-sized rollup straight off the state (deg
        # rides in the label rows — no join; needs ALL vertices, gated
        # or not)
        vol = labels.groupBy("c").agg(F.sum("deg").alias("vol"))
        cur_gated = labels.filter(_gate(F.col("v"), rnd)).select(
            "v", F.col("c").alias("cur_c"), "deg"
        )
        # candidates = neighbor communities UNION the explicit stay row
        # (e=0 when v has no edge into its own community).  No dedupe
        # aggregate: when the real e(v, cur_c) row exists alongside the
        # stay row, its key is >= the stay key (they differ by
        # 2m*e >= 0) with the same community id, so min(struct(-key, c))
        # picks the identical winner either way — the old
        # groupBy(v, c).max(e) re-shuffled the whole candidate table
        # only to fold a duplicate that can never win.
        cands = evc.unionByName(
            cur_gated.select(
                "v", F.col("cur_c").alias("c"), F.lit(0).alias("e")
            )
        )
        key = (
            F.lit(2 * m) * F.col("e")
            - F.col("deg")
            * (F.col("vol") - F.when(F.col("c") == F.col("cur_c"), F.col("deg")).otherwise(F.lit(0)))
        ).cast("long")
        picked = (
            cands.join(F.broadcast(vol), "c")
            .join(cur_gated, "v")
            .select(
                "v",
                F.struct((-key).alias("nk"), F.col("c")).alias("cand"),
                "deg",
            )
            .groupBy("v", "deg")
            .agg(F.min("cand").alias("best"))
        )
        labels_new = cut_lineage(
            picked.select("v", F.col("best.c").alias("c"), "deg").unionByName(
                labels.filter(~_gate(F.col("v"), rnd))
            )
        )
        release(labels)
        labels = labels_new
    dir_e.unpersist()
    release(canon)
    return project(labels, "v", F.col("c").alias("community"))


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity of a labeling, as EXACT INTEGERS:
    Q = sum_C [e_in(C)/m - (vol(C)/2m)^2]
      = sum_C [4m*e_in(C) - vol(C)^2] / (4m^2)  — numerator and
    denominator are BIGINTs, so the quality readout is engine-exact; the
    float ``modularity`` column is the single correctly-rounded IEEE
    division q_num/q_den.  One row:
    (n_communities, q_num, q_den, modularity).

    Shape: a canonical-edge double label join for e_in(C) (both sides
    broadcast-able when the label table is small; equi-joins on vertex id
    otherwise), a community-sized degree rollup for vol(C), one final
    single-row aggregate."""
    canon = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    m = canon.count()
    if m == 0:
        raise ValueError("modularity: empty edge table")
    lab = labels.select("v", F.col(labels.columns[1]).alias("c"))
    dir_e = canon.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        canon.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = dir_e.groupBy(F.col("src").alias("v")).agg(F.count("*").alias("deg"))
    e_in = (
        canon.join(lab.select(F.col("v").alias("a"), F.col("c").alias("ca")), "a")
        .join(lab.select(F.col("v").alias("b"), F.col("c").alias("cb")), "b")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count("*").alias("e_in"))
    )
    vol = (
        lab.join(deg, "v").groupBy("c").agg(F.sum("deg").alias("vol"))
    )
    per_c = vol.join(e_in, "c", "left").select(
        "c",
        (
            F.lit(4 * m) * F.coalesce(F.col("e_in"), F.lit(0))
            - F.col("vol") * F.col("vol")
        ).cast("long").alias("contrib"),
    )
    q_den = 4 * m * m
    return per_c.agg(
        F.count("*").alias("n_communities"),
        F.sum("contrib").cast("long").alias("q_num"),
        F.lit(q_den).cast("long").alias("q_den"),
        (F.sum("contrib").cast("double") / F.lit(float(q_den))).alias("modularity"),
    )
