"""The benchmark's workloads: seeded set-up, the timed operations, and the
output checks that run after the timed region.

A workload lists its operations as (span name, callable).  Each pass calls
them in order on one driver thread (a closed loop with one client); the
operator modules are imported inside the callables so that the traced run
can wrap the superstep machinery first.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import math
import os
import re
import shutil
from statistics import median

import numpy as np

from perfbench.inputs import copurchase_edges

# synthesize_pages gives each page one hub link plus 1..7 spread links,
# exactly one when (seed + 13) is a multiple of 7, as for seed 1: the
# sparser graph converges to 1e-6 in 17 supersteps where a 1..7 mix takes
# 26, which keeps one pass inside this benchmark's time budget
PAGES_SEED = 1


def digest(rows) -> str:
    """sha256 of a sorted, rounded row list: equal outputs, equal digests."""
    h = hashlib.sha256()
    for row in sorted(rows):
        h.update(repr(row).encode())
    return h.hexdigest()[:16]


class CrawlRank:
    """extract -> pagerank (tol 1e-6, durable checkpoint per superstep) ->
    cc (durable checkpoints), through the spark-submit entry point."""

    name = "crawl_rank"
    pages = 6_000

    def __init__(self, spark, work, seed: int):
        self.spark = spark
        self.seed = seed
        d = work.data
        self.paths = {
            k: os.path.join(d, k) for k in ("pages", "edges", "pr", "cc", "ckpt")
        }
        self.sizes: dict = {"pages": self.pages}
        self._oracle: dict | None = None
        self.pr_metrics: list[dict] = []

    # -- set-up -----------------------------------------------------------
    def setup(self) -> None:
        from dachshund_spark.sources.pages import synthesize_pages

        # The link structure is fixed (PAGES_SEED): the superstep count to
        # 1e-6 would otherwise change with the seed.  The workload seed picks
        # the number of sites, which renames every url and with it every
        # vertex id, but not the graph's shape.
        synthesize_pages(
            self.spark, self.pages, n_sites=97 + self.seed % 9973, seed=PAGES_SEED
        ).write.mode("overwrite").parquet(self.paths["pages"])

    def prepare_pass(self) -> None:
        # jobs.py's checkpoint fingerprint is the same on every pass, so a
        # leftover checkpoint would resume pagerank/cc at their last step
        for k in ("edges", "pr", "cc", "ckpt"):
            shutil.rmtree(self.paths[k], ignore_errors=True)

    # -- timed operations ----------------------------------------------------
    def _main(self, *argv):
        from dachshund_spark import jobs

        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            jobs.main(list(argv), _spark=self.spark)
        return out.getvalue()

    def ops(self):
        p = self.paths
        return [
            ("jobs.extract", lambda: self._main(
                "extract", "--input", p["pages"], "--output", p["edges"])),
            ("jobs.pagerank", lambda: self._main(
                "pagerank", "--input", p["edges"], "--output", p["pr"],
                "--tol", "1e-6", "--checkpoint-dir", p["ckpt"])),
            ("jobs.cc", lambda: self._main(
                "cc", "--input", p["edges"], "--output", p["cc"],
                "--checkpoint-dir", p["ckpt"])),
        ]

    # -- checks (outside the timed region) -----------------------------------
    def _expected_edges(self) -> int:
        """Edge count recomputed from the pages' html in Python: distinct
        in-crawl href targets per page."""
        pages = self.spark.read.parquet(self.paths["pages"]).select(
            "url", "html").toPandas()
        crawled = set(pages["url"])
        href = re.compile(rb'href="([^"]+)"')
        return sum(
            len({t for t in href.findall(bytes(h)) if t.decode() in crawled})
            for h in pages["html"]
        )

    def oracle(self, edges) -> dict:
        if self._oracle is None:
            import networkx as nx

            from dachshund_spark.functions.kernels import pagerank_numpy

            pairs = list(zip(edges["src"].tolist(), edges["dst"].tolist()))
            g = nx.Graph()
            g.add_edges_from(pairs)
            self._oracle = {
                "n_edges": self._expected_edges(),
                "pagerank": pagerank_numpy(pairs, tol=1e-6),
                "components": nx.number_connected_components(g),
                "vertices": set(g.nodes),
            }
            self.sizes.update(edges=len(pairs), vertices=g.number_of_nodes())
        return self._oracle

    def check(self, op: str, out) -> tuple[bool, str, str]:
        """(ok, digest, detail) for one operation's output."""
        edges = self.spark.read.parquet(self.paths["edges"]).toPandas()
        want = self.oracle(edges)
        if op == "jobs.extract":
            pairs = list(zip(edges["src"].tolist(), edges["dst"].tolist()))
            ok = len(pairs) == want["n_edges"]
            return ok, digest(pairs), f"{len(pairs)} edges, want {want['n_edges']}"
        if op == "jobs.pagerank":
            res = json.loads(out.strip().splitlines()[-1])
            self.pr_metrics = res["metrics"]
            self.sizes["supersteps"] = res["iterations"]
            pr = self.spark.read.parquet(self.paths["pr"]).toPandas()
            exp = want["pagerank"]
            got = dict(zip(pr["v"].tolist(), pr["pagerank"].tolist()))
            ok = (
                res["converged"]
                and set(got) == set(exp)
                and np.allclose(
                    [got[v] for v in exp], list(exp.values()), rtol=0, atol=1e-6)
            )
            rows = [(v, round(x, 10)) for v, x in got.items()]
            return ok, digest(rows), f"{res['iterations']} supersteps"
        if op == "jobs.cc":
            cc = self.spark.read.parquet(self.paths["cc"]).toPandas()
            n = cc["component"].nunique()
            ok = n == want["components"] and set(cc["v"]) == want["vertices"]
            rows = list(zip(cc["v"].tolist(), cc["component"].tolist()))
            return ok, digest(rows), f"{n} components, want {want['components']}"
        raise KeyError(op)

    def pr_edges_per_s(self) -> float:
        """Input edges / median steady superstep seconds (the first two
        supersteps skipped), from pagerank's own SuperstepMetrics."""
        steady = [m["seconds"] for m in self.pr_metrics[2:]]
        return self.sizes["edges"] / median(steady) if steady else 0.0


class CopurchasePeel:
    """global_stats -> coreness -> k-truss -> sampled betweenness, both the
    task-parallel and the superstep path, on one cached co-purchase graph."""

    name = "copurchase_peel"
    parts, orders, width = 600, 3000, 12
    truss_k = 8
    bc_sources = 8

    def __init__(self, spark, work, seed: int):
        self.spark = spark
        self.seed = seed
        self.scratch = os.path.join(work.data, "bc_scratch")
        self.graph = None
        self.sizes: dict = {}
        self._oracle: dict | None = None
        self._bc_taskpar = None

    def setup(self) -> None:
        g = copurchase_edges(
            self.spark, self.seed, self.parts, self.orders, self.width)
        self.graph = g.repartition(self.spark.sparkContext.defaultParallelism).persist()
        self.graph.count()

    def prepare_pass(self) -> None:
        self._bc_taskpar = None

    def ops(self):
        from dachshund_spark.operators import centrality, coreness, triangles

        g, s = self.graph, self.seed
        return [
            ("operators.triangles", lambda: triangles.global_stats(g)),
            ("operators.coreness", lambda: coreness.coreness(g).toPandas()),
            ("operators.ktruss",
             lambda: coreness.k_truss_edges(g, self.truss_k).toPandas()),
            ("operators.bc_taskpar", lambda: centrality.betweenness(
                g, max_sources=self.bc_sources, seed=s, scratch_dir=self.scratch
            ).toPandas()),
            ("operators.bc_superstep", lambda: centrality.betweenness_superstep(
                g, max_sources=self.bc_sources, seed=s).toPandas()),
        ]

    def oracle(self) -> dict:
        if self._oracle is None:
            import networkx as nx

            e = self.graph.toPandas()
            g = nx.Graph()
            g.add_edges_from(zip(e["src"].tolist(), e["dst"].tolist()))
            truss = nx.k_truss(g, self.truss_k)
            self._oracle = {
                "triangles": sum(nx.triangles(g).values()) // 3,
                "core": nx.core_number(g),
                "truss": {(min(a, b), max(a, b)) for a, b in truss.edges},
            }
            self.sizes.update(edges=g.number_of_edges(), vertices=g.number_of_nodes())
        return self._oracle

    def check(self, op: str, out) -> tuple[bool, str, str]:
        want = self.oracle()
        if op == "operators.triangles":
            ok = out["triangles"] == want["triangles"]
            return ok, digest(sorted(out.items())), f"{out['triangles']} triangles"
        if op == "operators.coreness":
            got = dict(zip(out["v"].tolist(), out["coreness"].tolist()))
            ok = got == want["core"]
            return ok, digest(got.items()), f"max coreness {max(got.values())}"
        if op == "operators.ktruss":
            got = set(zip(out["src"].tolist(), out["dst"].tolist()))
            ok = got == want["truss"]
            return ok, digest(got), f"{len(got)} {self.truss_k}-truss edges"
        if op == "operators.bc_taskpar":
            self._bc_taskpar = dict(zip(out["v"].tolist(), out["betweenness"].tolist()))
            ok = set(self._bc_taskpar) == set(want["core"])
            rows = [(v, round(x, 9)) for v, x in self._bc_taskpar.items()]
            return ok, digest(rows), f"{len(rows)} vertices"
        if op == "operators.bc_superstep":
            got = dict(zip(out["v"].tolist(), out["betweenness"].tolist()))
            ref = self._bc_taskpar or {}
            ok = set(got) == set(ref) and all(
                math.isclose(got[v], ref[v], rel_tol=0, abs_tol=1e-9) for v in got)
            rows = [(v, round(x, 9)) for v, x in got.items()]
            return ok, digest(rows), "agrees with bc_taskpar within 1e-9" if ok else "differs"
        raise KeyError(op)


WORKLOADS = {w.name: w for w in (CrawlRank, CopurchasePeel)}
