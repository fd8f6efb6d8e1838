"""Link-graph benchmark runner.

    python3 perfbench/run.py --workload crawl_rank --seed 1 --seconds 20 --trace 0

Set-up (session start, warm-up query, input generation) runs several times
and reports its median as ``setup_s``.  The workload's operations then run
in passes, one after another on this thread, until ``--seconds`` have
passed (at least one pass); ``job_s`` is the median pass time.  Outputs are
checked after each pass, outside the timed region.  ``--trace 1`` runs one
traced pass instead and reports the per-layer metrics.

The last line of stdout is one JSON object: correct, attempted, failed,
metrics.  A record with provenance, every pass and every check is written
to ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path
from statistics import median

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.env import (  # noqa: E402
    Workdir, jvm_gc_seconds, jvm_peak_rss_mb, own_process_env, provenance,
    start_session, stop_jvm,
)

SETUPS = 3
END_TO_END = (("setup_s", "s"), ("job_s", "s"))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def warm_up(spark) -> None:
    """Compile the common join and aggregate code paths."""
    a = spark.range(100_000).selectExpr("id", "id % 97 AS k")
    a.join(a.selectExpr("id", "k AS k2"), "id").groupBy("k").count().collect()


def set_up(work, workload_cls, seed, trace):
    """Run set-up SETUPS times (the session restarts in the same JVM) and
    keep the last session and workload."""
    spark, times, gen, start_s = None, [], [], None
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session(work, event_log=bool(trace))
        t1 = time.perf_counter()
        warm_up(spark)
        wl = workload_cls(spark, work, seed)
        t2 = time.perf_counter()
        wl.setup()
        t3 = time.perf_counter()
        start_s = t1 - t0 if start_s is None else start_s
        times.append(t3 - t0)
        gen.append(t3 - t2)
    return spark, wl, {"setup_s": times, "start_s": start_s, "input_gen_s": gen}


def run_pass(wl, tracer):
    """Timed operations of one pass, then their checks.  Returns (seconds,
    per-op records, op outputs)."""
    wl.prepare_pass()
    outs, records = {}, {}
    t0 = time.perf_counter()
    for op, fn in wl.ops():
        t = time.perf_counter()
        try:
            with tracer.span(op) if tracer else nullcontext():
                outs[op] = fn()
            records[op] = {"seconds": time.perf_counter() - t}
        except Exception:  # a failed operation is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            records[op] = {"seconds": time.perf_counter() - t, "ok": False,
                           "detail": "raised"}
    seconds = time.perf_counter() - t0
    for op, out in outs.items():
        try:
            ok, dig, detail = wl.check(op, out)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok, dig, detail = False, None, "check raised"
        records[op].update(ok=bool(ok), digest=dig, detail=detail)
    return seconds, records


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import dachshund_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = Workdir(args.workload)
    work.reset()
    own_process_env(work)
    tracer = None
    if args.trace:
        from perfbench.spans import Tracer, install_wrappers

        tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{time.time():.0f}")
        install_wrappers(tracer)

    spark = None
    try:
        spark, wl, setup = set_up(work, WORKLOADS[args.workload], args.seed, args.trace)
        gc_after_setup = jvm_gc_seconds(spark)
        prov = provenance(spark, args.workload, args.seed, bool(args.trace))
        if tracer:
            tracer.sc = spark.sparkContext
        passes = []
        t_meas = time.perf_counter()
        while True:
            seconds, records = run_pass(wl, tracer)
            passes.append({"seconds": seconds, "ops": records})
            if tracer or time.perf_counter() - t_meas >= args.seconds:
                break
        attempted = sum(len(p["ops"]) for p in passes)
        failed = sum(not r["ok"] for p in passes for r in p["ops"].values())
        pr_eps = wl.pr_edges_per_s() if hasattr(wl, "pr_edges_per_s") else None
        job_s = median(p["seconds"] for p in passes)
        if tracer:
            from perfbench.eventlog import read_log
            from perfbench.layers import metric_specs, per_layer

            rss = jvm_peak_rss_mb()
            spark.stop()  # flushes the event log
            stages, jobs = read_log(work.eventlog)
            values = per_layer(tracer, stages, jobs, {
                "session.start_s": setup["start_s"],
                "session.jvm_gc_s": gc_after_setup,
                "session.driver_peak_rss_mb": rss,
                "sources.input_gen_s": median(setup["input_gen_s"]),
                "sources.input_edges": wl.sizes.get("edges", 0),
                "sources.input_vertices": wl.sizes.get("vertices", 0),
                "superstep.pagerank.edges_per_s": pr_eps or 0.0,
            })
            metrics = {n: {"value": values[n], "unit": u} for n, u, _ in metric_specs()}
        else:
            values = {"setup_s": median(setup["setup_s"]), "job_s": job_s}
            metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
        record = {
            "provenance": prov,
            "sizes": wl.sizes,
            "pr_edges_per_s": pr_eps,
            "setup": setup,
            "passes": passes,
            "metrics": metrics,
        }
        if tracer:
            record["spans"] = [s.__dict__ for s in tracer.spans]
    finally:
        stop_jvm(spark)
        work.remove()

    out = work.results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    out.write_text(json.dumps(record, indent=1, default=str))
    summary = {
        "setup_s": f"{median(setup['setup_s']):.3f} s",
        "job_s": f"{job_s:.3f} s",
        "fail_ratio": f"{failed / attempted:.3f} (of {attempted} operations)",
        "passes": len(passes),
    }
    if pr_eps is not None:
        summary["pr_edges_per_s"] = f"{pr_eps:.0f} edges/s"
    print(json.dumps({"summary": summary, "sizes": wl.sizes, "record": str(out)}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
