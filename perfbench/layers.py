"""Per-layer metrics of one traced pass, named after the package's modules.

Every workload reports every metric; a layer the workload never enters
reads 0.  MB is 10^6 bytes.
"""

from __future__ import annotations

from statistics import median

from perfbench.eventlog import StageStats
from perfbench.spans import Span, Tracer, round_seconds, self_times, union_length

OP_SPANS = (
    "jobs.extract", "jobs.pagerank", "jobs.cc",
    "operators.triangles", "operators.coreness", "operators.ktruss",
    "operators.bc_taskpar", "operators.bc_superstep",
)
OP_METRICS = (
    ("wall_s", "s"), ("driver_gap_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("jvm_gc_s", "s"),
    ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"), ("fetch_wait_s", "s"),
    ("spill_mb", "MB"), ("peak_exec_mem_mb", "MB"),
)
# superstep.<loop> -> the op span whose loop it is
LOOPS = {
    "pagerank": "jobs.pagerank", "cc": "jobs.cc", "coreness": "operators.coreness",
    "ktruss": "operators.ktruss", "bc_superstep": "operators.bc_superstep",
}
# functions.<kernel> -> the op span whose Python-worker stages it is
KERNELS = {"extract": "jobs.extract", "bc_kernel": "operators.bc_taskpar"}


def metric_specs() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    specs = [
        ("session.start_s", "s", "lower"),
        ("session.jvm_gc_s", "s", "lower"),
        ("session.driver_peak_rss_mb", "MB", "lower"),
        ("sources.input_gen_s", "s", "lower"),
        ("sources.input_edges", "count", "higher"),
        ("sources.input_vertices", "count", "higher"),
    ]
    for op in OP_SPANS:
        specs += [(f"{op}.{m}", unit, "lower") for m, unit in OP_METRICS]
    specs += [
        ("superstep.ckpt_write_s", "s", "lower"),
        ("superstep.ckpts", "count", "lower"),
        ("superstep.ckpt_mb", "MB", "lower"),
        ("superstep.cut_s", "s", "lower"),
        ("superstep.cuts", "count", "lower"),
    ]
    for loop in LOOPS:
        specs += [(f"superstep.{loop}.rounds", "count", "lower"),
                  (f"superstep.{loop}.round_s", "s", "lower")]
    specs.append(("superstep.pagerank.edges_per_s", "edges/s", "higher"))
    for k in KERNELS:
        specs += [(f"functions.{k}.python_mb_sent", "MB", "lower"),
                  (f"functions.{k}.python_mb_recv", "MB", "lower"),
                  (f"functions.{k}.python_stage_s", "s", "lower")]
    specs += [("trace.job_s", "s", "lower"), ("trace.accounted_ratio", "1", "higher")]
    return specs


def _clipped(stages: list[StageStats], span: Span):
    return [
        (max(st.start, span.start), min(st.end, span.end))
        for st in stages if st.end > span.start and st.start < span.end
    ]


def op_metrics(span: Span, stages: list[StageStats], n_jobs: int) -> dict:
    return {
        "wall_s": span.duration,
        "driver_gap_s": span.duration - union_length(_clipped(stages, span)),
        "jobs": n_jobs,
        "tasks": sum(st.tasks for st in stages),
        "executor_run_s": sum(st.run_s for st in stages),
        "executor_cpu_s": sum(st.cpu_s for st in stages),
        "jvm_gc_s": sum(st.gc_s for st in stages),
        "shuffle_read_mb": sum(st.shuffle_read_b for st in stages) / 1e6,
        "shuffle_write_mb": sum(st.shuffle_write_b for st in stages) / 1e6,
        "fetch_wait_s": sum(st.fetch_wait_s for st in stages),
        "spill_mb": sum(st.spill_b for st in stages) / 1e6,
        "peak_exec_mem_mb": max((st.peak_mem_b for st in stages), default=0) / 1e6,
    }


def accounted_ratio(tracer: Tracer, top: Span, selfs: dict[int, float]) -> float:
    """Sum of self times over a span's subtree, as a share of its wall."""
    return sum(selfs[s.id] for s in tracer.subtree(top)) / top.duration


def per_layer(
    tracer: Tracer,
    stages: dict[tuple, StageStats],
    jobs: dict[tuple, str | None],
    context: dict,
) -> dict[str, float]:
    """``context`` carries the set-up numbers (session.*, sources.*) and
    ``superstep.pagerank.edges_per_s``; the rest comes from the spans and
    the event log."""
    values = {name: 0.0 for name, _, _ in metric_specs()}
    values.update(context)
    by_group: dict[str, list[StageStats]] = {}
    for st in stages.values():
        by_group.setdefault(st.group, []).append(st)
    jobs_by_group: dict[str, int] = {}
    for g in jobs.values():
        jobs_by_group[g] = jobs_by_group.get(g, 0) + 1

    tops = [s for s in tracer.spans if s.parent is None]
    selfs = self_times(tracer.spans)
    for top in tops:
        tree = tracer.subtree(top)
        groups = {s.group for s in tree}
        st = [x for g in groups for x in by_group.get(g, ())]
        if top.name in OP_SPANS:
            n_jobs = sum(jobs_by_group.get(g, 0) for g in groups)
            for k, v in op_metrics(top, st, n_jobs).items():
                values[f"{top.name}.{k}"] = v
        for loop, op in LOOPS.items():
            if top.name != op:
                continue
            rounds = [s for s in tree if s.name == "superstep.round"]
            if not rounds:
                rounds = [s for s in tree if s.name == "superstep.cut"]
            if rounds:
                values[f"superstep.{loop}.rounds"] = len(rounds)
                values[f"superstep.{loop}.round_s"] = median(round_seconds(top, rounds))
        for kernel, op in KERNELS.items():
            if top.name != op:
                continue
            py = [x for x in st if x.py_sent_b or x.py_recv_b]
            values[f"functions.{kernel}.python_mb_sent"] = sum(x.py_sent_b for x in py) / 1e6
            values[f"functions.{kernel}.python_mb_recv"] = sum(x.py_recv_b for x in py) / 1e6
            values[f"functions.{kernel}.python_stage_s"] = union_length(_clipped(py, top))

    ckpts = [s for s in tracer.spans if s.name == "superstep.ckpt_write"]
    cuts = [s for s in tracer.spans if s.name == "superstep.cut"]
    values["superstep.ckpt_write_s"] = sum(s.duration for s in ckpts)
    values["superstep.ckpts"] = len(ckpts)
    values["superstep.ckpt_mb"] = sum(s.attrs.get("mb", 0.0) for s in ckpts)
    values["superstep.cut_s"] = sum(s.duration for s in cuts)
    values["superstep.cuts"] = len(cuts)
    values["trace.job_s"] = sum(t.duration for t in tops)
    values["trace.accounted_ratio"] = min(
        (accounted_ratio(tracer, t, selfs) for t in tops), default=1.0)
    return values
