"""Self-tests of the benchmark: span arithmetic, event-log attribution on a
tiny traced Spark run, the seeded relabelling, and the run contract.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench.inputs import PRIME, relabel_params, unrelabel  # noqa: E402
from perfbench.layers import accounted_ratio, metric_specs, per_layer  # noqa: E402
from perfbench.spans import Span, Tracer, round_seconds, self_times, union_length  # noqa: E402


def _span(i, parent, start, end, name="s"):
    return Span(id=i, name=name, parent=parent, start=start, end=end, run_id="t")


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_length([(2, 3), (0, 10)]) == pytest.approx(10.0)


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps its sibling: counted once
        _span(3, 1, 1.5, 2.5),
        _span(4, 0, 9.0, 12.0),  # runs past its parent: clipped
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert selfs[1] == pytest.approx(3.0 - 1.0)
    assert selfs[2] == pytest.approx(3.0)
    assert selfs[3] == pytest.approx(1.0)


def test_subtree_self_times_sum_to_wall():
    tracer = Tracer("t")
    tracer.spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 1, 2.0, 3.0),
        _span(3, 0, 5.0, 9.5),
    ]
    selfs = self_times(tracer.spans)
    assert accounted_ratio(tracer, tracer.spans[0], selfs) == pytest.approx(1.0)


def test_round_seconds_are_gaps_between_boundaries():
    op = _span(0, None, 10.0, 20.0)
    bounds = [_span(2, 0, 12.5, 13.0), _span(1, 0, 11.0, 12.0), _span(3, 0, 14.0, 16.0)]
    assert round_seconds(op, bounds) == pytest.approx([2.0, 1.0, 3.0])


def test_tracer_nests_and_closes_spans():
    tracer = Tracer("t")
    with tracer.span("a"):
        with tracer.span("b"):
            pass
        with pytest.raises(ValueError):
            with tracer.span("c"):
                raise ValueError
    a, b, c = tracer.spans
    assert (a.parent, b.parent, c.parent) == (None, a.id, a.id)
    assert all(s.end >= s.start > 0 for s in tracer.spans)
    assert [s.name for s in tracer.subtree(a)][0] == "a"


@pytest.mark.parametrize("seed", [0, 1, 7, 12345, 2**40 + 3])
def test_relabel_is_a_bijection(seed):
    a, b = relabel_params(seed)
    assert 0 < a < PRIME
    ids = range(5000)
    images = [(a * v + b) % PRIME for v in ids]
    assert len(set(images)) == len(images)
    assert [unrelabel(x, seed) for x in images] == list(ids)


def test_benchmark_json_lists_every_metric_the_runner_prints():
    from perfbench.run import END_TO_END

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    listed = [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]]
    assert listed == metric_specs()
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(END_TO_END)
    names = [m["name"] for m in bench["per_layer"] + bench["end_to_end"]]
    assert len(names) == len(set(names)) and len(bench["per_layer"]) <= 128
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert "setup_s" in names


def test_run_fails_without_the_package(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_rank",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    if SparkSession.getActiveSession() is not None:
        pytest.skip("needs its own SparkSession (event log is a start-up setting)")
    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(log_dir))
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    yield spark, str(log_dir)
    spark.stop()


def test_relabel_expression_matches_python(traced_spark):
    from pyspark.sql import functions as F

    from perfbench.inputs import relabel

    spark, _ = traced_spark
    seed = 99
    got = [r[0] for r in spark.range(1000).select(relabel(F.col("id"), seed)).collect()]
    a, b = relabel_params(seed)
    assert got == [(a * v + b) % PRIME for v in range(1000)]


def test_event_log_attributes_stages_to_spans(traced_spark):
    from perfbench.eventlog import read_log
    from perfbench.inputs import copurchase_edges

    spark, log_dir = traced_spark
    tracer = Tracer("t", sc=spark.sparkContext)
    g = copurchase_edges(spark, seed=3, parts=60, orders=200, width=6).persist()
    with tracer.span("operators.triangles"):
        with tracer.span("superstep.cut"):
            g.count()
        g.groupBy("src").count().collect()
    spark.range(10).count()  # outside every span: no group
    with tracer.span("operators.coreness"):
        g.select("dst").distinct().count()
    # the event log is complete once the application ends
    spark.sparkContext.stop()
    stages, jobs = read_log(log_dir)
    top, cut, core = tracer.spans
    groups = {st.group for st in stages.values()}
    assert {top.group, cut.group, core.group} <= groups
    assert None in set(jobs.values())
    assert set(jobs.values()) - {None} <= {s.group for s in tracer.spans}
    values = per_layer(tracer, stages, jobs, {})
    assert values["operators.triangles.jobs"] >= 2
    assert values["operators.triangles.tasks"] >= 2
    assert values["operators.coreness.jobs"] >= 1
    assert values["operators.ktruss.jobs"] == 0
    assert values["superstep.cuts"] == 1
    for op in ("operators.triangles", "operators.coreness"):
        wall = values[f"{op}.wall_s"]
        assert 0 <= values[f"{op}.driver_gap_s"] <= wall
    assert values["trace.accounted_ratio"] == pytest.approx(1.0)
