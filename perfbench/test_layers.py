"""Tests for the benchmark's pure logic: job attribution, self time,
the tail-percentile rule, and metric names and units.

    python3 -m pytest perfbench/test_layers.py -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from layers import (  # noqa: E402
    Job,
    Span,
    Stage,
    Task,
    attribute_jobs,
    covered,
    driver_time,
    parse_events,
    percentile,
    rollup,
    self_times,
    span_costs,
    tail_percentile,
)
from metrics import END_TO_END, PER_LAYER  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def valid_metric_name(name: str) -> bool:
    return NAME_RE.fullmatch(name) is not None


def valid_unit(unit: str) -> bool:
    return UNIT_RE.fullmatch(unit) is not None


def _spans():
    # request r1: query.topk [10, 20] with a nested child [12, 15], and
    # a sibling of query.topk that overlaps it, [14, 30]
    return [
        Span("a", "bench.timed", 0.0, 40.0),
        Span("b", "query.topk", 10.0, 20.0, parent="a", request="r1"),
        Span("c", "query.inner", 12.0, 15.0, parent="b", request="r1"),
        Span("d", "positions.build_positions", 14.0, 30.0, parent="a"),
    ]


def test_attribution_by_group_wins_over_time():
    jobs = {1: Job(1, submit=25.0, end=26.0, group="b", stages=[])}
    assert attribute_jobs(jobs, _spans()) == {1: "b"}


def test_attribution_by_time_picks_innermost_open_span():
    jobs = {
        1: Job(1, submit=13.0, end=13.5, group=None, stages=[]),  # a, b, c open -> c
        2: Job(2, submit=16.0, end=16.5, group=None, stages=[]),  # a, b, d open -> d (latest start)
        3: Job(3, submit=35.0, end=36.0, group=None, stages=[]),  # only a
        4: Job(4, submit=50.0, end=51.0, group=None, stages=[]),  # outside every span
        5: Job(5, submit=11.0, end=12.0, group="unknown-group", stages=[]),  # falls back to time
    }
    assert attribute_jobs(jobs, _spans()) == {1: "c", 2: "d", 3: "a", 4: None, 5: "b"}


def test_attribution_tie_on_start_prefers_deeper_span():
    spans = [Span("p", "bench.timed", 0.0, 10.0), Span("k", "query.topk", 0.0, 5.0, parent="p")]
    jobs = {1: Job(1, submit=0.0, end=1.0, group=None, stages=[])}
    assert attribute_jobs(jobs, spans) == {1: "k"}


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("p", "bench.ingest", 0.0, 10.0),
        Span("x", "stats.prepare_docs", 1.0, 4.0, parent="p"),
        Span("y", "build.build_index", 3.0, 6.0, parent="p"),  # overlaps x
        Span("z", "positions.build_positions", 9.0, 12.0, parent="p"),  # runs past parent end
    ]
    st = self_times(spans)
    assert st["p"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st["x"] == pytest.approx(3.0)
    assert st["z"] == pytest.approx(3.0)


def test_covered_merges_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert covered([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == pytest.approx(1.0)
    assert covered([], 0, 1) == 0.0


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50.0
    assert tail_percentile(39) == 50.0
    assert tail_percentile(40) == 75.0
    assert tail_percentile(99) == 75.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(200) == 95.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10000) == 99.9


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 90) == pytest.approx(4.6)


def test_metric_name_and_unit_format():
    for ok in ("setup_s", "query.or.p50_s", "spark.tasks_failed", "a-b.c_d", "9lives"):
        assert valid_metric_name(ok)
    for bad in ("", ".x", "_x", "query or", "query/or", "x" * 65, "naïve"):
        assert not valid_metric_name(bad)
    for ok in ("ms", "s", "1/s", "count", "%", "docs/s", "MB"):
        assert valid_unit(ok)
    assert not valid_unit("bytes per second")


def test_catalogue_names_and_units_are_valid():
    names = list(END_TO_END) + list(PER_LAYER)
    assert len(names) == len(set(names))
    for name, unit in {**END_TO_END, **PER_LAYER}.items():
        assert valid_metric_name(name) and valid_unit(unit), name
    assert "setup_s" in END_TO_END


def _task(stage, launch, metrics):
    base = dict.fromkeys(
        ["cpu_s", "gc_s", "spill_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
         "input_bytes", "input_rows", "output_bytes", "python_run_s", "python_bytes_in",
         "python_bytes_out"], 0)
    base.update(metrics)
    return Task(stage=stage, launch=launch, failed=False, metrics=base)


def test_span_costs_rollup_and_driver_time():
    spans = _spans()
    jobs = {
        1: Job(1, submit=13.0, end=14.0, group=None, stages=[0]),  # -> c (child of b)
        2: Job(2, submit=17.0, end=18.0, group="b", stages=[1, 2]),  # stage 2 skipped
    }
    stages = {
        0: Stage(0, submit=13.0, tasks=[_task(0, 13.25, {"input_bytes": 100, "cpu_s": 0.5})]),
        1: Stage(1, submit=17.0, tasks=[_task(1, 17.5, {"input_bytes": 50}),
                                        _task(1, 17.75, {"python_run_s": 0.2})]),
        2: Stage(2, submit=17.5, tasks=[]),
    }
    costs = span_costs(jobs, stages, attribute_jobs(jobs, spans))
    b = rollup(spans, costs, "b")
    assert (b.jobs, b.tasks) == (2, 3)
    assert b.get("input_bytes") == 150
    assert b.get("python_run_s") == pytest.approx(0.2)
    assert b.task_wait_s == pytest.approx(0.25 + 0.5)
    # b spans [10, 20]; its own job covers [17, 18]
    assert driver_time(spans[1], costs["b"]) == pytest.approx(9.0)


def test_parse_events_reads_groups_tasks_and_python_accumulables():
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 7, "Submission Time": 1000,
         "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "bench-span-4"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 3, "Submission Time": 1010}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
         "Task Info": {"Launch Time": 1020, "Finish Time": 1500, "Failed": False,
                       "Accumulables": [
                           {"Name": "time to run Python workers", "Update": "250"},
                           {"Name": "data sent to Python workers", "Update": "4096"},
                           {"Name": "internal.metrics.executorRunTime", "Update": 480}]},
         "Task Metrics": {"Executor Run Time": 480, "Executor CPU Time": 2_000_000,
                          "Input Metrics": {"Bytes Read": 64, "Records Read": 2},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 32}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 7, "Completion Time": 1600},
    ]
    jobs, stages = parse_events(json.dumps(e) for e in lines)
    job = jobs[7]
    assert (job.group, job.submit, job.end, job.stages) == ("bench-span-4", 1.0, 1.6, [3])
    (t,) = stages[3].tasks
    assert stages[3].submit == pytest.approx(1.01)
    assert t.metrics["python_run_s"] == pytest.approx(0.25)
    assert t.metrics["python_bytes_in"] == 4096
    assert t.metrics["cpu_s"] == pytest.approx(0.002)
    assert (t.metrics["input_bytes"], t.metrics["input_rows"]) == (64, 2)
    assert t.metrics["shuffle_write_bytes"] == 32
