"""Span self time and the event-log parser's job-to-span mapping."""

import json

import pytest

import tracing
from tracing import Span


def test_self_time_subtracts_union_of_children():
    root = Span(1, "op", None, 0.0, 10.0)
    spans = [
        root,
        Span(2, "a", 1, 1.0, 4.0),
        Span(3, "b", 1, 3.0, 5.0),   # overlaps a: union 1..5
        Span(4, "c", 1, 9.0, 12.0),  # clipped to the parent: 9..10
        Span(5, "d", 2, 1.5, 2.0),   # grandchild: not a direct child
    ]
    assert tracing.self_time(root, spans) == pytest.approx(10.0 - 4.0 - 1.0)
    assert tracing.self_time(spans[1], spans) == pytest.approx(3.0 - 0.5)
    assert tracing.self_time(spans[4], spans) == pytest.approx(0.5)


def _event_log(run):
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1500,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": f"{run}:2"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3500,
         "Stage IDs": [1, 2], "Properties": {}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 99000,
         "Stage IDs": [3], "Properties": {}},
    ]
    def task(stage, run_ms, **m):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 1,
                                 "Disk Bytes Spilled": 0,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 2_000_000},
                                 "Input Metrics": {"Records Read": 7},
                                 "Output Metrics": {"Records Written": 0}, **m}}
    ev += [task(0, 100), task(0, 300), task(1, 200), task(2, 400), task(3, 50)]
    ev[-2]["Task Info"] = {"Accumulables": [
        {"Name": "time to run Python workers", "Update": 250},
        {"Name": "duration", "Update": 999},
    ]}
    return [json.dumps(e) for e in ev]


def test_parser_maps_jobs_to_spans():
    run = "r1"
    spans = [
        Span(1, "op", None, 1.0, 5.0),
        Span(2, "sinks.merge_into_versioned", 1, 1.2, 3.0),
        Span(3, "streaming.apply_join_batch", 1, 3.2, 4.8),
    ]
    jobs, tasks = tracing.parse_event_log(_event_log(run))
    assert len(tasks) == 5
    # job 0 by its group, job 1 by time (untagged, inside span 3),
    # job 2 falls outside every span
    assert tracing.attribute_jobs(jobs, spans, run) == {0: 2, 1: 3}
    out = tracing.span_stats(spans, jobs, tasks, run, cores=4)
    # stage 1 ran in job 0 (first to list it); job 1 only adds stage 2
    assert out["sinks.merge_into_versioned.n_tasks"] == 3
    assert out["sinks.merge_into_versioned.task_s"] == pytest.approx(0.6)
    assert out["sinks.merge_into_versioned.task_skew"] == pytest.approx(1.5)
    assert out["sinks.merge_into_versioned.shuffle_mb"] == pytest.approx(6.0)
    assert out["sinks.merge_into_versioned.idle_core_s"] == pytest.approx(1.8 * 4 - 0.6)
    assert out["streaming.apply_join_batch.task_s"] == pytest.approx(0.4)
    assert out["streaming.apply_join_batch.input_records"] == 7
    assert tasks[3].python_s == pytest.approx(0.25)
    assert out["operators.similarity.wall_s"] == 0.0


def test_per_layer_names_are_unique_and_bounded():
    names = tracing.per_layer_names()
    assert len(names) == len(set(names)) < 128
