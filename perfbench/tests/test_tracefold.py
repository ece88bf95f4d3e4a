"""Folding the event log: jobs, stages, tasks and micro-batches land on
the span that caused them, and stage time lands on the issuing module."""

from __future__ import annotations

import json

import pytest

import tracefold

PKG = "github_data_pipeline_spark"


def job(job_id, at, stages):
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": job_id,
        "Submission Time": at,
        "Stage IDs": stages,
        "Properties": {"spark.jobGroup.id": "x"},
    }


def stage(sid, start, end, name="save at NativeMethodAccessorImpl.java:0"):
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {
            "Stage ID": sid,
            "Stage Name": name,
            "Submission Time": start,
            "Completion Time": end,
        },
    }


def task(sid, launch, finish, run_ms, gc=0, shuffle_write=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": sid,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": gc,
            "Disk Bytes Spilled": spill,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
        },
    }


SPANS = [
    # step 0: a builder with eager work, then its noop action
    {"step": "0:a", "layer": "plans.builder", "module": f"{PKG}.plans.split_plans",
     "start_ms": 1000, "end_ms": 1100},
    {"step": "0:a", "layer": "plans.action", "module": f"{PKG}.plans.split_plans",
     "start_ms": 1100, "end_ms": 1300},
    # step 1: a streaming drain
    {"step": "1:s", "layer": "streaming.builder", "module": f"{PKG}.streaming",
     "start_ms": 2000, "end_ms": 2500},
]

EVENTS = [
    job(0, 1010, [0]),
    stage(0, 1010, 1090, name=f"py:{PKG}.operators.splits.assign"),
    task(0, 1020, 1080, run_ms=60, gc=5),
    job(1, 1120, [1, 2]),
    stage(1, 1120, 1200),
    stage(2, 1200, 1290),
    task(1, 1130, 1190, run_ms=55, shuffle_write=2 * 1024 * 1024),
    task(1, 1130, 1180, run_ms=45),
    task(2, 1210, 1280, run_ms=70, spill=1024 * 1024),
    job(2, 2100, [3]),
    stage(3, 2100, 2400, name="start at NativeMethodAccessorImpl.java:0"),
    task(3, 2100, 2400, run_ms=300),
    # outside every span: ignored
    job(3, 5000, [4]),
    stage(4, 5000, 5100),
    task(4, 5000, 5100, run_ms=100),
    {
        "Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
        "progress": {
            "timestamp": "1970-01-01T00:00:02.050Z",
            "durationMs": {"triggerExecution": 400, "addBatch": 300, "queryPlanning": 50,
                           "walCommit": 10, "commitOffsets": 20},
        },
    },
]


def test_fold_attributes_by_span():
    m = tracefold.fold(EVENTS, SPANS, cores=4)
    assert m["plans.builder_ms"] == 100
    assert m["plans.action_ms"] == 200
    assert m["streaming.builder_ms"] == 500
    assert m["plans.builder_jobs"] == 1
    assert m["plans.action_jobs"] == 1
    assert m["spark.jobs"] == 3 / 2
    assert m["spark.stages"] == 4 / 2
    assert m["spark.tasks"] == 5 / 2
    assert m["streaming.batches"] == 1
    assert m["streaming.addBatch_ms"] == 300
    assert m["spark.gc_ms"] == 5
    assert m["spark.shuffle_write_mb"] == pytest.approx(2.0)
    assert m["spark.spill_mb"] == pytest.approx(1.0)


def test_stage_time_folds_by_issuing_module():
    m = tracefold.fold(EVENTS, SPANS, cores=4)
    assert m["stage_ms.operators.splits"] == 80  # tagged call site wins
    assert m["stage_ms.plans"] == 80 + 90  # untagged: the span's module
    assert m["stage_ms.streaming"] == 300
    assert m["stage_ms.other"] == 0


def test_untagged_stage_folds_into_pinned_operator():
    spans = [dict(s, module=f"{PKG}.operators.packing") for s in SPANS[:2]]
    m = tracefold.fold(EVENTS, spans, cores=4)
    assert m["stage_ms.operators.splits"] == 80  # the tag still wins
    assert m["stage_ms.operators.packing"] == 80 + 90
    assert m["stage_ms.plans"] == 0


def test_driver_only_and_busy_fraction():
    m = tracefold.fold(EVENTS, SPANS, cores=4)
    # idle parts of each span: builder 100-60, action 200-(60+70), drain 500-300
    assert m["driver.only_ms"] == pytest.approx((40 + 70 + 200) / 2)
    assert m["spark.task_busy_frac"] == pytest.approx(530 / (1500 * 4))
    assert m["trace.span_cover"] == pytest.approx(800 / 1500)


def test_per_pass_division():
    one = tracefold.fold(EVENTS, SPANS, cores=4)
    two = tracefold.fold(EVENTS, SPANS, cores=4, passes=2)
    assert two["plans.action_ms"] == one["plans.action_ms"] / 2
    assert two["spark.jobs"] == one["spark.jobs"]  # per-step means stay


def test_every_metric_reported_even_when_unused():
    m = tracefold.fold([], [], cores=4)
    assert set(m) == {name for name, _ in tracefold.PER_LAYER}
    assert all(v == 0 for v in m.values())


def test_bucket():
    assert tracefold.bucket(f"{PKG}.operators.splits") == "operators.splits"
    assert tracefold.bucket(f"{PKG}.operators.splits.x") == "operators.splits"
    assert tracefold.bucket(f"{PKG}.operators.linkers") == "operators"
    assert tracefold.bucket(f"{PKG}.plans.stream_rollup_plans") == "plans"
    assert tracefold.bucket(f"{PKG}.sources.sinks") == "sources.sinks"
    assert tracefold.bucket(f"{PKG}.sources.tables") == "sources"
    assert tracefold.bucket("sql") == "sql"
    assert tracefold.bucket("run_databuild") == "other"


def test_union_ms():
    assert tracefold.union_ms([]) == 0
    assert tracefold.union_ms([(0, 10), (5, 15), (20, 30)]) == 25


def test_read_event_log(tmp_path):
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in EVENTS[:3]) + "\n\n")
    assert tracefold.read_event_log(str(path)) == EVENTS[:3]


def test_benchmark_json_matches_the_code():
    import os

    import run

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert set(tracefold.PER_LAYER) < set(run.PER_LAYER)
