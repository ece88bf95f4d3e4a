"""Fold a Spark event log and the benchmark's spans into per-layer metrics.

Inputs:

* ``spans`` — one dict per timed call the benchmark made in the
  measured region: ``step`` (step id), ``layer`` (the layer label the
  call belongs to, e.g. ``pipeline.write_repo_tables``), ``module``
  (the Python module the call went into) and ``start_ms``/``end_ms``
  (epoch milliseconds, the clock the event log uses).
* ``events`` — the parsed JSON lines of Spark's event log
  (``spark.eventLog.enabled``), which include the
  ``StreamingQueryListener`` progress events.

The benchmark is a single closed-loop client, so every Spark job whose
submission time falls inside a span was caused by that span's call.
Stages and tasks follow their job; streaming micro-batches follow the
span their trigger started in. Stage time is folded by the Python
module that issued the action: the traced run tags each action with
``py:<module>`` as its call site; untagged stages fall back to the
module of the enclosing span. A registry entry that exercises one
data-build operator is tagged with, and spans, that operator's module,
because the operator only composes a lazy plan that runs later.
"""

from __future__ import annotations

import bisect
import json
from collections import defaultdict
from datetime import datetime

PACKAGE = "github_data_pipeline_spark."
CALLSITE_PREFIX = "py:"

# most specific first: a module folds into the first bucket it is in
STAGE_BUCKETS = (
    "operators.decontam",
    "operators.splits",
    "operators.packing",
    "operators.sharding",
    "operators",
    "plans",
    "streaming",
    "sources.sinks",
    "sources",
    "pipeline",
    "functions",
    "sql",
)

SPAN_LAYER_MS = (
    "pipeline.process_repo",
    "pipeline.write_repo_tables",
    "pipeline.register_views",
    "sql.scenario",
    "plans.builder",
    "plans.action",
    "streaming.builder",
)

STREAM_PHASES = (
    "triggerExecution",
    "addBatch",
    "queryPlanning",
    "walCommit",
    "commitOffsets",
)

# (name, unit) of every per-layer metric, in report order. Layers a
# workload does not exercise report 0.
PER_LAYER = (
    [("session.get_spark_s", "s")]
    + [(f"{layer}_ms", "ms") for layer in SPAN_LAYER_MS]
    + [
        ("plans.builder_jobs", "count"),
        ("plans.action_jobs", "count"),
        ("streaming.batches", "count"),
    ]
    + [(f"streaming.{p}_ms", "ms") for p in STREAM_PHASES]
    + [
        ("spark.output_mb", "MB"),
        ("spark.files_written", "count"),
        ("spark.jobs", "count/step"),
        ("spark.stages", "count/step"),
        ("spark.tasks", "count/step"),
        ("driver.only_ms", "ms/step"),
        ("spark.task_busy_frac", "fraction"),
        ("spark.shuffle_write_mb", "MB"),
        ("spark.shuffle_read_mb", "MB"),
        ("spark.spill_mb", "MB"),
        ("spark.gc_ms", "ms"),
    ]
    + [(f"stage_ms.{b}", "ms") for b in STAGE_BUCKETS + ("other",)]
    + [("trace.span_cover", "fraction")]
)

MB = 1024.0 * 1024.0


def read_event_log(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def bucket(module: str) -> str:
    """Stage-time bucket of a Python module name."""
    if module.startswith(PACKAGE):
        module = module[len(PACKAGE) :]
    for b in STAGE_BUCKETS:
        if module == b or module.startswith(b + "."):
            return b
    return "other"


def iso_ms(ts: str) -> int:
    """Epoch ms of a streaming progress timestamp (``...T04:13:37.079Z``)."""
    return round(datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000)


def union_ms(intervals: list[tuple[int, int]]) -> int:
    """Total length of the union of half-open [start, end) intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class _SpanIndex:
    """Find the span whose [start_ms, end_ms] holds a timestamp."""

    def __init__(self, spans: list[dict]) -> None:
        self.spans = sorted(spans, key=lambda s: s["start_ms"])
        self.starts = [s["start_ms"] for s in self.spans]

    def find(self, t: int):
        i = bisect.bisect_right(self.starts, t) - 1
        if i >= 0 and t <= self.spans[i]["end_ms"]:
            return i
        return None


def fold(
    events: list[dict],
    spans: list[dict],
    cores: int,
    passes: int = 1,
    output_bytes: int = 0,
    files_written: int = 0,
) -> dict[str, float]:
    """Per-layer metrics over the measured region, per measured pass.

    ``*_ms``, job, batch, byte and stage-time figures are totals divided
    by ``passes``; ``count/step`` and ``ms/step`` figures are means over
    the distinct steps; fractions are over the measured wall time.
    """
    index = _SpanIndex(spans)
    job_span: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    progress: list[dict] = []
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            i = index.find(e.get("Submission Time", -1))
            if i is None:
                continue
            job_span[e["Job ID"]] = i
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stages[info["Stage ID"]] = info
        elif kind == "SparkListenerTaskEnd":
            tasks.append(e)
        elif kind.endswith("QueryProgressEvent"):
            progress.append(e["progress"])

    def span_of_stage(sid):
        job = stage_job.get(sid)
        return None if job is None else job_span.get(job)

    m: dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}
    span_ms = [s["end_ms"] - s["start_ms"] for s in index.spans]
    for s, ms in zip(index.spans, span_ms):
        if s["layer"] in SPAN_LAYER_MS:
            m[f"{s['layer']}_ms"] += ms
    for i in job_span.values():
        layer = index.spans[i]["layer"]
        if layer in ("plans.builder", "plans.action"):
            m[f"{layer}_jobs"] += 1

    steps = {s["step"] for s in index.spans}
    step_jobs = defaultdict(int)
    for i in job_span.values():
        step_jobs[index.spans[i]["step"]] += 1
    n_stages = 0
    for sid, info in stages.items():
        i = span_of_stage(sid)
        if i is None:
            continue
        n_stages += 1
        name = info.get("Stage Name", "")
        if name.startswith(CALLSITE_PREFIX):
            b = bucket(name[len(CALLSITE_PREFIX) :].split(" ")[0])
        else:
            b = bucket(index.spans[i]["module"])
        dur = info.get("Completion Time", 0) - info.get("Submission Time", 0)
        m[f"stage_ms.{b}"] += max(dur, 0)

    busy_by_span: dict[int, list] = defaultdict(list)
    n_tasks = 0
    run_ms = 0
    for t in tasks:
        i = span_of_stage(t.get("Stage ID"))
        if i is None:
            continue
        n_tasks += 1
        info = t.get("Task Info", {})
        s = index.spans[i]
        lo = max(info.get("Launch Time", 0), s["start_ms"])
        hi = min(info.get("Finish Time", 0), s["end_ms"])
        if hi > lo:
            busy_by_span[i].append((lo, hi))
        tm = t.get("Task Metrics") or {}
        run_ms += tm.get("Executor Run Time", 0)
        m["spark.gc_ms"] += tm.get("JVM GC Time", 0)
        m["spark.spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
        sr = tm.get("Shuffle Read Metrics") or {}
        m["spark.shuffle_read_mb"] += (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ) / MB
        sw = tm.get("Shuffle Write Metrics") or {}
        m["spark.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB

    for p in progress:
        i = index.find(iso_ms(p["timestamp"]))
        if i is None:
            continue
        m["streaming.batches"] += 1
        dur = p.get("durationMs") or {}
        for phase in STREAM_PHASES:
            m[f"streaming.{phase}_ms"] += dur.get(phase, 0)

    driver_only = sum(
        ms - union_ms(busy_by_span.get(i, [])) for i, ms in enumerate(span_ms)
    )
    wall = (
        max(s["end_ms"] for s in index.spans) - index.spans[0]["start_ms"]
        if index.spans
        else 0
    )
    n_steps = max(len(steps), 1)
    m["spark.jobs"] = len(job_span) / n_steps
    m["spark.stages"] = n_stages / n_steps
    m["spark.tasks"] = n_tasks / n_steps
    m["driver.only_ms"] = driver_only / n_steps
    m["spark.task_busy_frac"] = run_ms / (wall * cores) if wall and cores else 0.0
    m["spark.output_mb"] = output_bytes / MB
    m["spark.files_written"] = files_written
    m["trace.span_cover"] = sum(span_ms) / wall if wall else 0.0
    per_pass = {
        name
        for name, unit in PER_LAYER
        if unit in ("ms", "MB", "count") and name != "session.get_spark_s"
    }
    for name in per_pass:
        m[name] /= max(passes, 1)
    return m
