"""One benchmark run in a fresh process: set up, warm up, check, measure.

Started by ``perfbench/run.py``, which owns the run's temp directory,
watches memory and prints the result; this process writes its findings
to ``--result`` as JSON. Run from the root of a checkout:

    python3 perfbench/worker.py --workload github --seed 1 --seconds 20 \
        --trace 0 --tmp .perfbench/tmp/x --result .perfbench/tmp/x/result.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
import tracefold  # noqa: E402
from bench import _drop_leftover_rdd_blocks  # noqa: E402
from workloads import OPERATOR_OF, WORKLOADS, noop_write  # noqa: E402

CALLSITE_KEY = "callSite.short"
_OWN_MODULES = ("pyspark", "py4j", "worker", "workloads", "__main__")


def _caller_module() -> str | None:
    """The first module on the stack outside pyspark and the benchmark."""
    f = sys._getframe(2)
    while f is not None:
        mod = f.f_globals.get("__name__", "")
        if not mod.startswith(_OWN_MODULES):
            return mod
        f = f.f_back
    return None


def tag_call_sites(sc, run) -> None:
    """Trace mode: give every Spark action the call site ``py:<module>``
    of the Python module that issued it, or of the module the running
    step is pinned to (``Run.pin``), so stage time can be folded by
    module. Nested actions keep the outermost tag."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    local = threading.local()

    def wrap(orig):
        def tagged(*args, **kwargs):
            if getattr(local, "active", False):
                return orig(*args, **kwargs)
            mod = run.pin or _caller_module()
            if mod is None:
                return orig(*args, **kwargs)
            prev = sc.getLocalProperty(CALLSITE_KEY)
            sc.setLocalProperty(CALLSITE_KEY, tracefold.CALLSITE_PREFIX + mod)
            local.active = True
            try:
                return orig(*args, **kwargs)
            finally:
                local.active = False
                sc.setLocalProperty(CALLSITE_KEY, prev)

        return tagged

    actions = {
        DataFrame: (
            "collect",
            "count",
            "localCheckpoint",
            "checkpoint",
            "toPandas",
            "take",
            "head",
            "first",
            "isEmpty",
            "toLocalIterator",
            "foreach",
            "foreachPartition",
        ),
        DataFrameWriter: ("save", "parquet", "json", "csv", "saveAsTable", "insertInto"),
        DataStreamWriter: ("start",),
    }
    for cls, names in actions.items():
        for name in names:
            setattr(cls, name, wrap(getattr(cls, name)))


class Run:
    """Timing, spans, checks and failure accounting for one run."""

    def __init__(self, spark, tmp: str, trace: bool) -> None:
        self.spark = spark
        self.tmp = tmp
        self.trace = trace
        self.measuring = False
        self.pin: str | None = None
        self.step_ms: list[float] = []
        self.untimed_ms: list[tuple[str, float]] = []
        self.spans: list[dict] = []
        self.failures: list[str] = []
        self.checks_failed: list[str] = []
        self.checks = 0
        self.ok_steps = 0
        self.output_bytes = 0
        self.files_written = 0

    def step(self, name: str, calls, pin: str | None = None):
        """Run ``calls`` — (layer, module, fn) triples, each ``fn`` taking
        the previous call's result — as one timed step. With ``pin``, the
        step's Spark actions are tagged with that module. Returns the last
        result, or None when the step failed."""
        sc = self.spark.sparkContext
        result = None
        total_ms = 0.0
        self.pin = pin
        try:
            for layer, module, fn in calls:
                if self.trace:
                    sc.setJobGroup(name, layer)
                t0 = time.time()
                p0 = time.perf_counter()
                result = fn(result)
                p1 = time.perf_counter()
                t1 = time.time()
                total_ms += (p1 - p0) * 1000.0
                if self.measuring:
                    self.spans.append(
                        {
                            "step": f"{len(self.step_ms)}:{name}",
                            "layer": layer,
                            "module": module,
                            "start_ms": int(t0 * 1000),
                            "end_ms": int(t1 * 1000) + 1,
                        }
                    )
        except Exception:  # a failed step counts against attempts
            self.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
            result = None
        else:
            if self.measuring:
                self.step_ms.append(total_ms)
                self.ok_steps += 1
            else:
                self.untimed_ms.append((name, round(total_ms, 1)))
        finally:
            self.pin = None
        _drop_leftover_rdd_blocks(self.spark)
        return result

    def entry_step(self, q, sf_dir: str, action=None):
        """A registry entry as one step: its builder, then ``action``
        (default: a noop write) on the frame it returns. An entry that
        exercises one data-build operator is pinned to that operator's
        module: the operator only composes a lazy plan, and the plan
        runs from the builder or the action, never from the operator."""
        stream = q.name.startswith("stream_")
        layer = "streaming" if stream else "plans"
        pin = OPERATOR_OF.get(q.name)
        module = pin or q.builder.__module__
        return self.step(
            q.name,
            [
                (
                    f"{layer}.builder",
                    "github_data_pipeline_spark.streaming" if stream else module,
                    lambda _: q.builder(self.spark, sf_dir),
                ),
                (f"{layer}.action", module, action or noop_write),
            ],
            pin=pin,
        )

    def check(self, what: str, ok: bool, detail=None) -> None:
        self.checks += 1
        if not ok:
            self.checks_failed.append(f"{what}: {detail!r}"[:500])

    def count_output(self, root: str) -> None:
        """Trace mode: add the bytes and files a measured write left."""
        if not (self.trace and self.measuring):
            return
        for d, _, files in os.walk(root):
            for f in files:
                if f.startswith(("part-", "_SUCCESS")) or f.endswith(".parquet"):
                    self.files_written += 1
                    self.output_bytes += os.path.getsize(os.path.join(d, f))


def session_conf(tmp: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(tmp, 'jvm')} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(tmp, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)
    trace = bool(args.trace)
    for sub in ("local", "jvm", "events"):
        os.makedirs(os.path.join(args.tmp, sub), exist_ok=True)

    from github_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        f"perfbench-{args.workload}",
        master=f"local[{args.cores}]",
        extra_conf=session_conf(args.tmp, trace),
    )
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    run = Run(spark, args.tmp, trace)
    if trace:
        tag_call_sites(spark.sparkContext, run)
    workload = WORKLOADS[args.workload](run, args.seed)
    # --seconds buys whole passes at the workload's budgeted pass time,
    # so the measured work never depends on how fast this commit is
    passes = max(1, int(args.seconds // workload.nominal_pass_s))
    workload.setup()
    setup_failures = len(run.failures)

    run.measuring = True
    measure_start = time.time()
    p0 = time.perf_counter()
    workload.measure(passes)
    wall_s = time.perf_counter() - p0
    run.measuring = False
    spark.stop()

    attempted = workload.planned_steps() * passes
    out = {
        "workload": args.workload,
        "seed": args.seed,
        "passes": passes,
        "cores": args.cores,
        "inputs": workload.describe(),
        "measure_start": measure_start,
        "wall_s": wall_s,
        "attempted": attempted,
        "failed": attempted - run.ok_steps,
        "setup_failures": setup_failures,
        "failures": run.failures[:20],
        "checks": run.checks,
        "checks_failed": run.checks_failed[:20],
        "get_spark_s": get_spark_s,
        "untimed_step_ms": run.untimed_ms,
        "step_ms": run.step_ms,
    }
    if run.step_ms:
        out["step_p50_ms"] = stats.median(run.step_ms)
        out["throughput_per_s"] = len(run.step_ms) / wall_s
    if trace:
        logs = [
            os.path.join(args.tmp, "events", f)
            for f in os.listdir(os.path.join(args.tmp, "events"))
        ]
        events = [e for path in logs for e in tracefold.read_event_log(path)]
        layers = tracefold.fold(
            events,
            run.spans,
            cores=args.cores,
            passes=passes,
            output_bytes=run.output_bytes,
            files_written=run.files_written,
        )
        layers["session.get_spark_s"] = get_spark_s
        out["per_layer"] = layers
        out["span_sum_s"] = sum(s["end_ms"] - s["start_ms"] for s in run.spans) / 1000.0
    with open(args.result, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
