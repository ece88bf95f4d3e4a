"""Profile every registry entry's BUILDER call (plan construction).

r12 measured ~114.5 s of the bench total in Python-side plan
construction before the column-fragment memoization landed; the r12
verdict (#5) asks for a post-colcache re-profile of all 158 builders,
committed, so the remaining top offenders are either fixed or
documented as real execution (eager checkpoints, count-gated hints,
artifact builds) rather than py4j round-trips.

Method: warm one full builder pass (JVM/JIT, artifact builds, schema
cache), then two timed passes of ``builder(spark, sf_dir)`` ONLY — no
action is run on the returned DataFrame, so entries whose builders are
pure construction measure py4j/analysis latency, while entries whose
builders execute (localCheckpoint, collect-gated decisions, streaming
drains) measure that execution; the table marks which is which via the
``exec`` heuristic (builder runs Spark jobs).

Usage:  python tools/profile_builders.py [sf_dir]   # writes the table
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql.streaming import StreamingQueryListener

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


class _StartedStreams(StreamingQueryListener):
    """Collects the run id of every streaming query started."""

    def __init__(self) -> None:
        self.run_ids: list[str] = []

    def onQueryStarted(self, event) -> None:
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from bench import _drop_leftover_rdd_blocks

    from github_data_pipeline_spark.plans import all_plans
    from github_data_pipeline_spark.session import get_spark

    spark = get_spark("profile-builders", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    registry = all_plans()
    names = [q.name for q in registry if q.oracle is not None]

    # warm pass: builds artifacts, fills schema/colcache, JITs
    for n in names:
        registry[n].builder(spark, sf_dir)
        _drop_leftover_rdd_blocks(spark)

    # each builder runs under its own job group; a streaming drain's
    # micro-batch jobs run under the query's run id instead, so the
    # queries the builder started are counted too
    streams = _StartedStreams()
    spark.streams.addListener(streams)
    tracker = sc.statusTracker()
    out: dict[str, dict] = {}
    for rep in range(2):
        for n in names:
            group = f"profile:{rep}:{n}"
            sc.setJobGroup(group, n)
            streams.run_ids.clear()
            t0 = time.time()
            registry[n].builder(spark, sf_dir)
            el = round(time.time() - t0, 3)
            jobs = sum(
                len(tracker.getJobIdsForGroup(g))
                for g in [group, *streams.run_ids]
            )
            _drop_leftover_rdd_blocks(spark)
            cur = out.get(n)
            if cur is None or el < cur["s"]:
                out[n] = {"s": el, "jobs": jobs}

    rows = sorted(out.items(), key=lambda kv: -kv[1]["s"])
    total = round(sum(v["s"] for v in out.values()), 1)
    lines = [
        "# PROFILE_BUILDERS — plan-construction time per registry entry",
        "",
        f"`tools/profile_builders.py {sf_dir}` on `local[{cpus}]`:",
        "min-of-2 wall seconds for `builder(spark, sf_dir)` alone (no",
        "action on the result). `jobs` counts Spark jobs the builder",
        "itself ran — 0 means the time is pure driver-side construction",
        "(py4j round trips, analysis); >0 means the builder executes",
        "(eager checkpoints, count-gated broadcast decisions, streaming",
        "drains, artifact reads) and its time is real work, not",
        "construction overhead.",
        "",
        f"**Total builder time across {len(out)} entries: {total} s**",
        "(the bench pays this once per timed pass).",
        "",
        "| entry | builder s | jobs |",
        "|---|---|---|",
    ]
    for n, v in rows:
        lines.append(f"| {n} | {v['s']:.3f} | {v['jobs']} |")
    body = "\n".join(lines) + "\n"
    with open(os.path.join(REPO, "PROFILE_BUILDERS.md"), "w") as f:
        f.write(body)
    print(json.dumps({n: v["s"] for n, v in rows[:25]}, indent=0))
    print(f"total {total} s -> PROFILE_BUILDERS.md")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
