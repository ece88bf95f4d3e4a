"""Benchmark entry point: one run of one workload, one JSON line out.

    python3 perfbench/run.py --workload github --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Each run starts one fresh worker
process (``perfbench/worker.py``) on ``local[<cores>]`` with its Spark
local dirs, artifact cache, warehouse and event log in a private temp
directory under ``.perfbench/tmp/``, which is deleted when the run
ends. While the worker runs, this process samples the peak resident
memory (``VmHWM``) of every process in the worker's session: the
Python driver, the Spark JVM and the Python UDF workers.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
A run record (inputs, environment, every step time) is written to
``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

from tracefold import PER_LAYER as SPARK_LAYERS

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("github", "registry")
END_TO_END = (
    ("setup_s", "s"),
    ("throughput_per_s", "1/s"),
    ("step_p50_ms", "ms"),
)
# Peak memory is reported per layer, not end to end: the JVM's heap grows
# with GC timing, and its ten-run spread (0.20-0.32 of the median) is
# wider than any regression bound the benchmark may set.
PER_LAYER = tuple(SPARK_LAYERS) + (("process.peak_rss_mb", "MB"),)
TIMEOUT_S = 150.0  # leaves room to stop the session within 180 s
POLL_S = 0.2


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def session_hwm_kb(sid: int) -> dict[int, int]:
    """VmHWM (kB) of every live process in session ``sid``."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            # fields after the parenthesised command: state ppid pgrp session
            if int(stat.rsplit(")", 1)[1].split()[3]) != sid:
                continue
            with open(f"/proc/{name}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[int(name)] = int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
    return out


def stop_session(sid: int, grace_s: float = 10.0) -> None:
    """Terminate every process left in the worker's session and wait
    until none is running (zombies have no VmHWM and do not count)."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(sid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace_s
        while time.monotonic() < deadline:
            if not session_hwm_kb(sid):
                return
            time.sleep(0.1)


def tail(path: str, n: int = 30) -> str:
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    for need in ("github_data_pipeline_spark/session.py", "testdata_domain"):
        if not os.path.exists(os.path.join(root, need)):
            print(f"perfbench: {need} not found; run from a checkout root", file=sys.stderr)
            return 2

    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{time.time_ns()}"
    tmp = os.path.join(root, ".perfbench", "tmp", run_id)
    records = os.path.join(root, ".perfbench", "records")
    os.makedirs(os.path.join(tmp, "t"))
    os.makedirs(records, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
        SPARK_GRAFT_CACHE_DIR=os.path.join(tmp, "cache"),
        SPARK_GRAFT_CPUS=str(cores),
        TMPDIR=os.path.join(tmp, "t"),
        # spark-submit's launcher JVM: no perf-data file under /tmp
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(tmp, 't')}",
    )
    result_path = os.path.join(tmp, "result.json")
    log_path = os.path.join(tmp, "worker.log")
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        f"--workload={args.workload}",
        f"--seed={args.seed}",
        f"--seconds={args.seconds}",
        f"--trace={args.trace}",
        f"--cores={cores}",
        f"--tmp={tmp}",
        f"--result={result_path}",
    ]

    load_start = os.getloadavg()
    steal0, total0 = cpu_times()
    hwm: dict[int, int] = {}
    peak_kb = 0
    spawned = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
        try:
            deadline = time.monotonic() + TIMEOUT_S
            seen: set[int] = set()
            while proc.poll() is None and time.monotonic() < deadline:
                live = session_hwm_kb(proc.pid)
                # count a process once it has lived across two samples: a
                # child the JVM is still spawning shares the JVM's memory
                # and would count it twice
                peak_kb = max(peak_kb, sum(kb for p, kb in live.items() if p in seen))
                seen = set(live)
                for pid, kb in live.items():
                    hwm[pid] = max(kb, hwm.get(pid, 0))
                time.sleep(POLL_S)
            timed_out = proc.poll() is None
        finally:
            stop_session(proc.pid)
            proc.wait()
    steal1, total1 = cpu_times()

    result = None
    if not timed_out and proc.returncode == 0 and os.path.exists(result_path):
        with open(result_path) as f:
            result = json.load(f)
    record = {
        "run_id": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "master": f"local[{cores}]",
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "cpu_steal_share": (steal1 - steal0) / max(total1 - total0, 1),
        "worker_exit": proc.returncode,
        "timed_out": timed_out,
        "peak_rss_mb": peak_kb / 1024.0,
        "peak_rss_mb_by_pid": {p: kb / 1024.0 for p, kb in hwm.items()},
        "result": result,
    }
    if result is None:
        record["worker_log_tail"] = tail(log_path)
    with open(os.path.join(records, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(tmp, ignore_errors=True)
    if result is None or not result.get("step_ms"):
        print(f"perfbench: run failed; see {records}/{run_id}.json", file=sys.stderr)
        print(record.get("worker_log_tail", ""), file=sys.stderr)
        return 1

    if args.trace:
        values = dict(result["per_layer"], **{"process.peak_rss_mb": peak_kb / 1024.0})
        metrics = {n: {"value": values[n], "unit": u} for n, u in PER_LAYER}
    else:
        values = {
            "setup_s": result["measure_start"] - spawned,
            "throughput_per_s": result["throughput_per_s"],
            "step_p50_ms": result["step_p50_ms"],
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
    correct = (
        result["failed"] == 0
        and result["setup_failures"] == 0
        and not result["checks_failed"]
    )
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
