"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload convert_mem --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. This process pins the run
environment, starts perfbench/measure.py in a session of its own,
samples the resident memory of that process tree (measuring process,
driver JVM, Python workers) from /proc, and bounds it in time. When
the tree has exited it prints the measured result as the last line of
standard output; a failed or timed-out run exits non-zero instead.

Everything the run writes goes under `.perfbench_work/` in the
checkout and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("convert_mem", "convert_xspan_wh", "dedup_cohort")
# the whole measuring process tree is killed after this long
PROCESS_TIMEOUT_S = 175.0
# driver heap: the session default (16g) exceeds a 15 GB host; the
# inputs here are a few MB
DRIVER_MEM = "2g"
# what the measuring process leaves in its work directory
RESULT_FILE = "result.json"
TRACE_FILE = "trace.json"
EVENT_LOG = "eventlog"


def session_members(sid: int) -> list[int]:
    """Pids whose session id is `sid` (field 6 of /proc/<pid>/stat)."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            pids.append(int(d))
    return pids


def tree_pss_mb(pids: list[int]) -> float:
    """Resident memory of the tree as the sum of proportional set sizes:
    Python workers are forked from one daemon and share its pages, which
    a plain RSS sum would count once per worker."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def stop_session(sid: int) -> None:
    """TERM, then KILL, every process left in the session, and wait
    until none is left."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = session_members(sid)
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + grace
        while pids and time.monotonic() < end:
            time.sleep(0.1)
            pids = session_members(sid)
        if not pids:
            return


def environment(work: str, trace: bool) -> dict:
    """The pinned run environment of the measuring process."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    confs = {
        # initial heap = maximum heap: with a small initial heap, how
        # far the driver heap grows (and so the tree's peak memory)
        # follows the collector's timing, not the work: one seed's peak
        # ranged from 1.2 to 2.3 GB between processes
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, EVENT_LOG)
        os.makedirs(log_dir)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    env = dict(os.environ)
    env.update({
        # Python workers import the package from the checkout
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # build_session's master and shuffle-partition default: local[nproc]
        "SPARK_GRAFT_CPUS": cpus,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(
            "--conf " + shlex.quote(f"{k}={v}") for k, v in confs.items())
        + " pyspark-shell",
    })
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE",
                "SPARK_GRAFT_ARROW_BATCH", "SPARK_GRAFT_MAX_PARTITION_BYTES",
                "SPARK_GRAFT_TIMING", "SPARK_GRAFT_WRITE_CONCURRENCY"):
        env.pop(var, None)
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (self-test only)")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "topo2osm_spark")):
        print("perfbench: no topo2osm_spark package next to perfbench/; "
              "run from the root of a checkout", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = [sys.executable, os.path.join(HERE, "measure.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work]
    if args.smoke:
        cmd.append("--smoke")
    peak = 0.0
    timed_out = False
    child = subprocess.Popen(cmd, cwd=work, env=environment(work, args.trace),
                             stdout=sys.stderr, start_new_session=True)
    try:
        deadline = time.monotonic() + PROCESS_TIMEOUT_S
        while child.poll() is None:
            peak = max(peak, tree_pss_mb(session_members(child.pid)))
            if time.monotonic() > deadline:
                timed_out = True
                break
            time.sleep(0.25)
    finally:
        stop_session(child.pid)
        child.wait()
    try:
        if timed_out or child.returncode != 0:
            print(f"perfbench: measuring process "
                  f"{'timed out' if timed_out else 'failed'} "
                  f"(exit {child.returncode})", file=sys.stderr)
            return 1
        with open(os.path.join(work, RESULT_FILE)) as f:
            result = json.load(f)
        trace_path = os.path.join(work, TRACE_FILE)
        if os.path.exists(trace_path):
            keep = os.path.join(ROOT, ".perfbench_work",
                                f"trace-{args.workload}-{args.seed}.json")
            shutil.copy(trace_path, keep)
            print(f"perfbench: spans written to {keep}", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for err in result.pop("errors", []):
        print(f"perfbench: failed run: {err}", file=sys.stderr)
    if not args.trace:
        result["metrics"]["peak_rss_mb"] = {"value": peak, "unit": "MB"}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
