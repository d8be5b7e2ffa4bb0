"""Smoke-size self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload (the two in BENCHMARK.json and convert_xspan_wh)
at a few hundred documents or fewer, untraced and then traced with the
same seed, through perfbench/run.py --smoke. It asserts that each run
exits 0, prints the result object last, passes every output check
(the traced run's counts are held against the untraced run's), and
emits every named metric with its unit; that the traced convert runs
cover at least 90% of their wall with layer self times; that
cross-span refs, warehouse stages and a resume run appear where the
convert_xspan_wh layers run (that workload and the traced
dedup_cohort) and PIP only on convert_mem. Last, it asserts that the
command fails, without printing a result, in a directory that holds
only BENCHMARK.json and perfbench/.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7
# convert_xspan_wh is outside BENCHMARK.json; its end-to-end metrics
E2E_XSPAN = {"docs_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB"}


def run(cwd: str, workload: str, trace: int) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
         "--smoke"],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    workloads = [w["name"] for w in bench["workloads"]] + ["convert_xspan_wh"]
    for wl in workloads:
        for trace in (0, 1):
            code, lines = run(ROOT, wl, trace)
            expect(code == 0 and lines, f"{wl} trace={trace} exited {code}")
            res = json.loads(lines[-1])
            expect(set(res) == {"correct", "attempted", "failed", "metrics"},
                   f"{wl}: result keys {sorted(res)}")
            expect(res["correct"] and res["failed"] == 0
                   and res["attempted"] >= 1, f"{wl} trace={trace}: {res}")
            want = layer if trace else (E2E_XSPAN if wl == "convert_xspan_wh"
                                        else e2e)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{wl} trace={trace}: metrics {got}")
            m = {k: v["value"] for k, v in res["metrics"].items()}
            if trace:
                expect(m["pipeline.trace_coverage"] >= 0.9
                       or wl == "dedup_cohort",
                       f"{wl}: layer self times cover "
                       f"{m['pipeline.trace_coverage']:.2f} of the wall")
                wh = wl != "convert_mem"
                xspan = m["assembly.cross_span_refs"]
                expect(xspan > 0 if wh else xspan == 0,
                       f"{wl}: assembly.cross_span_refs = {xspan}")
                expect((m["warehouse.stages"] > 0 and m["resume_s"] > 0) == wh,
                       f"{wl}: warehouse.stages = {m['warehouse.stages']}, "
                       f"resume_s = {m['resume_s']}")
                pip = m["pip.membership_rows"] + m["pip.islands_rows"]
                expect(pip == 0 if wh else pip > 0, f"{wl}: pip rows = {pip}")
            print(f"selftest: {wl} trace={trace} ok", flush=True)

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, lines = run(bare, workloads[0], 0)
    shutil.rmtree(bare, ignore_errors=True)
    expect(code != 0 and not any(l.startswith("{") for l in lines),
           f"bare directory: exit {code}, output {lines}")
    print("selftest: bare directory fails as it should")
    print("selftest: all passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
