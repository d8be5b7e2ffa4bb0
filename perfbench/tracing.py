"""Per-layer tracing from outside the package.

Each layer is timed by acting on its public output inside a `Tracer`
span. A span sets the Spark job group `layer:<name>`, so every job the
action starts can be attributed to it afterwards: task counts and
failures come from the status tracker, shuffle, spill and executor
time from Spark's JSON event log. Spans stay in memory and are written
out once, when the traced run ends.
"""

from __future__ import annotations

import contextlib
import glob
import inspect
import json
import os
import sys
import time
import types

from topo2osm_spark.sources.warehouse import Warehouse

MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[str] = []
        # wall the tracer itself spends: job-group switches and
        # status-tracker reads
        self.overhead_s = 0.0

    def _set_group(self, name: str | None) -> None:
        t = time.monotonic()
        self.sc.setJobGroup(f"layer:{name or '-'}", name or "-")
        self.overhead_s += time.monotonic() - t

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._set_group(name)
        start = time.monotonic()
        try:
            yield
        finally:
            end = time.monotonic()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent})

    @contextlib.contextmanager
    def checkpoint_spans(self, spark):
        """Make every DataFrame.localCheckpoint call inside the block an
        eager checkpoint inside a span `stage:<name>`.

        A lazy checkpoint is computed by whichever later job first
        reads it, and with AQE off some of those jobs already run while
        run_pipeline builds its plan (a broadcast join's build side, a
        sort's range sample): the parse would be charged to the
        doc-wide assembly stage that first reads it. Made eager, each
        stage's work runs inside its own span and computes that stage
        alone; the untraced run's prefetch materializes the same
        checkpoints in the same order, overlapped. The name is the
        `name` argument of the calling frame, the pipeline's
        `ck(df, name, ...)`; another caller gives its function name."""
        cls = type(spark.range(0))
        orig = cls.localCheckpoint

        def traced(df, eager=True, storageLevel=None):
            caller = sys._getframe(1)
            name = caller.f_locals.get("name")
            if not isinstance(name, str):
                name = caller.f_code.co_name
            with self.span(f"stage:{name}"):
                return orig(df, True, storageLevel)

        cls.localCheckpoint = traced
        try:
            yield
        finally:
            cls.localCheckpoint = orig

    @contextlib.contextmanager
    def operator_spans(self, plan_module):
        """Make every call that `plan_module` makes through a package
        module it imported (`nodeops.snap_mapping(...)`) a span
        `op:<module>.<function>`.

        Building an operator's DataFrame runs the driver's analysis of
        its plan, a large share of a cold run; these spans charge it to
        the operator. Only the plan module's own references are
        replaced: calls between operators, and the functions Spark
        ships to the Python workers, are untouched."""
        ns = vars(plan_module)
        saved = {k: v for k, v in ns.items()
                 if isinstance(v, types.ModuleType)
                 and v.__name__.startswith("topo2osm_spark.")}
        ns.update({k: _SpannedModule(v, self) for k, v in saved.items()})
        try:
            yield
        finally:
            ns.update(saved)

    def durations(self) -> dict[str, float]:
        """Summed duration of the spans of each name."""
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def self_times(self) -> dict[str, float]:
        """Per name, span duration minus the part its direct children
        cover."""
        out = self.durations()
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def task_counts(self) -> dict[str, dict]:
        """Jobs, stages, tasks and failed tasks per span, read from the
        status tracker while the session is still up."""
        t = time.monotonic()
        st = self.sc.statusTracker()
        out = {}
        for name in {s["name"] for s in self.spans}:
            jobs = st.getJobIdsForGroup(f"layer:{name}")
            stages = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = failed = 0
            for sid in stages:
                si = st.getStageInfo(sid)
                if si is not None:
                    tasks += si.numTasks
                    failed += si.numFailedTasks
            out[name] = {"jobs": len(jobs), "stages": len(stages),
                         "tasks": tasks, "failed_tasks": failed}
        self.overhead_s += time.monotonic() - t
        return out


class _SpannedModule:
    """Stand-in for a module whose functions run inside tracer spans."""

    def __init__(self, module, tracer: Tracer):
        self._module, self._tracer = module, tracer
        self._short = module.__name__.rsplit(".", 1)[1]

    def __getattr__(self, name):
        attr = getattr(self._module, name)
        if not inspect.isfunction(attr):
            return attr
        span = f"op:{self._short}.{name}"

        def call(*args, **kwargs):
            with self._tracer.span(span):
                return attr(*args, **kwargs)
        return call


class TracedWarehouse(Warehouse):
    """Warehouse whose stage writes are spans: run_pipeline takes the
    warehouse as an argument, so each checkpointed stage of the
    warehouse path can be timed without tracing inside the package."""

    def __init__(self, spark, root: str, tracer: Tracer):
        super().__init__(spark, root)
        self.tracer = tracer

    def write(self, df, name, fp, mode="replace"):
        with self.tracer.span(f"stage:{name}"):
            return super().write(df, name, fp, mode=mode)


def event_log_by_group(log_dir: str) -> dict[str, dict]:
    """Fold Spark's JSON event log into per-job-group totals: executor
    run time, shuffle bytes written, bytes spilled to disk and failed
    tasks.

    A stage is charged to the group of the first job that lists it."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(p)]
    stage_group: dict[int, str] = {}
    totals: dict[str, dict] = {}
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", "-")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"), "-")
                    t = totals.setdefault(group, {
                        "executor_s": 0.0, "shuffle_write_mb": 0.0,
                        "spill_mb": 0.0, "tasks": 0, "failed_tasks": 0})
                    t["tasks"] += 1
                    if (ev.get("Task Info") or {}).get("Failed"):
                        t["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    t["executor_s"] += m.get("Executor Run Time", 0) / 1000.0
                    t["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
                    t["shuffle_write_mb"] += (m.get("Shuffle Write Metrics")
                                              or {}).get(
                        "Shuffle Bytes Written", 0) / MB
    return totals
