"""The measuring process of the benchmark; perfbench/run.py starts it.

    python3 perfbench/measure.py --workload W --seed N --seconds S
        --trace 0|1 --work DIR [--smoke]

One Spark session per process. Set-up (session start, then the seeded
corpus written to parquet, repeated SETUP_REPS times) is timed apart
from the runs. The first run is the cold run; more runs follow until
`--seconds` have passed. Output checks run outside the timed window.
With --trace 1 the process makes one traced run instead (prefetch off,
every layer acted on under its own job group), checks its outputs the
same way and reports the per-layer metrics: a second conversion in the
same process would not fit the benchmark's time budget. The traced
dedup_cohort run is followed by a traced convert_xspan_wh run (see
DedupCohort).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from topo2osm_spark.operators.dedup import (lsh_candidate_pairs,
                                            minhash_lsh_dedup,
                                            minhash_signatures,
                                            token_jaccard_pairs)
from topo2osm_spark.plans import pipeline as plan_module
from topo2osm_spark.plans.pipeline import run_pipeline
from topo2osm_spark.plans.session import build_session
from topo2osm_spark.sources import sosi
from topo2osm_spark.sources.warehouse import Warehouse, fingerprint

import corpus
from run import EVENT_LOG, RESULT_FILE, ROOT, TRACE_FILE
from tracing import TracedWarehouse, Tracer, event_log_by_group

SETUP_REPS = 3
MIN_RUNS = 1
# a run that has not finished by then has its Spark jobs cancelled and
# counts as failed; the process as a whole is bounded by perfbench/run.py
RUN_TIMEOUT_S = 140.0
# no new timed run starts once this much of the process budget is used
RUN_BUDGET_S = 120.0

# input sizes: (full, smoke)
SIZES = {
    "convert_mem": {"docs": (200, 60)},
    "convert_xspan_wh": {"docs": (100, 60)},
    "dedup_cohort": {"base": (2500, 400), "cohort": (400, 60)},
}
CONVERT_OUTPUTS = ("nodes", "ways", "relations", "tile_assignments", "echo",
                   "points", "membership", "islands")
# the six outputs jobs/convert.py writes
WH_OUTPUTS = CONVERT_OUTPUTS[:6]

# traced span -> per-layer self-time metric. `stage:<name>` spans are
# the pipeline's checkpointed stages: the localCheckpoint call on the
# in-memory path, the stage write on the warehouse path. An operator
# call `op:<module>.<function>` goes to `plan.<module>_s`.
SPAN_METRIC = {
    "act:integrity": "pipeline.integrity_s", "resume": "resume_s",
    "stage:geo_objects": "sosi.s", "act:objects": "sosi.s",
    "stage:rings_xspan": "assembly.xspan_s", "act:rings": "assembly.xspan_s",
    "stage:way_nodes": "nodes.way_nodes_s",
    "act:way_nodes": "nodes.way_nodes_s",
    "stage:nodes_raw": "nodes.dedup_s", "act:nodes_raw": "nodes.dedup_s",
    "stage:snap_map": "nodes.snap_s", "act:snap_map": "nodes.snap_s",
    "stage:nodes": "nodes.out_s", "write:nodes": "nodes.out_s",
    "stage:ways": "split.ways_s", "write:ways": "split.ways_s",
    "stage:relations_raw": "split.relations_s",
    "write:relations": "split.relations_s",
    "write:tile_assignments": "tiles.s",
    "write:echo": "pipeline.echo_s", "write:points": "pipeline.points_s",
    "write:membership": "pip.membership_s", "write:islands": "pip.islands_s",
    "act:signatures": "dedup.signatures_s",
    "act:candidates": "dedup.candidates_s", "write:minhash": "dedup.minhash_s",
    "write:jaccard": "dedup.jaccard_s",
}
# per-layer metrics and their units; a layer that does not run on a
# workload reports 0
PER_LAYER = {
    "pipeline.plan_s": "s", "pipeline.jobs": "count",
    "pipeline.stages": "count", "pipeline.shuffle_write_mb": "MB",
    "pipeline.spill_mb": "MB", "pipeline.failed_tasks": "count",
    "pipeline.echo_s": "s", "pipeline.points_s": "s",
    "pipeline.plan_self_s": "s", "pipeline.integrity_s": "s",
    "pipeline.trace_overhead_s": "s", "pipeline.trace_coverage": "ratio",
    "resume_s": "s",
    "plan.sosi_s": "s", "plan.assembly_s": "s", "plan.nodes_s": "s",
    "plan.split_s": "s", "plan.tags_s": "s", "plan.tiles_s": "s",
    "plan.pip_s": "s",
    "sosi.s": "s", "sosi.task_s": "s", "sosi.spans_in": "count",
    "sosi.rows_out": "count",
    "assembly.xspan_s": "s", "assembly.cross_span_refs": "count",
    "nodes.way_nodes_s": "s", "nodes.dedup_s": "s", "nodes.snap_s": "s",
    "nodes.snap_stages": "count", "nodes.out_s": "s",
    "nodes.raw_rows": "count", "nodes.snap_rows": "count",
    "split.ways_s": "s", "split.ways_rows": "count",
    "split.relations_s": "s", "split.relations_rows": "count",
    "tiles.s": "s", "tiles.rows": "count",
    "pip.membership_s": "s", "pip.islands_s": "s",
    "pip.membership_rows": "count", "pip.islands_rows": "count",
    "warehouse.write_s": "s", "warehouse.read_s": "s", "warehouse.mb": "MB",
    "warehouse.files": "count", "warehouse.stages": "count",
    "dedup.signatures_s": "s", "dedup.candidates_s": "s",
    "dedup.candidates": "count",
    "dedup.minhash_s": "s", "dedup.minhash_pairs": "count",
    "dedup.verify_ratio": "ratio", "dedup.jaccard_s": "s",
    "dedup.jaccard_pairs": "count",
}


class CheckFailed(Exception):
    pass


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def parquet_rows(path: str) -> int:
    """Row count from parquet footers: no Spark job, no data scan."""
    return sum(pq.ParquetFile(os.path.join(path, fn)).metadata.num_rows
               for fn in os.listdir(path) if fn.endswith(".parquet"))


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under a directory."""
    size = files = 0
    for dp, _, fns in os.walk(path):
        for fn in fns:
            size += os.path.getsize(os.path.join(dp, fn))
            files += fn.endswith(".parquet")
    return size, files


def input_fingerprint(path: str) -> str:
    """The input identity jobs/convert.py derives for `--input DIR`."""
    parts = []
    for fn in sorted(os.listdir(path)):
        if not fn.startswith(("_", ".")):
            st = os.stat(os.path.join(path, fn))
            parts.append(f"{fn}:{st.st_size}:{int(st.st_mtime)}")
    return fingerprint("path", path, *parts)


def write(df, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def source_digest() -> str:
    """Digest of the package and benchmark sources, so that counts
    recorded by one version of the code are never held against
    another's."""
    h = hashlib.sha256()
    for top in ("topo2osm_spark", "perfbench"):
        for dp, dns, fns in os.walk(os.path.join(ROOT, top)):
            dns.sort()
            for fn in sorted(fns):
                if fn.endswith(".py"):
                    path = os.path.join(dp, fn)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


class RepeatCheck:
    """Output counts must repeat in every run of one seed: across the
    runs of this process and across processes, traced ones included.
    The first run of a seed records its counts in a file next to the
    per-process work directories (it outlives them); every later run
    compares against it."""

    def __init__(self, work: str, workload: str, seed: int, smoke: bool):
        size = "smoke" if smoke else "full"
        self.path = os.path.join(
            os.path.dirname(work),
            f"counts-{workload}-{seed}-{size}-{source_digest()}.json")

    def __call__(self, counts: dict) -> None:
        try:
            with open(self.path) as f:
                first = json.load(f)
        except FileNotFoundError:
            tmp = f"{self.path}.{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(counts, f)
            os.replace(tmp, self.path)
            return
        check(counts == first,
              f"counts {counts} differ from an earlier run of this seed "
              f"{first}")


class Convert:
    """Shared by both conversion workloads: run_pipeline called the way
    `jobs/convert.py --input DIR` calls it."""

    def __init__(self, spark, work: str, n_docs: int, seed: int,
                 same_counts: RepeatCheck):
        self.spark, self.work, self.n_docs, self.seed = spark, work, n_docs, seed
        self.input = os.path.join(work, "input")
        self.same_counts = same_counts

    def pipeline(self, warehouse=None, resume=False, prefetch=True,
                 docs=None):
        if docs is None:
            docs = self.spark.read.parquet(self.input)
        t0 = time.monotonic()
        out = run_pipeline(self.spark, docs, warehouse=warehouse,
                           resume=resume, input_fp=self.fp,
                           prefetch=prefetch, persist_level="DISK_ONLY",
                           parse_partitions=None, cache_docs=False)
        return out, t0, time.monotonic() - t0

    def traced_pipeline(self, tr: Tracer, **kwargs):
        """The run_pipeline() call as a `pipeline.plan` span, with its
        operator calls and checkpoints as child spans. Reading the
        input is outside the call, as in the untraced run."""
        with tr.span("read:input"):
            docs = self.spark.read.parquet(self.input)
        with tr.operator_spans(plan_module), \
                tr.checkpoint_spans(self.spark), tr.span("pipeline.plan"):
            return self.pipeline(docs=docs, **kwargs)

    def issues(self, out) -> dict:
        return {r["issue"]: r["count"] for r in
                out["integrity"].groupBy("issue").count().collect()}

    def output_counts(self, odir: str) -> dict:
        return {n: parquet_rows(os.path.join(odir, n)) for n in self.outputs}


class ConvertMem(Convert):
    outputs = CONVERT_OUTPUTS

    def setup(self) -> None:
        table = corpus.convert_corpus(self.input, self.n_docs, self.seed)
        self.fp = input_fingerprint(self.input)
        self.expected_echo = {
            d["doc_id"]: sorted((s["offset"], s["kind"], s["text"],
                                 s["media_ref"]) for s in d["spans"])
            for d in table.to_pylist()}
        self.spans_in = sum(s["kind"] == "sosi" for d in table.to_pylist()
                            for s in d["spans"])

    def run(self, i: int) -> dict:
        odir = os.path.join(self.work, f"out{i}")
        out, t0, _ = self.pipeline()
        for name in self.outputs:
            write(out[name], os.path.join(odir, name))
        wall = time.monotonic() - t0
        self.same_counts(self.output_counts(odir))
        if i == 0:
            self.check_outputs(odir, self.issues(out))
        shutil.rmtree(odir, ignore_errors=True)
        return {"wall": wall}

    def check_outputs(self, odir: str, issues: dict) -> None:
        echo = pq.read_table(os.path.join(odir, "echo")).to_pylist()
        got = {r["doc_id"]: [(s["offset"], s["kind"], s["text"],
                              s["media_ref"]) for s in r["spans_sorted"]]
               for r in echo}
        check(len(echo) == len(self.expected_echo),
              "echo must have one row per input document")
        check(got == self.expected_echo,
              "echo spans must equal the input spans ordered by offset")
        way_nodes = pc.unique(pc.list_flatten(pq.read_table(
            os.path.join(odir, "ways"), columns=["node_ids"])["node_ids"]))
        node_ids = pq.read_table(os.path.join(odir, "nodes"),
                                 columns=["node_id"])["node_id"]
        check(pc.sum(pc.invert(pc.is_in(way_nodes, node_ids))).as_py() in (0, None),
              "a way references a node id absent from nodes")
        check(issues.get("kp_node_missing", 0) == 0, "kp_node_missing rows")
        check(issues.get("cross_span_ref", 0) == 0,
              "self-contained corpus reported cross_span_ref rows")

    def traced(self, tr: Tracer) -> dict:
        odir = os.path.join(self.work, "traced")
        out, _, _ = self.traced_pipeline(tr, prefetch=False)
        m = self.act_layers(tr, out)
        for name in self.outputs:
            with tr.span(f"write:{name}"):
                write(out[name], os.path.join(odir, name))
        with tr.span("act:integrity"):
            issues = self.issues(out)
        with tr.span("check"):
            self.same_counts(self.output_counts(odir))
            self.check_outputs(odir, issues)
            m.update(self.output_rows(odir))
        m["assembly.cross_span_refs"] = issues.get("cross_span_ref", 0)
        m["sosi.spans_in"] = self.spans_in
        return m

    @staticmethod
    def act_layers(tr: Tracer, out) -> dict:
        with tr.span("act:objects"):
            rows_out = out["objects"].count()
        with tr.span("act:rings"):
            out["rings"].count()
        rows = {}
        for name in ("way_nodes", "nodes_raw", "snap_map"):
            with tr.span(f"act:{name}"):
                rows[name] = out["_internal"][name].count()
        return {"sosi.rows_out": rows_out, "nodes.raw_rows": rows["nodes_raw"],
                "nodes.snap_rows": rows["snap_map"]}

    def output_rows(self, odir: str) -> dict:
        names = {"ways": "split.ways_rows", "relations": "split.relations_rows",
                 "tile_assignments": "tiles.rows",
                 "membership": "pip.membership_rows",
                 "islands": "pip.islands_rows"}
        return {m: parquet_rows(os.path.join(odir, n))
                for n, m in names.items() if n in self.outputs}


def twin_reference(twin: pa.Table) -> tuple[list[float], set]:
    """Rings of the unsplit twin from the fused parse/assembly kernel
    alone (sosi.tokenize_project_assemble_batches, the function
    tokenize_project_assemble_spans maps over the spans), called in
    this process without Spark: ring areas, and the (doc_id, flate_id)
    of FLATEs the kernel defers because a ref is missing in any case."""
    cols = {"doc_id": [], "span_idx": [], "text": []}
    for doc in twin.to_pylist():
        for i, span in enumerate(doc["spans"]):
            if span["kind"] == "sosi":
                cols["doc_id"].append(doc["doc_id"])
                cols["span_idx"].append(i)
                cols["text"].append(span["text"])
    batch = pa.RecordBatch.from_pydict({
        "doc_id": pa.array(cols["doc_id"], pa.string()),
        "span_idx": pa.array(cols["span_idx"], pa.int32()),
        "text": pa.array(cols["text"], pa.string())})
    areas, deferred = [], set()
    for out in sosi.tokenize_project_assemble_batches([batch]):
        for r in out.select(["row_kind", "obj_kind", "n_orphan_refs",
                             "doc_id", "obj_id", "area"]).to_pylist():
            if r["row_kind"] == "ring":
                areas.append(r["area"])
            elif r["obj_kind"] == "FLATE" and r["n_orphan_refs"] > 0:
                deferred.add((r["doc_id"], r["obj_id"]))
    return areas, deferred


class ConvertXspanWh(ConvertMem):
    outputs = WH_OUTPUTS

    def setup(self) -> None:
        table, twin = corpus.xspan_corpus(self.input, self.n_docs, self.seed)
        self.fp = input_fingerprint(self.input)
        self.spans_in = sum(s["kind"] == "sosi" for d in table.to_pylist()
                            for s in d["spans"])
        self.twin_rings, self.twin_deferred = twin_reference(twin)

    def run(self, i: int) -> dict:
        wh_dir = os.path.join(self.work, f"wh{i}")
        odir = os.path.join(self.work, f"out{i}")
        shutil.rmtree(wh_dir, ignore_errors=True)
        out, t0, _ = self.pipeline(warehouse=Warehouse(self.spark, wh_dir))
        for name in self.outputs:
            write(out[name], os.path.join(odir, name))
        wall = time.monotonic() - t0
        counts = self.output_counts(odir)
        self.same_counts(counts)
        if i == 0:
            self.check_rings(out, self.issues(out))
        rdir = os.path.join(self.work, f"resume{i}")
        rout, _, _ = self.pipeline(
            warehouse=Warehouse(self.spark, wh_dir), resume=True)
        for name in self.outputs:
            write(rout[name], os.path.join(rdir, name))
        rcounts = self.output_counts(rdir)
        check(rcounts == counts, f"resume row counts {rcounts} != {counts}")
        for d in (wh_dir, odir, rdir):
            shutil.rmtree(d, ignore_errors=True)
        return {"wall": wall}

    def check_rings(self, out, issues: dict) -> None:
        areas = [r["area"] for r in out["rings"].select(
                     "doc_id", "flate_id", "area").collect()
                 if (r["doc_id"], r["flate_id"]) not in self.twin_deferred]
        check(len(areas) == len(self.twin_rings),
              f"ring count {len(areas)} != unsplit twin {len(self.twin_rings)}")
        a, b = math.fsum(areas), math.fsum(self.twin_rings)
        check(math.isclose(a, b, rel_tol=1e-9),
              f"summed ring area {a} != unsplit twin {b}")
        check(issues.get("cross_span_ref", 0) > 0,
              "split corpus reported no cross_span_ref rows")

    def traced(self, tr: Tracer) -> dict:
        wh_dir = os.path.join(self.work, "traced_wh")
        odir = os.path.join(self.work, "traced")
        rdir = os.path.join(self.work, "traced_resume")
        out, _, write_s = self.traced_pipeline(
            tr, warehouse=TracedWarehouse(self.spark, wh_dir, tr))
        m = self.act_layers(tr, out)
        for name in self.outputs:
            with tr.span(f"write:{name}"):
                write(out[name], os.path.join(odir, name))
        with tr.span("act:integrity"):
            issues = self.issues(out)
        with tr.span("resume"):
            rout, _, read_s = self.pipeline(
                warehouse=Warehouse(self.spark, wh_dir), resume=True)
            for name in self.outputs:
                write(rout[name], os.path.join(rdir, name))
        with tr.span("check"):
            counts = self.output_counts(odir)
            self.same_counts(counts)
            rcounts = self.output_counts(rdir)
            check(rcounts == counts,
                  f"resume row counts {rcounts} != {counts}")
            self.check_rings(out, issues)
            m.update(self.output_rows(odir))
            size, files = dir_size(wh_dir)
            m["warehouse.stages"] = Warehouse(self.spark, wh_dir).lineage() \
                .select("stage").distinct().count()
        m["warehouse.write_s"], m["warehouse.read_s"] = write_s, read_s
        m["assembly.cross_span_refs"] = issues.get("cross_span_ref", 0)
        m["sosi.spans_in"] = self.spans_in
        m["warehouse.mb"] = size / 1024.0 / 1024.0
        m["warehouse.files"] = files
        return m


class DedupCohort:
    """`xspan`, set in a traced process only, is a convert_xspan_wh
    workload whose traced run follows the dedup one: the warehouse,
    doc-wide assembly and resume layers are measured here because a
    third cold-JVM workload does not fit the benchmark's time budget."""

    def __init__(self, spark, work: str, n_base: int, n_cohort: int,
                 seed: int, same_counts: RepeatCheck,
                 xspan: ConvertXspanWh | None = None):
        self.spark, self.work, self.seed = spark, work, seed
        self.n_base, self.n_cohort = n_base, n_cohort
        self.n_docs = n_base + n_cohort
        self.input = os.path.join(work, "input")
        self.same_counts = same_counts
        self.xspan = xspan

    def setup(self) -> None:
        corpus.dedup_corpus(self.input, self.n_base, self.n_cohort, self.seed)
        if self.xspan is not None:
            self.xspan.setup()

    def minhash(self, docs):
        return minhash_lsh_dedup(docs, threshold=0.5)

    def jaccard(self, docs):
        return token_jaccard_pairs(docs, cohort_col="source", threshold=0.8)

    def run(self, i: int) -> dict:
        odir = os.path.join(self.work, f"out{i}")
        docs = self.spark.read.parquet(self.input)
        t0 = time.monotonic()
        write(self.minhash(docs), os.path.join(odir, "minhash"))
        write(self.jaccard(docs), os.path.join(odir, "jaccard"))
        wall = time.monotonic() - t0
        self.check_pairs(odir)
        shutil.rmtree(odir, ignore_errors=True)
        return {"wall": wall}

    def check_pairs(self, odir: str) -> None:
        counts = {}
        want = self.n_cohort * (self.n_cohort - 1) // 2
        for name in ("minhash", "jaccard"):
            t = pq.read_table(os.path.join(odir, name), columns=["a", "b"])
            counts[name] = t.num_rows
            in_cohort = pc.and_(pc.greater_equal(t["a"], self.n_base),
                                pc.greater_equal(t["b"], self.n_base))
            found = pc.sum(in_cohort.cast("int64")).as_py() or 0
            check(found == want,
                  f"{name}: {found} of {want} cohort pairs found")
        self.same_counts(counts)

    def traced(self, tr: Tracer) -> dict:
        """Signatures are checkpointed so that the banding span times
        banding alone. minhash_lsh_dedup takes documents, not
        signatures, so its span is the whole call: signatures, banding,
        verification and the write."""
        odir = os.path.join(self.work, "traced")
        docs = self.spark.read.parquet(self.input)
        with tr.span("act:signatures"):
            sigs = minhash_signatures(docs).localCheckpoint(eager=True)
        with tr.span("act:candidates"):
            candidates = lsh_candidate_pairs(sigs, carry_sig=True).count()
        with tr.span("write:minhash"):
            write(self.minhash(docs), os.path.join(odir, "minhash"))
        with tr.span("write:jaccard"):
            write(self.jaccard(docs), os.path.join(odir, "jaccard"))
        with tr.span("check"):
            self.check_pairs(odir)
            pairs = parquet_rows(os.path.join(odir, "minhash"))
            m = {"dedup.candidates": candidates, "dedup.minhash_pairs": pairs,
                 "dedup.verify_ratio": pairs / candidates if candidates else 0.0,
                 "dedup.jaccard_pairs": parquet_rows(
                     os.path.join(odir, "jaccard"))}
        if self.xspan is not None:
            m.update(self.xspan.traced(tr))
        return m


def make_workload(name: str, spark, work: str, seed: int, smoke: bool,
                  trace: bool):
    size = {k: v[1 if smoke else 0] for k, v in SIZES[name].items()}

    def repeat_check(wl_name: str) -> RepeatCheck:
        return RepeatCheck(work, wl_name, seed, smoke)

    def xspan(wdir: str) -> ConvertXspanWh:
        n = SIZES["convert_xspan_wh"]["docs"][1 if smoke else 0]
        return ConvertXspanWh(spark, wdir, n, seed,
                              repeat_check("convert_xspan_wh"))

    if name == "convert_mem":
        return ConvertMem(spark, work, size["docs"], seed, repeat_check(name))
    if name == "convert_xspan_wh":
        return xspan(work)
    return DedupCohort(spark, work, size["base"], size["cohort"], seed,
                       repeat_check(name),
                       xspan(os.path.join(work, "xspan")) if trace else None)


def guarded(spark, fn, *args) -> tuple[dict | None, str | None]:
    """Run one timed run; a run that raises, fails a check or outlives
    RUN_TIMEOUT_S (its jobs are cancelled) returns an error instead."""
    timer = threading.Timer(RUN_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    timer.daemon = True
    timer.start()
    try:
        return fn(*args), None
    except Exception as e:  # noqa: BLE001 — every failure is counted
        return None, f"{type(e).__name__}: {e}"
    finally:
        timer.cancel()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    t_proc = time.monotonic()

    t0 = time.monotonic()
    spark = build_session(f"perfbench-{args.workload}",
                          master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]")
    # jobs/convert.py's default: AQE off unless --aqe
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    session_s = time.monotonic() - t0

    wl = make_workload(args.workload, spark, args.work, args.seed, args.smoke,
                       bool(args.trace))
    setup_reps = []
    for _ in range(SETUP_REPS):
        t0 = time.monotonic()
        wl.setup()
        setup_reps.append(time.monotonic() - t0)
    print(f"perfbench: session {session_s:.1f} s, set-up "
          f"{', '.join(f'{t:.2f}' for t in setup_reps)} s", file=sys.stderr)

    if args.trace:
        return traced_run(spark, wl, args.work)
    return timed_runs(spark, wl, args.seconds, t_proc, args.work,
                      session_s + median(setup_reps))


def timed_runs(spark, wl, seconds: float, t_proc: float, work: str,
               setup_s: float) -> int:
    """Untraced runs for the end-to-end metrics."""
    runs, errors = [], []
    t_first = time.monotonic()
    while True:
        res, err = guarded(spark, wl.run, len(runs) + len(errors))
        if err is None:
            runs.append(res)
            print(f"perfbench: run wall {res['wall']:.2f} s", file=sys.stderr)
        else:
            errors.append(err)
        attempted = len(runs) + len(errors)
        now = time.monotonic()
        last = (res or {}).get("wall", 0.0)
        if attempted >= MIN_RUNS and now - t_first >= seconds:
            break
        if now - t_proc + last > RUN_BUDGET_S or attempted >= 50:
            break
    spark.stop()
    if not runs:
        print(f"perfbench: every run failed: {errors}", file=sys.stderr)
        return 1
    # with a short --seconds this is the one, cold, run of the process:
    # the run every spark-submit job pays for
    docs_per_s = wl.n_docs / median([r["wall"] for r in runs])
    write_result(work, errors, attempted, {
        "docs_per_s": (docs_per_s, "1/s"), "setup_s": (setup_s, "s")})
    return 0


# spans of the traced run that the untraced run does not time
OUTSIDE_RUN = ("check", "read:input")


def span_metric(name: str) -> str | None:
    """The per-layer metric a span's self time goes to, if any. The
    self time of `pipeline.plan`, what the run_pipeline() call spends
    outside its operator and stage spans, goes to none."""
    if name.startswith("op:"):
        metric = "plan." + name[3:].split(".")[0] + "_s"
        return metric if metric in PER_LAYER else None
    return SPAN_METRIC.get(name)


def traced_run(spark, wl, work: str) -> int:
    """One traced run, its output checks, and the per-layer metrics."""
    tr = Tracer(spark)

    def run():
        with tr.span("run"):
            return wl.traced(tr)
    res, err = guarded(spark, run)
    if err is not None:
        spark.stop()
        print(f"perfbench: traced run failed: {err}", file=sys.stderr)
        return 1
    layer = {k: 0 for k in PER_LAYER}
    layer.update(res)
    tasks = tr.task_counts()
    self_t = tr.self_times()
    span = tr.durations()
    covered = 0.0
    for name, secs in self_t.items():
        metric = span_metric(name)
        if metric is not None:
            layer[metric] += secs
            covered += secs
    layer["pipeline.plan_s"] = span.get("pipeline.plan", 0.0)
    layer["pipeline.plan_self_s"] = self_t.get("pipeline.plan", 0.0)
    layer["pipeline.jobs"] = sum(t["jobs"] for t in tasks.values())
    layer["pipeline.stages"] = sum(t["stages"] for t in tasks.values())
    layer["nodes.snap_stages"] = sum(
        t["stages"] for n, t in tasks.items() if n.endswith("snap_map"))
    layer["pipeline.trace_overhead_s"] = tr.overhead_s
    # share of the traced wall that layer metrics account for
    layer["pipeline.trace_coverage"] = covered / (
        span["run"] - sum(span.get(n, 0.0) for n in OUTSIDE_RUN))
    spark.stop()
    # the event log is complete once the session has stopped
    groups = {n: g for n, g in event_log_by_group(
        os.path.join(work, EVENT_LOG)).items() if n.startswith("layer:")}
    for key in ("shuffle_write_mb", "spill_mb", "failed_tasks"):
        layer[f"pipeline.{key}"] = sum(g[key] for g in groups.values())
    layer["sosi.task_s"] = sum(
        g["executor_s"] for n, g in groups.items()
        if n in ("layer:stage:geo_objects", "layer:act:objects"))
    with open(os.path.join(work, TRACE_FILE), "w") as f:
        json.dump({"spans": tr.spans, "self_s": self_t, "tasks": tasks,
                   "event_log": groups}, f, indent=1)
    write_result(work, [], 1, {k: (v, PER_LAYER[k]) for k, v in layer.items()})
    return 0


def write_result(work: str, errors: list[str], attempted: int,
                 metrics: dict) -> None:
    with open(os.path.join(work, RESULT_FILE), "w") as f:
        json.dump({"correct": not errors, "attempted": attempted,
                   "failed": len(errors),
                   "metrics": {k: {"value": v, "unit": u}
                               for k, (v, u) in metrics.items()},
                   "errors": errors}, f)


if __name__ == "__main__":
    sys.exit(main())
