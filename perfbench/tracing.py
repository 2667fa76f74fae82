"""The traced run: per-module numbers for one workload.

Three sources, all recorded from the benchmark's side of the package's
public functions:

* pipeline spans: one ``pipeline.run`` span around ``run_pipeline``,
  with child spans built from the ``timings`` it returns;
* a solo pass: each module's public functions called serially on the
  same input, one span (and one Spark job group) per module;
* the Spark event log: task metrics of the pipeline run, assigned to a
  module by each SQL execution's plan or write target, and of the solo
  pass, assigned by job group. Attributed task time plus
  ``spark.unattributed_s`` must add up to the run's wall x cores.

Spans are kept in memory and written to ``.bench_work/traces`` when the
run ends. Two probes run alongside: the frameworkless decode kernel
across ``nproc`` processes and a fixed 1B-row JVM aggregation; they
track the box, not the code.
"""

from __future__ import annotations

import json
import os
import re
import time

import spark_env
from workloads import Run, link_parts

# modules with an attr.<module>_s metric: the ones with Spark tasks in
# every workload's pipeline run (manifest and id-index tasks, which a
# fresh run does not have, count as unattributed)
ATTRIBUTED = ("image_verify", "stats", "constraints", "drift")
SOLO_INDEX = "perfbench_solo_index"


class Tracer:
    """Spans (name, start, end, parent) of one traced run, in memory."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: str | None = None) -> None:
        self.spans.append({"trace": self.trace_id, "name": name, "start": start,
                           "end": end, "parent": parent})

    def timed(self, name: str, fn, parent: str | None = None):
        """(fn(), seconds), recorded as a span."""
        start = time.time()
        out = fn()
        end = time.time()
        self.add(name, start, end, parent)
        return out, end - start

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


# --- pipeline spans and coverage -------------------------------------

_SEQUENTIAL = ("plan", "compute_metadata", "writes", "drift_wait",
               "id_index_append", "id_index_supersede", "manifest")
_LEGS = ("profile_and_counts", "unique_referential", "violations", "decode_verify")


def coverage(timings: dict, wall: float) -> dict:
    """Time of one pipeline run that no timer in ``timings`` covers.
    The sequential phases count whole; inside compute_metadata only the
    longest leg timer counts, taking every leg to start with the phase
    (the decode leg starts its timer a little later, so this is an upper
    bound on coverage). Work after the timings close, such as the
    global uniqueness pass, is uncovered."""
    tm = dict(timings)
    tm["drift_wait"] = tm.get("writes_and_drift", 0.0) - tm.get("writes", 0.0)
    legs = max([tm.get(leg, 0.0) for leg in _LEGS] or [0.0])
    covered = sum(tm.get(n, 0.0) for n in _SEQUENTIAL if n != "compute_metadata")
    covered += min(legs, tm.get("compute_metadata", 0.0))
    uncovered = max(0.0, wall - covered)
    return {"uncovered_s": uncovered, "uncovered_share": uncovered / wall}


def pipeline_spans(tr: Tracer, start: float, end: float, timings: dict) -> None:
    """Child spans of ``pipeline.run`` from the returned timings: the
    top-level timings are sequential phases, and the legs start with
    compute_metadata and run concurrently."""
    tm = dict(timings)
    tm["drift_wait"] = tm.get("writes_and_drift", 0.0) - tm.get("writes", 0.0)
    tr.add("pipeline.run", start, end)
    t = start
    for name in _SEQUENTIAL:
        if name not in tm:
            continue
        tr.add(f"pipeline.{name}", t, t + tm[name], "pipeline.run")
        if name == "compute_metadata":
            for leg in _LEGS:
                if leg in tm:
                    tr.add(f"pipeline.{leg}", t, t + tm[leg], "pipeline.compute_metadata")
        t += tm[name]


# --- solo pass ---------------------------------------------------------


def solo_pass(spark, run: Run, pending: list[int], tr: Tracer) -> dict:
    """Each module's public functions on the traced run's input, one at
    a time; every call is a span and a Spark job group."""
    from pyspark.sql import functions as F

    from advanced_data_profile_spark.operators import constraints as C
    from advanced_data_profile_spark.operators.drift import (
        categorical_counts,
        categorical_psi_chi2,
        histogram,
        ks_psi,
    )
    from advanced_data_profile_spark.operators.image_verify import (
        decode_file_tasks,
        validate_payloads_files,
        validation_verdicts,
    )
    from advanced_data_profile_spark.operators.stats import (
        SKIP_PROFILE_TYPES,
        column_profile_struct,
        sketch_state_struct,
    )
    from advanced_data_profile_spark.plans.id_index import (
        global_uniqueness_from_index,
        index_append,
    )
    from advanced_data_profile_spark.plans.manifest import Manifest, new_run_id
    from advanced_data_profile_spark.plans.pipeline import PipelineConfig, image_checks
    from advanced_data_profile_spark.sources.images import phash_reference, read_images

    sc = spark.sparkContext
    cfg = PipelineConfig()
    solo_dir = f"{run.work}/solo"
    out: dict[str, float] = {}

    def call(module: str, name: str, fn):
        sc.setJobGroup(module, name)
        try:
            return tr.timed(f"solo.{module}.{name}", fn, "solo")
        finally:
            sc.setJobGroup(None, None)

    def list_images():
        d = read_images(spark, run.images)
        d.inputFiles()
        return d

    t_solo = time.time()
    images, out["images.list_s"] = call("images", "list", list_images)
    df = images.where(F.col("part_id").isin(pending))
    meta = df.withColumn("caption_len", F.length("caption"))
    meta_nb = meta.drop("bytes")

    def decode():
        tasks = decode_file_tasks(spark, run.images, pending)
        return validation_verdicts(
            validate_payloads_files(spark, run.images, pending, tasks=tasks)).collect()

    _, out["image_verify.solo_s"] = call("image_verify", "decode_verify", decode)

    def profile():
        dtypes = {f.name: f.dataType for f in meta_nb.schema.fields}
        cols = [c for c, t in dtypes.items()
                if not isinstance(t, SKIP_PROFILE_TYPES) and c != "part_id"]
        return meta_nb.groupBy("part_id").agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[column_profile_struct(c, dtypes[c], True) for c in cols],
            *[sketch_state_struct(c, dtypes[c]) for c in cols],
        ).collect()

    _, out["stats.solo_s"] = call("stats", "profile", profile)

    checks = image_checks(phash_reference(images), cfg)
    rowwise = [c for c in checks if c.kind in ("not_null", "domain")]
    others = [c for c in checks if c.kind in ("unique", "referential")]

    def unique_ref():
        res, vio = C.evaluate(df, others, part_col="part_id",
                              sample_violations=cfg.sample_violations)
        return res.collect(), vio.collect()

    _, out["constraints.unique_ref_s"] = call("constraints", "unique_referential", unique_ref)
    _, out["constraints.vio_samples_s"] = call(
        "constraints", "violation_samples",
        lambda: C.rowwise_violation_samples(meta, rowwise, "part_id",
                                            cfg.sample_violations).collect())

    # drift against the baseline partition, which a resumed run only
    # has as stored state: score the pending partitions plus the baseline
    drift_meta = images.where(F.col("part_id").isin(sorted({cfg.baseline_part, *pending}))) \
        .withColumn("caption_len", F.length("caption"))
    _, out["drift.numeric_s"] = call(
        "drift", "numeric",
        lambda: ks_psi(histogram(drift_meta, list(cfg.drift_columns), "part_id"),
                       cfg.baseline_part).collect())
    _, out["drift.categorical_s"] = call(
        "drift", "categorical",
        lambda: categorical_psi_chi2(
            categorical_counts(drift_meta, list(cfg.categorical_drift_columns), "part_id"),
            cfg.baseline_part).collect())

    _, out["manifest.done_parts_s"] = call(
        "manifest", "done_parts",
        lambda: Manifest(spark, f"{run.out}/manifest").done_parts().collect())
    rid = new_run_id()
    _, out["manifest.commit_s"] = call(
        "manifest", "record_many",
        lambda: Manifest(spark, f"{solo_dir}/manifest").record_many([
            {"run_id": rid, "part_id": str(p), "status": "done", "started_at": t_solo,
             "n_rows": run.wl.rows, "metrics": {}, "input_path": run.images}
            for p in pending]))

    spark.sql(f"DROP TABLE IF EXISTS {SOLO_INDEX}")
    _, out["id_index.append_s"] = call(
        "id_index", "append",
        lambda: index_append(df.select("image_id", "part_id"), SOLO_INDEX,
                             f"{solo_dir}/id_index", run_id=rid,
                             buckets=cfg.id_index_buckets))
    _, out["id_index.global_check_s"] = call(
        "id_index", "global_check",
        lambda: global_uniqueness_from_index(spark, SOLO_INDEX, solo_dir))
    spark.sql(f"DROP TABLE IF EXISTS {SOLO_INDEX}")
    tr.add("solo", t_solo, time.time())
    return out


# --- event log ---------------------------------------------------------

_WRITE_TARGET = re.compile(r"InsertIntoHadoopFsRelationCommand\s+(\S+?),")
_TABLE_MODULE = {
    "column_profiles": "stats", "profile_sketches": "stats", "row_sample": "stats",
    "constraint_results": "constraints", "violations": "constraints",
    "histograms": "drift", "category_counts": "drift", "drift_results": "drift",
    "drift_results_categorical": "drift", "id_index": "id_index",
    "constraint_results_global": "id_index", "violations_global": "id_index",
}
# plan markers, checked in order after the write target
_PLAN_MODULE = (
    ("MapInArrow", "image_verify"),
    ("_sketch_agg", "stats"),
    ("width_bucket", "drift"),
    ("__mn_", "drift"),
    ("__null__", "drift"),
    ("row_number", "constraints"),
    ("LeftAnti", "constraints"),
    ("image_id", "constraints"),
    ("/manifest", "manifest"),
)


def classify_plan(plan: str) -> str:
    m = _WRITE_TARGET.search(plan)
    if m:
        return _TABLE_MODULE.get(m.group(1).rstrip("/").rsplit("/", 1)[-1], "other")
    if "id_index" in plan:
        return "id_index"
    for marker, module in _PLAN_MODULE:
        if marker in plan:
            return module
    return "other"


def read_event_log(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def tasks_by_module(events: list[dict]) -> tuple[list[dict], list[dict]]:
    """Every finished task with its module: the job group when one is
    set (the solo pass), otherwise the SQL execution's plan. Returns
    (tasks, jobs)."""
    plans: dict[str, str] = {}
    stage_module: dict[int, str] = {}
    stage_job_group: dict[int, str] = {}
    jobs, tasks = [], []
    for e in events:
        kind = e.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart"):
            plans[str(e["executionId"])] = e.get("physicalPlanDescription", "")
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties", {})
            group = props.get("spark.jobGroup.id")
            ex = props.get("spark.sql.execution.root.id") or props.get("spark.sql.execution.id")
            module = group or classify_plan(plans.get(str(ex), ""))
            jobs.append({"submit": e.get("Submission Time", 0) / 1000.0, "group": group or ""})
            for s in e.get("Stage IDs", []):
                stage_module[s] = module
                stage_job_group[s] = group or ""
        elif kind == "SparkListenerTaskEnd":
            info, m = e.get("Task Info", {}), e.get("Task Metrics") or {}
            acc = {}
            for a in info.get("Accumulables", []):
                try:
                    acc[a.get("Name")] = acc.get(a.get("Name"), 0) + int(a.get("Update", 0))
                except (TypeError, ValueError):
                    continue
            sid = e.get("Stage ID")
            tasks.append({
                "module": stage_module.get(sid, "other"),
                "group": stage_job_group.get(sid, ""),
                "launch": info.get("Launch Time", 0) / 1000.0,
                "finish": info.get("Finish Time", 0) / 1000.0,
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "input_mb": (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 2**20,
                "shuffle_mb": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20,
                "spill_mb": (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20,
                "py_sent_mb": acc.get("data sent to Python workers", 0) / 2**20,
                "py_recv_mb": acc.get("data returned from Python workers", 0) / 2**20,
            })
    return tasks, jobs


def _busy_integral(tasks: list[dict], lo: float, hi: float, n_cores: int) -> tuple[float, float]:
    """(core-seconds of task time clipped to [lo, hi], idle core-seconds),
    by a sweep over task start and end points."""
    points = []
    for t in tasks:
        a, b = max(t["launch"], lo), min(t["finish"], hi)
        if b > a:
            points += [(a, 1), (b, -1)]
    points.sort()
    busy = idle = 0.0
    running, prev = 0, lo
    for x, d in points + [(hi, 0)]:
        busy += running * (x - prev)
        idle += max(0, n_cores - running) * (x - prev)
        running += d
        prev = x
    return busy, idle


def window_metrics(tasks: list[dict], jobs: list[dict], lo: float, hi: float,
                   n_cores: int) -> dict:
    """spark.* and attr.* for the pipeline run window [lo, hi]."""
    win = [t for t in tasks if t["finish"] >= lo and t["launch"] <= hi and not t["group"]]
    wall = hi - lo
    busy, idle = _busy_integral(win, lo, hi, n_cores)
    out = {
        "spark.jobs": sum(1 for j in jobs if lo <= j["submit"] <= hi and not j["group"]),
        "spark.tasks": len(win),
        "spark.task_s": sum(t["run_s"] for t in win),
        "spark.cpu_s": sum(t["cpu_s"] for t in win),
        "spark.gc_s": sum(t["gc_s"] for t in win),
        "spark.core_busy": busy / (wall * n_cores),
        "spark.input_mb": sum(t["input_mb"] for t in win),
        "spark.shuffle_write_mb": sum(t["shuffle_mb"] for t in win),
        "spark.spill_mb": sum(t["spill_mb"] for t in win),
    }
    attributed = 0.0
    for module in ATTRIBUTED:
        b, _ = _busy_integral([t for t in win if t["module"] == module], lo, hi, n_cores)
        out[f"attr.{module}_s"] = b
        attributed += b
    out["spark.unattributed_s"] = wall * n_cores - attributed
    # reconcile: clipped task time + idle core time must equal wall x
    # cores; an error here means overlapping or mis-clipped tasks
    out["spark.reconcile_err"] = abs(busy + idle - wall * n_cores) / (wall * n_cores)
    return out


def group_metrics(tasks: list[dict]) -> dict:
    """Per-module solo-pass task metrics, by job group."""
    def tot(group, key):
        return sum(t[key] for t in tasks if t["group"] == group)

    return {
        "image_verify.task_s": tot("image_verify", "run_s"),
        "image_verify.cpu_s": tot("image_verify", "cpu_s"),
        "image_verify.py_sent_mb": tot("image_verify", "py_sent_mb"),
        "image_verify.py_recv_mb": tot("image_verify", "py_recv_mb"),
        "stats.cpu_s": tot("stats", "cpu_s"),
        "stats.shuffle_mb": tot("stats", "shuffle_mb"),
        "constraints.shuffle_mb": tot("constraints", "shuffle_mb"),
        "constraints.spill_mb": tot("constraints", "spill_mb"),
    }


# --- probes ------------------------------------------------------------


def jvm_probe(spark) -> float:
    """A fixed aggregation over 1B generated longs: whole-stage codegen,
    no I/O, no Python. One untimed pass compiles it."""
    from pyspark.sql import functions as F

    def once() -> float:
        t = time.perf_counter()
        spark.range(0, 1_000_000_000, 1, 32).select(
            F.col("id"), (F.col("id") % 97).alias("m")
        ).agg(F.sum("id"), F.avg("m"), F.count(F.lit(1))).collect()
        return time.perf_counter() - t

    once()
    return once()


def kernel_probe(files: list[str], n_procs: int) -> float:
    """The pipeline's decode kernel (scaling_bench._calib_worker: pyarrow
    read + _validate_arrow) over ``files`` in ``n_procs`` spawned
    processes, no Spark. Seconds of the slowest worker."""
    import multiprocessing as mp
    import sys

    sys.path.insert(0, os.path.join(os.getcwd(), "scripts"))
    import scaling_bench

    groups = [g for g in (files[i::n_procs] for i in range(n_procs)) if g]
    for f in files:  # warm the page cache, as the Spark passes read warm files
        with open(f, "rb") as fh:
            while fh.read(1 << 22):
                pass
    from multiprocessing import resource_tracker

    try:
        with mp.get_context("spawn").Pool(len(groups)) as pool:
            return max(pool.map(scaling_bench._calib_worker, groups))
    finally:
        # the spawn pool started the resource tracker, which otherwise
        # runs until this process has exited
        resource_tracker._resource_tracker._stop()


# --- the traced run ------------------------------------------------------


def _link_quarter(run: Run) -> tuple[str, list[int]]:
    """The weak-scaling input: a quarter of the done partitions (if
    any) plus a quarter of the partitions a timed run validates, at
    least one. Returns (path, partitions the local[1] run validates)."""
    wl = run.wl
    parts = run.all_parts()
    done = [p for p in parts if p < wl.done_parts]
    new = wl.pending(parts)
    q = done[: len(done) // 4] + new[: max(1, len(new) // 4)]
    path = f"{run.work}/images_quarter"
    link_parts(run.images, path, q)
    return path, wl.pending(q)


def traced(spark, run: Run, phases: list, n_cores: int) -> tuple[dict, dict]:
    tr = Tracer(f"{run.wl.name}-{run.seed}")
    for name, start, end in phases:
        tr.add(name, start, end, "setup")
    tr.add("setup", phases[0][1], phases[-1][2])
    setup = {f"{name}_s": end - start for name, start, end in phases}
    errs: list[str] = []

    run.reset()
    lo = time.time()
    with spark_env.RssSampler(spark_env.jvm_pid()) as rss:
        summary, wall = run.timed_run()
    hi = time.time()
    tm = summary.get("timings", {})
    pipeline_spans(tr, lo, hi, tm)
    errs += run.check(summary)
    pending = run.wl.pending(run.all_parts())
    solo = solo_pass(spark, run, pending, tr)
    jvm_s, _ = tr.timed("probe.jvm", lambda: jvm_probe(spark))
    event_log = os.path.join(run.work, "eventlog", spark.sparkContext.applicationId)

    # weak scaling: a quarter of the input at local[1], in the same JVM;
    # a tiny Python job first forks the new context's workers
    spark.stop()
    run.spark = spark_env.start_session(run.work, 1)
    run.spark.range(0, 2, 1, 2).mapInPandas(lambda it: it, "id long").count()
    q_images, q_pending = _link_quarter(run)
    run.reset()
    (s1, l1_s), _ = tr.timed("scaling.local1_run", lambda: run.timed_run(images=q_images))
    if s1.get("partitions") != len(q_pending):
        errs.append(f"local[1] run validated {s1.get('partitions')} partitions")
    spark_env.stop_jvm(run.spark)

    # the event log is complete once its context has stopped
    tasks, jobs = tasks_by_module(read_event_log(event_log))
    win = window_metrics(tasks, jobs, lo, hi, n_cores)
    if win["spark.reconcile_err"] > 0.02:
        errs.append(f"task time does not reconcile with wall x cores: {win['spark.reconcile_err']:.3f}")

    files = sorted(
        os.path.join(d, f)
        for p in pending
        for d, _, fs in os.walk(f"{run.images}/part_id={p}")
        for f in fs if f.endswith(".parquet")
    )
    kernel_s, _ = tr.timed("probe.kernel", lambda: kernel_probe(files, n_cores))
    n_images = len(pending) * run.wl.rows
    used = {"image_verify", "stats", "constraints", "drift", "manifest"}
    if run.wl.resume:
        used.add("id_index")

    result_files, result_mb = 0, 0.0
    for d, _, fs in os.walk(run.out):
        for f in fs:
            if f.endswith(".parquet"):
                result_files += 1
                result_mb += os.path.getsize(os.path.join(d, f)) / 2**20
    metrics = {
        "session.start_s": setup["session.start_s"],
        "session.warm_s": setup["session.warm_s"],
        **solo,
        "image_verify.imgs_per_s": n_images / solo["image_verify.solo_s"],
        "image_verify.floor_ratio": kernel_s / solo["image_verify.solo_s"],
        **group_metrics(tasks),
        "pipeline.run_s": wall,
        **{f"pipeline.{k}_s": tm[k] for k in (
            "plan", "compute_metadata", "profile_and_counts", "unique_referential",
            "violations", "decode_verify", "writes", "manifest")},
        # what the same modules cost called one after another, over
        # the pipeline's wall: the overlap its concurrent legs buy
        "pipeline.overlap": sum(v for k, v in solo.items() if k.split(".")[0] in used) / wall,
        **{f"pipeline.{k}": v for k, v in coverage(tm, wall).items()},
        "pipeline.result_files": result_files,
        "pipeline.result_mb": result_mb,
        "pipeline.peak_rss_mb": rss.peak,
        **win,
        "scaling.local1_run_s": l1_s,
        "scaling.eff": l1_s / wall,
        "probe.kernel_imgs_per_s": n_images / kernel_s,
        "probe.jvm_s": jvm_s,
    }
    trace_file = os.path.join(os.path.dirname(run.work), "traces",
                              f"trace-{run.wl.name}-{run.seed}.json")
    tr.write(trace_file)
    detail = {"setup": setup, "timings": tm, "errors": errs,
              "trace_file": os.path.relpath(trace_file)}
    return {"correct": not errs, "attempted": 1, "failed": int(bool(errs)), "metrics": metrics}, detail
