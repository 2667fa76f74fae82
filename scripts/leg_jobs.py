"""Spark work per pipeline leg: wall span, jobs, stages, tasks, task
seconds and CPU seconds, read from the live status store of one
perfbench workload.

    python scripts/leg_jobs.py --workload validate_resume --seed 7 --runs 3

Run from the repository root. It sets up the workload exactly as
``perfbench/run.py`` does (same session factory, input generation and
cold run; for ``validate_resume`` the restored snapshot), then makes
``--runs`` pipeline runs and checks each one's outputs. After each run
it reads the status store (``sc._jsc.sc().statusStore()``, which works
with the UI disabled): every job submitted during the run carries its
leg's name as job description, and each job's stages give task count,
executor run time, CPU time and whether the stage ran Python workers
(an operator scope such as ``PythonRDD``, ``MapInArrow`` or
``ArrowEvalPython``). Skipped stages (shuffle output reused) count
neither as stages nor as tasks. The store keeps the last
``spark.ui.retainedJobs`` jobs (1,000 by default), far more than a run
submits.

Each leg's wall span (``wall_s``, end minus start) comes from the run
summary's ``legs`` timeline, so a leg that runs no Spark job, such as a
driver-side pyarrow write, still shows what it costs. Driver work a leg
does before its first job counts too: ``profile_and_counts`` builds the
wide profile plan itself.

Prints one table per run; the last line of each table sums every leg,
except its ``wall_s``, which is the whole run's wall time. With
``--jobs`` each table is followed by every job of the run, grouped by
leg: its submit and completion times in seconds from the run's start
(``submissionTime``/``completionTime`` in the store), its task counts
and task seconds. A chain of small jobs, whose cost is scheduling latency rather
than compute, shows there; the per-leg totals hide it.
"""

from __future__ import annotations

import argparse
import os
import re
import shutil
import sys
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PYTHON_SCOPE = re.compile(r"Python|InPandas|InArrow|EvalPython")


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _scopes(cluster) -> list[str]:
    names = [n.name() for n in _seq(cluster.childNodes())]
    for c in _seq(cluster.childClusters()):
        names += [c.name(), *_scopes(c)]
    return names


def last_job_id(sc) -> int:
    jobs = _seq(sc._jsc.sc().statusStore().jobsList(None))
    return max((j.jobId() for j in jobs), default=-1)


def leg_work(sc, after_job: int) -> dict[str, dict]:
    """{leg: {jobs, stages, tasks, task_s, cpu_s, py_stages}} for every
    job with an id above ``after_job``; jobs without a description are
    listed under "(none)"."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(60_000)
    store = jsc.statusStore()
    legs: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for job in _seq(store.jobsList(None)):
        if job.jobId() <= after_job:
            continue
        desc = job.description()
        leg = legs[desc.get() if desc.isDefined() else "(none)"]
        leg["jobs"] += 1
        for sid in _seq(job.stageIds()):
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            leg["stages"] += 1
            leg["tasks"] += st.numTasks()
            leg["task_s"] += st.executorRunTime() / 1e3
            leg["cpu_s"] += st.executorCpuTime() / 1e9
            scopes = _scopes(store.operationGraphForStage(sid).rootCluster())
            leg["py_stages"] += any(PYTHON_SCOPE.search(s) for s in scopes)
    return legs


def job_spans(sc, after_job: int, t0: float) -> str:
    """One line per job with an id above ``after_job``, grouped by leg
    in order of first submission: job id, submit and complete times in
    seconds from ``t0`` (epoch seconds), duration, tasks run, skipped
    and failed, and the task seconds of its stages that ran."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(60_000)
    store = jsc.statusStore()
    by_leg: dict[str, list] = defaultdict(list)
    for job in sorted(_seq(store.jobsList(None)), key=lambda j: j.jobId()):
        if job.jobId() <= after_job:
            continue
        desc = job.description()
        sub, done = job.submissionTime(), job.completionTime()
        start = sub.get().getTime() / 1e3 - t0 if sub.isDefined() else float("nan")
        end = done.get().getTime() / 1e3 - t0 if done.isDefined() else float("nan")
        stages = [store.lastStageAttempt(sid) for sid in _seq(job.stageIds())]
        task_s = sum(st.executorRunTime() / 1e3 for st in stages
                     if st.status().toString() != "SKIPPED")
        by_leg[desc.get() if desc.isDefined() else "(none)"].append((
            job.jobId(), start, end, job.numCompletedTasks(),
            job.numSkippedTasks(), job.numFailedTasks(), task_s))
    width = max([len(n) for n in by_leg] + [5])
    out = [f"{'leg':<{width}} {'job':>5} {'submit_s':>9} {'done_s':>9} "
           f"{'dur_s':>7} {'tasks':>6} {'skipped':>7} {'failed':>6} {'task_s':>7}"]
    for name, jobs in sorted(by_leg.items(), key=lambda kv: kv[1][0][1]):
        for jid, start, end, n, skipped, failed, task_s in jobs:
            out.append(f"{name:<{width}} {jid:>5d} {start:>9.3f} {end:>9.3f} "
                       f"{end - start:>7.3f} {n:>6d} {skipped:>7d} {failed:>6d} "
                       f"{task_s:>7.2f}")
    return "\n".join(out)


def table(legs: dict[str, dict], wall: float) -> str:
    cols = ("wall_s", "jobs", "stages", "tasks", "task_s", "cpu_s", "py_stages")
    rows = sorted(legs.items(), key=lambda kv: (-kv[1]["task_s"], -kv[1]["wall_s"]))
    total = {c: sum(v[c] for _, v in rows) for c in cols}
    total["wall_s"] = wall
    width = max([len(n) for n, _ in rows] + [5])
    out = [f"{'leg':<{width}} " + " ".join(f"{c:>9}" for c in cols)]
    for name, v in [*rows, ("TOTAL", total)]:
        out.append(f"{name:<{width}} " + " ".join(
            f"{v[c]:>9.2f}" if c.endswith("_s") else f"{int(v[c]):>9d}" for c in cols))
    return "\n".join(out)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--jobs", action="store_true",
                    help="also print every job of each leg with its submit and "
                         "complete times and task counts")
    args = ap.parse_args()

    sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
    import spark_env
    from workloads import WORKLOADS, Run

    wl = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".bench_work", f"leg_jobs-{os.getpid()}")
    spark_env.prepare_env(ROOT, work)
    spark_env.become_subreaper()
    spark = None
    try:
        spark = spark_env.start_session(work, spark_env.cores())
        sc = spark.sparkContext
        run = Run(spark, wl, args.seed, work)
        run.generate()
        run.cold_run()
        run.save_snapshot()
        for i in range(args.runs):
            run.reset()
            first, t0 = last_job_id(sc), time.time()
            summary, wall = run.timed_run()
            legs = leg_work(sc, first)
            spans = job_spans(sc, first, t0) if args.jobs else None
            for name, (start, end) in summary["legs"].items():
                legs[name]["wall_s"] = end - start
            errs = run.check(summary)
            print(f"# {wl.name} seed {args.seed} run {i + 1}: {wall:.2f} s, "
                  f"{'correct' if not errs else 'FAILED: ' + '; '.join(errs)}")
            print(table(legs, wall), flush=True)
            if spans:
                print(spans, flush=True)
    finally:
        if spark is not None:
            spark_env.stop_jvm(spark)
        spark_env.reap_children(10)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
