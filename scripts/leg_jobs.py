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

With ``--stacks`` a driver thread samples, 20 ms apart during each
run, the stacks of the executor threads that are running a task, from
inside the JVM (py4j ``Thread.getStackTrace``; works with the UI off
and needs no ``jstack`` attach), and each table is followed by the
Spark frames found in the most samples (inclusive: a frame counts once
per sampled stack that holds it, wherever in the stack), with the
samples each leg's tasks took; ``--stacks LEG`` counts the frames of
that leg's tasks only. A per-task fixed cost, such as code generation
at an operator's start, shows there as a frame present in most
samples. The sampling takes driver CPU, so leave it off when the wall
times matter.
"""

from __future__ import annotations

import argparse
import os
import re
import shutil
import sys
import threading
import time
from collections import Counter, defaultdict
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PYTHON_SCOPE = re.compile(r"Python|InPandas|InArrow|EvalPython")
# a running task's thread: "Executor task launch worker for task 3.0 in stage 7.0 (TID 41)"
STAGE_IN_NAME = re.compile(r" in stage (\d+)\.")


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


def stage_legs(sc, after_job: int) -> dict[int, str]:
    """{stage id: leg} for the stages of every job with an id above
    ``after_job``."""
    out = {}
    for job in _seq(sc._jsc.sc().statusStore().jobsList(None)):
        if job.jobId() > after_job:
            desc = job.description()
            for sid in _seq(job.stageIds()):
                out[sid] = desc.get() if desc.isDefined() else "(none)"
    return out


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


class StackSampler:
    """Samples the stacks of the executor threads running a task every
    ``interval`` seconds while entered, from a driver thread through
    py4j: a thread's ``getStackTrace()`` is set on one Throwable and
    printed by ``ExceptionUtils.getStackTrace``, four py4j calls per
    executor thread and sample with the thread's name, which names the
    task's stage. The executor threads are listed again every second
    (task threads come from a growing pool)."""

    def __init__(self, sc, interval: float = 0.02):
        self.jvm, self.interval = sc._jvm, interval
        # per stage id: samples, and inclusive frame counts
        self.stages, self.frames = Counter(), defaultdict(Counter)
        self.stop = threading.Event()
        self.thread = threading.Thread(target=self._run, name="stack-sampler", daemon=True)

    def _executor_threads(self) -> list:
        ts = self.jvm.java.lang.Thread.getAllStackTraces().keySet().toArray()
        return [t for t in ts if "task launch worker" in t.getName()]

    def _run(self) -> None:
        printer = self.jvm.org.apache.commons.lang3.exception.ExceptionUtils
        holder = self.jvm.java.lang.Throwable("stack sample")
        threads, listed = [], 0.0
        while not self.stop.wait(self.interval):
            if time.time() - listed > 1.0:
                threads, listed = self._executor_threads(), time.time()
            for t in threads:
                holder.setStackTrace(t.getStackTrace())
                stack = printer.getStackTrace(holder)
                if "Executor$TaskRunner.run" not in stack:
                    continue  # an idle pool thread
                m = STAGE_IN_NAME.search(t.getName())
                sid = int(m.group(1)) if m else -1
                self.stages[sid] += 1
                # "\tat app//pkg.Cls.method(File.java:1)" -> pkg.Cls.method
                self.frames[sid].update({
                    line[4:].split("(", 1)[0].split("//", 1)[-1]
                    for line in stack.splitlines() if line.startswith("\tat ")
                })

    def __enter__(self) -> StackSampler:
        self.thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop.set()
        self.thread.join()

    def top(self, stage_legs: dict[int, str], leg: str = "", n: int = 30) -> str:
        """The ``n`` Spark frames in the most samples, of every leg or
        of ``leg`` only."""
        by_leg, frames, samples = Counter(), Counter(), 0
        for sid, c in self.stages.items():
            by_leg[stage_legs.get(sid, "(none)")] += c
            if leg in ("", stage_legs.get(sid)):
                samples += c
                frames.update(self.frames[sid])
        out = [f"# executor stacks: {sum(by_leg.values())} samples of threads running a "
               f"task, every {self.interval * 1e3:.0f} ms; by leg: "
               + ", ".join(f"{name} {c}" for name, c in by_leg.most_common()),
               f"{'share':>6} {'samples':>7}  inclusive Spark frame"
               + (f" ({leg} only)" if leg else "")]
        spark = [(f, c) for f, c in frames.most_common() if f.startswith("org.apache.spark.")]
        for f, c in spark[:n]:
            out.append(f"{c / max(samples, 1):>6.1%} {c:>7d}  {f}")
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
    ap.add_argument("--stacks", nargs="?", const="", metavar="LEG",
                    help="also sample the executor threads' stacks every 20 ms and "
                         "print the Spark frames found in the most samples (of LEG's "
                         "tasks only, when given)")
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
            with StackSampler(sc) if args.stacks is not None else nullcontext() as sampler:
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
            if sampler:
                print(sampler.top(stage_legs(sc, first), args.stacks), flush=True)
    finally:
        if spark is not None:
            spark_env.stop_jvm(spark)
        spark_env.reap_children(10)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
