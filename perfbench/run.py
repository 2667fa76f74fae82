"""Benchmark of the image validation job (profile -> constraints ->
payload verify -> drift -> manifest) on local[nproc].

    python3 perfbench/run.py --workload validate_decode --seed 1 --seconds 12 --trace 0

Run from the repository root. Closed loop, one client: a pipeline run
is submitted only after the previous one finished and its outputs were
checked. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the ``end_to_end`` metrics of
BENCHMARK.json, or with ``--trace 1`` its ``per_layer`` metrics); the
line before it is a detail record with every run's samples and the
pipeline's own stage timings.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
PACKAGE = "advanced_data_profile_spark"
WATCHDOG_S = 175  # a run must end within 180 s
REAP_GRACE_S = 10  # for child processes to exit on their own at the end


def _declared(key: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE}/ not found under {ROOT}: run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import spark_env
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    # one work dir per invocation, so runs in the same checkout never
    # share files; dirs left by killed runs are removed first
    for d in os.listdir(WORK) if os.path.isdir(WORK) else []:
        if d.startswith("run-") and not os.path.exists(f"/proc/{d[4:]}"):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    spark_env.prepare_env(ROOT, run_dir)
    spark_env.become_subreaper()
    watchdog = spark_env.start_watchdog(WATCHDOG_S)
    n_cores = spark_env.cores()

    phases: list[tuple[str, float, float]] = []  # (name, start, end), epoch seconds

    def phase(name: str, fn):
        t = time.time()
        out = fn()
        phases.append((name, t, time.time()))
        return out

    spark = None
    try:
        spark = phase("session.start",
                      lambda: spark_env.start_session(run_dir, n_cores, event_log=bool(args.trace)))
        if args.trace:
            # the first Python job forks the workers; untraced runs leave
            # that to input generation, which is not timed
            phase("session.warm", lambda: spark.range(0, 2 * n_cores, 1, 2 * n_cores)
                  .mapInPandas(lambda it: it, "id long").count())
        run = Run(spark, wl, args.seed, run_dir)
        phase("generate", run.generate)
        phase("cold_run", run.cold_run)
        run.save_snapshot()
        if args.trace:
            import tracing

            result, detail = tracing.traced(spark, run, phases, n_cores)
            spark = None  # stopped inside
        else:
            result, detail = _timed(run, phases, args.seconds)
    finally:
        if spark is not None:
            spark_env.stop_jvm(spark)
        # the JVM's Python daemon and workers exit once it is gone
        spark_env.reap_children(REAP_GRACE_S)
        shutil.rmtree(run_dir, ignore_errors=True)
        watchdog.cancel()

    declared = _declared("per_layer" if args.trace else "end_to_end")
    values = result.pop("metrics")
    if set(values) != set(declared):
        result["correct"] = False
        detail["metric_mismatch"] = sorted(set(values) ^ set(declared))
    result["metrics"] = {
        k: {"value": values[k], "unit": u} for k, u in declared.items() if k in values
    }
    print(json.dumps({"record": "detail", "workload": wl.name, "seed": args.seed, **detail}))
    print(json.dumps(result))
    return 0


def _timed(run, phases: list, seconds: float) -> tuple[dict, dict]:
    """Closed loop for ``seconds`` (and at least two runs): reset
    (untimed), run, check. A run fails if it raises or a check fails."""
    from tracing import coverage

    setup = {f"{name}_s": end - start for name, start, end in phases}
    walls, runs = [], []
    attempted = failed = rows = 0
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or attempted < 2:
        attempted += 1
        summary, wall = {}, None
        try:
            run.reset()
            summary, wall = run.timed_run()
            errs = run.check(summary)
        except Exception:
            errs = [traceback.format_exc(limit=3)]
        runs.append({"wall_s": wall, "timings": summary.get("timings"), "errors": errs,
                     **(coverage(summary.get("timings", {}), wall) if wall else {})})
        if errs:
            failed += 1
            continue
        walls.append(wall)
        rows = summary["rows"]
    detail = {"setup": setup, "runs": runs, "fail_ratio": failed / attempted}
    if not walls:
        return {"correct": False, "attempted": attempted, "failed": failed, "metrics": {}}, detail
    # a tail percentile needs ten samples beyond it; a run affords two
    # or three, so only the median is reported, with its sample count
    run_s = statistics.median(walls)
    detail["run_s"] = {"median": run_s, "n": len(walls)}
    metrics = {
        "setup_s": setup["session.start_s"] + setup["cold_run_s"],
        "run_s": run_s,
        "images_per_s": rows / run_s,
    }
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}, detail


if __name__ == "__main__":
    sys.exit(main())
