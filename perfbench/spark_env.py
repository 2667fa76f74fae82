"""Spark session hygiene for the benchmark, set from the benchmark side.

Everything the run writes stays under ``<checkout>/.bench_work``: Spark
local dirs, the JVM and Python temp dirs, the SQL warehouse and the
event log. The driver heap is derived from physical RAM, and the
checkout root is put on ``PYTHONPATH`` before the JVM starts so that the
Python workers it forks can import the package.
"""

from __future__ import annotations

import os
import sys
import threading
import time


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """A quarter of physical RAM, clamped to [1 GiB, 4 GiB]: the
    package's 24g default is larger than small boxes, and the JVM
    shares the machine with the Python workers and the page cache."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return max(1024, min(4096, ram_mb // 4))


def prepare_env(root: str, work: str) -> None:
    """Process environment read by the JVM launcher and inherited by
    the Python workers; must run before the first session starts."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (the launcher too) would otherwise keep a perf-data file
    # under /tmp/hsperfdata_<user>, outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]))
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_heap_mb()}m"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_session(work: str, n_cores: int, event_log: bool = False):
    """A session from the package's own factory, plus the benchmark's
    confs: no console progress bar, temp and warehouse dirs inside the
    work dir, and (traced runs only) an uncompressed single-file event
    log."""
    from advanced_data_profile_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", cores=n_cores, extra_conf=conf)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit (the gateway JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _children(pid: int) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def kill_tree(pid: int) -> None:
    """SIGKILL a process and every descendant."""
    import signal

    kids, todo, found = _children(pid), [pid], []
    while todo:
        p = todo.pop()
        found.append(p)
        todo += kids.get(p, [])
    for p in found:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def become_subreaper() -> None:
    """Make this process the subreaper of its descendants: a process
    whose parent exits (the Python daemon the JVM forks, a helper of a
    helper) is re-parented here instead of to init, so reap_children
    still finds it and waits for it."""
    import ctypes

    pr_set_child_subreaper = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def reap_children(grace: float) -> None:
    """Wait up to ``grace`` seconds for every child process to exit on
    its own, then SIGKILL what is left, with its descendants, and wait
    for each. Returns once this process has no children left."""
    me = os.getpid()
    deadline = time.monotonic() + grace
    while True:
        alive = []
        for pid in _children(me).get(me, []):
            try:
                if os.waitpid(pid, os.WNOHANG)[0] == 0:
                    alive.append(pid)
            except ChildProcessError:
                continue
        if not alive:
            return
        if time.monotonic() < deadline:
            time.sleep(0.05)
            continue
        for pid in alive:
            kill_tree(pid)
        for pid in alive:
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:
                pass


def start_watchdog(seconds: float) -> threading.Timer:
    """Past ``seconds``, kill every child process tree, wait for them
    and exit non-zero without a result: a hung Spark call must not
    outlive the run's time limit."""

    def fire() -> None:
        print(f"perfbench: no result after {seconds:.0f}s, stopping", file=sys.stderr, flush=True)
        reap_children(0)
        os._exit(3)

    timer = threading.Timer(seconds, fire)
    timer.daemon = True
    timer.start()
    return timer


def tree_rss_mb(pid: int) -> float:
    """Resident memory of a process and all its descendants (the driver
    JVM plus the Python daemon and the workers it forks), in MiB. Pages
    shared between forked workers are counted once: each process
    contributes its proportional set size."""
    kids = _children(pid)
    todo, total_kb = [pid], 0
    while todo:
        p = todo.pop()
        todo += kids.get(p, [])
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class RssSampler:
    """Samples tree_rss_mb(pid) on a background thread inside a
    ``with`` block; ``peak`` is the highest sample of the block."""

    def __init__(self, pid: int, interval: float = 0.2):
        self.pid, self.interval = pid, interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(self.pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self.peak = tree_rss_mb(self.pid)
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_mb(self.pid))
