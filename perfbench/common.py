"""Shared helpers: checkout layout, child-process environment, process-tree
RSS sampling and summary statistics."""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# everything a run writes stays under the checkout
WORK = os.path.join(ROOT, "perfbench", ".work")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def child_env(work: str = WORK) -> dict:
    """Environment for every process the benchmark starts: the package
    importable from the checkout, the session sized to this host's
    cores, every other session setting at get_spark's default, and temp
    files, Spark local dirs and the JVM temp dir kept inside the
    checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    for k in ("SPARK_GRAFT_NO_WARMUP", "SPARK_DRIVER_MEM"):
        env.pop(k, None)
    env.update({
        "PYTHONPATH": ROOT + (os.pathsep + env["PYTHONPATH"]
                              if env.get("PYTHONPATH") else ""),
        "SPARK_GRAFT_CPUS": str(cpus()),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    return env


def parquet_files(path: str) -> list[str]:
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet"))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            st = f.read()
    except OSError:
        return None
    return st[st.rindex(")") + 2:].split()


def process_tree(pid: int) -> list[int]:
    """``pid`` and all of its live descendants."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak resident size of a process tree, sampled on a thread: the
    Python driver, the JVM it launches and the JVM's Python workers."""

    def __init__(self, pid: int | None = None, interval: float = 0.1):
        self.pid = pid or os.getpid()
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self):
        pids = process_tree(self.pid)
        self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2 ** 20


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``).  A JVM outlives the Python process that
    launched it by a moment, and PySpark's worker daemon outlives its
    JVM; both are re-parented here instead of to init, so
    ``reap_children`` can wait for them."""
    import ctypes
    ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)


def reap_children(timeout: float = 60.0) -> None:
    """Wait until every child of this process (re-parented orphans
    included) has ended and been reaped; kill what still runs after
    ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() >= deadline:
            for p in process_tree(os.getpid())[1:]:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


def run_tree(cmd: list[str], env: dict, log_path: str,
             timeout: float) -> dict:
    """Run ``cmd`` to completion, sampling its process tree's RSS, then
    wait for every process it started (its orphans too, in a process
    that called ``become_subreaper``).  ``PERFBENCH_LAUNCH_T`` in the
    child's environment holds the launch time (``time.monotonic()``).
    Returns rc, start, end (the launched process's exit) and peak_mb."""
    with open(log_path, "w") as log:
        start = time.monotonic()
        env = dict(env, PERFBENCH_LAUNCH_T=repr(start))
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env,
                                stdout=subprocess.DEVNULL, stderr=log)
        with RssSampler(proc.pid) as rss:
            try:
                rc = proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                rc = proc.wait()
            end = time.monotonic()
    reap_children()
    return {"rc": rc, "start": start, "end": end, "peak_mb": rss.peak_mb}


def stop_session(spark) -> None:
    """Stop the session and the JVM this process launched, and wait for
    the JVM to exit (it exits when its stdin closes)."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


_STREAM = """
import sys, time
import numpy as np
buf = np.ones(int(sys.argv[1]) * 2 ** 20, dtype=np.uint8)
buf.sum()
t0 = time.perf_counter()
for _ in range(8):
    buf.sum()
print(8 * buf.nbytes / (time.perf_counter() - t0) / 1e9)
"""


def membw_gbps(procs: int, mb: int = 64) -> float:
    """Aggregate memory read bandwidth of ``procs`` concurrent processes
    streaming a private buffer: the host-noise context of a run.

    Plain child processes, each waited for: a multiprocessing pool would
    start a resource tracker that outlives the benchmark's exit."""
    kids = [subprocess.Popen([sys.executable, "-c", _STREAM, str(mb)],
                             stdout=subprocess.PIPE, text=True)
            for _ in range(procs)]
    try:
        return sum(float(k.communicate(timeout=60)[0]) for k in kids)
    finally:
        for k in kids:
            if k.poll() is None:
                k.kill()
            k.wait()
