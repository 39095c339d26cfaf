"""Run isolation: process-tree memory, the run record, and the JVM's life.

Nothing here touches Spark's planning; it only observes the processes one
benchmark run starts (driver Python, the gateway JVM, Python workers) and
makes sure the run leaves none of them behind.
"""

from __future__ import annotations

import json
import os
import platform
import signal
import subprocess
import threading
import time


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    kids = _children()
    out, stack = [root], [root]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size of one process, 0 if it has exited.  Pages
    shared between processes (a forked Python worker and its daemon, a
    child the JVM has forked but not yet exec'd) count once in the sum."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class PeakRss:
    """Peak resident memory of the whole process tree.

    Every ``interval`` seconds a thread sums the proportional set size over
    the live tree; the peak is the largest sum seen."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self.breakdown_mb: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        pss = {p: _pss_kb(p) for p in process_tree()}
        total = sum(pss.values())
        if total > self.peak_kb:
            self.peak_kb = total
            self.breakdown_mb = {f"{_comm(p)}:{p}": kb / 1024.0 for p, kb in pss.items()}

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def git_sha(root: str) -> str:
    """HEAD of ``root`` when it is a git checkout, else "unknown"."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def run_record(root: str, **fields) -> dict:
    """The facts a reader needs to trust or reject a run's numbers."""
    ncpu = len(os.sched_getaffinity(0))
    rec = {
        "nproc": ncpu,
        "loadavg_before": loadavg(),
        "git_sha": git_sha(root),
        "spark_graft_env": {
            k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")
        },
        "driver_heap": os.environ.get("SPARK_DRIVER_MEM"),
        "python": platform.python_version(),
    }
    rec.update(fields)
    return rec


def close_record(rec: dict) -> dict:
    rec["loadavg_after"] = loadavg()
    # the bracketing probes only say the host was quiet at both ends; they
    # cannot see a burst in between
    rec["probes_clean"] = rec["loadavg_before"][0] < 1.0
    return rec


def _running(pid: int) -> bool:
    """True while ``pid`` exists and has not ended; a zombie has ended and
    only waits for its new parent to reap it."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` is running; return those still running."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _running(p)]
        if alive:
            time.sleep(0.05)
    return alive


def wait_previous_jvm(pid_file: str, timeout: float = 60.0) -> float:
    """Block until the JVM a previous run recorded in ``pid_file`` has
    exited; returns the seconds waited."""
    try:
        with open(pid_file) as f:
            pid = int(f.read().strip())
    except (OSError, ValueError):
        return 0.0
    t0 = time.monotonic()
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            is_java = b"java" in f.read()
    except OSError:
        is_java = False
    if is_java and wait_gone([pid], timeout):
        raise RuntimeError(f"JVM {pid} of a previous run is still alive after {timeout}s")
    return time.monotonic() - t0


def record_jvm(pid_file: str) -> int:
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(pid_file, "w") as f:
        f.write(str(pid))
    return pid


def shutdown_jvm(timeout: float = 30.0) -> None:
    """Kill every process this run started (the gateway JVM, its Python
    workers) and wait until each has ended.

    Every output is committed by then, and a graceful stop spends seconds
    cleaning Spark's scratch dirs, which the next run clears anyway.  The
    accumulator server on the Python side is told to stay quiet about the
    connection the JVM drops."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    server = sc._accumulatorServer if sc is not None else None
    if server is not None:
        server.handle_error = lambda request, client_address: None
    tree = [p for p in process_tree() if p != os.getpid()]
    for pid in tree:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if server is not None:
        server.shutdown()
    if SparkContext._gateway is not None:
        SparkContext._gateway.proc.wait(timeout)  # reap our child, the JVM
    if wait_gone(tree, timeout):
        raise RuntimeError(f"processes {tree} survived the run")


def dump(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, indent=2, sort_keys=True)
