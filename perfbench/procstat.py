"""`/proc` sampling of the Spark JVM and its Python workers.

The JVM is the process py4j launched (``SparkContext._gateway.proc``); the
Python daemon and workers are its descendants.  CPU seconds come from
``/proc/<pid>/stat`` (utime + stime, plus cutime + cstime so that workers
the daemon already reaped still count); RSS from ``/proc/<pid>/status``.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    # fields[0] is state; ppid, utime, stime, cutime, cstime follow at the
    # stat(5) positions 4, 14-17 (1-based, counted from pid)
    ticks = sum(int(fields[i]) for i in (11, 12, 13, 14))
    return int(fields[1]), ticks / _TICK


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (one scan of /proc)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


class ProcSampler:
    """Background sampler of JVM + Python-worker RSS, plus CPU snapshots.

    ``cpu()`` returns (jvm_cpu_s, py_cpu_s) accumulated so far; callers
    difference two snapshots around a pass.  ``peak_rss_mb`` is the largest
    summed RSS seen by the sampling thread."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.05):
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.peak_rss_mb = 0.0
        self.peak_jvm_mb = 0.0
        self.peak_py_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "ProcSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        while not self._stop.is_set():
            jvm = _rss_mb(self.jvm_pid)
            py = sum(_rss_mb(p) for p in descendants(self.jvm_pid))
            self.peak_rss_mb = max(self.peak_rss_mb, jvm + py)
            self.peak_jvm_mb = max(self.peak_jvm_mb, jvm)
            self.peak_py_mb = max(self.peak_py_mb, py)
            self._stop.wait(self.interval_s)

    def cpu(self) -> tuple[float, float]:
        jvm = _stat(self.jvm_pid)
        py = 0.0
        for pid in descendants(self.jvm_pid):
            st = _stat(pid)
            if st is not None:
                py += st[1]
        return (jvm[1] if jvm else 0.0), py


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie (an exited process
    whose parent has not reaped it yet has ended all the same)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_gone(pids: list[int], timeout_s: float = 20.0) -> list[int]:
    """Wait until every pid has exited; returns the ones still running."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _running(p)]
        if alive:
            time.sleep(0.05)
    return alive
