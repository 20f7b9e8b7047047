"""Host-side measurement of the benchmark's own process tree (Linux /proc).

The tree is this process plus every descendant: the Spark JVM, the PySpark
daemon and its forked workers.  CPU seconds and PSS are summed over it.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may contain spaces: split after its closing parenthesis
    return s[s.rindex(")") + 2:].split()


def descendants(root: int | None = None) -> list[int]:
    """PIDs of every live descendant of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        st = _stat(int(d))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and its live descendants.
    A process that exits between two readings takes its CPU time with it,
    so a delta across an op can only undercount."""
    total = 0
    for pid in [os.getpid(), *descendants()]:
        st = _stat(pid)
        if st is not None:
            total += int(st[11]) + int(st[12])
    return total / _TICK


def _pss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20


class PeakPss:
    """Background sampler, while ``active``, of the tree's summed PSS
    without the JVM (``peak``), and of the JVM's RSS (``peak_jvm``).

    The JVM is apart because in local mode its heap is bounded only by
    the 32g driver default: G1 grew it to anywhere from 2.0 to 3.2 GB
    across identical runs, while the Python side (driver, daemon,
    workers) stayed within 1%.  Its RSS is read from statm, which is
    cheap; walking its smaps costs the sampler more than the rest."""

    def __init__(self, jvm_pid: int, interval: float = 0.5):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak = self.peak_jvm = 0.0
        self.peak_procs = 0
        self.active = False
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)

    def _run(self):
        while not self._stop.wait(self.interval):
            if not self.active:
                continue
            pss = []
            for pid in [os.getpid(), *descendants()]:
                try:
                    if pid == self.jvm_pid:
                        self.peak_jvm = max(self.peak_jvm, _rss_mb(pid))
                    else:
                        pss.append(_pss_mb(pid))
                except OSError:
                    pass  # the process ended between listing and reading
            if sum(pss) > self.peak:
                self.peak, self.peak_procs = sum(pss), len(pss)


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (jiffies)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def reap(timeout: float = 30.0) -> list[int]:
    """Terminate every remaining descendant and wait until each has ended.
    Returns the PIDs that had to be signalled."""
    left = descendants()
    for sig, wait in ((signal.SIGTERM, 2.0), (signal.SIGKILL, timeout)):
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait
        while time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0] > 0:
                    pass
            except ChildProcessError:
                pass
            if all((_stat(p) or ["Z"])[0] == "Z" for p in left):
                break
            time.sleep(0.05)
    return left
