"""Process-tree memory sampling and process hygiene, read from /proc.

The benchmark process starts the JVM (through spark-submit), and the JVM
starts the Python worker daemon and its forked workers, so the whole
engine is the benchmark's process tree. A background thread samples the
resident set of every process in it.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str] | None:
    """(parent pid, command name) of ``pid``, or None if it has exited."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm is parenthesised and may itself contain spaces or parentheses
    close = s.rindex(")")
    return int(s[close + 2:].split()[1]), s[s.index("(") + 1:close]


def descendants(root: int) -> dict[int, str]:
    """pid -> command name for every live descendant of ``root``."""
    children: dict[int, list[tuple[int, str]]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append((int(name), st[1]))
    out: dict[int, str] = {}
    todo = [root]
    while todo:
        for pid, comm in children.get(todo.pop(), ()):
            out[pid] = comm
            todo.append(pid)
    return out


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _HZ


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE / 2**20
    except OSError:
        return 0.0


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` over its lifetime."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Samples the process tree every ``interval`` seconds.

    ``tree_peak_mb`` is the largest summed RSS of the tree seen in one
    sample. ``worker_peak_mb`` is the largest peak RSS (VmHWM) of any
    single Python worker: forked workers keep the daemon's command name, so
    every ``python*`` descendant counts. ``window()`` gives the largest
    worker RSS sampled since the previous call, for per-span attribution."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.tree_peak_mb = 0.0
        self.worker_peak_mb = 0.0
        self._window_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        me = os.getpid()
        procs = descendants(me)
        total = rss_mb(me)
        worker_now = worker_hwm = 0.0
        for pid, comm in procs.items():
            rss = rss_mb(pid)
            total += rss
            if comm.startswith("python"):
                worker_now = max(worker_now, rss)
                worker_hwm = max(worker_hwm, hwm_mb(pid))
        with self._lock:
            self.tree_peak_mb = max(self.tree_peak_mb, total)
            self.worker_peak_mb = max(self.worker_peak_mb, worker_hwm)
            self._window_mb = max(self._window_mb, worker_now)

    def window(self) -> float:
        self.sample()
        with self._lock:
            peak, self._window_mb = self._window_mb, 0.0
        return peak

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def wait_children_exit(timeout: float) -> list[int]:
    """Wait until this process has no descendants left; return the pids
    still alive at the timeout."""
    deadline = time.monotonic() + timeout
    while True:
        left = list(descendants(os.getpid()))
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.1)
