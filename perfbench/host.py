"""Host-side measurements read from /proc: process-tree resident
memory, CPU steal and load average, and shutdown of child processes."""

from __future__ import annotations

import os
import signal
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
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the resident memory of this process and all its
    descendants (JVM, Python workers) on a background thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class NoiseRecord:
    """nproc, load average and CPU steal share over a measured span."""

    def __enter__(self) -> "NoiseRecord":
        self.load_start = loadavg()
        self._cpu0 = cpu_times()
        return self

    def __exit__(self, *exc) -> None:
        steal, total = (b - a for a, b in zip(self._cpu0, cpu_times()))
        self.record = {
            "nproc": os.cpu_count(),
            "loadavg_1m_start": self.load_start,
            "loadavg_1m_end": loadavg(),
            "cpu_steal_frac": steal / total if total else 0.0,
        }


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every pid has exited, SIGKILL what outlives the
    timeout, and reap the ones that are this process's children."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass
    deadline = time.monotonic() + 10.0
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
