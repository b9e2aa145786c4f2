"""Process-tree sampling from /proc: peak resident memory and Python
worker CPU.

An invocation's processes are its Python driver, the JVM it launches and
PySpark's Python worker daemon with its forked workers. The daemon moves
itself into a process group of its own, so the sampler follows the tree
by parent pid and remembers every process group it saw; at the end those
groups are what is stopped.
"""

from __future__ import annotations

import os
import signal
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")
PY_WORKER_MARKS = (b"pyspark.daemon", b"pyspark.worker")


def _stat_fields(pid: int) -> list[bytes] | None:
    """Fields after the parenthesised command: state ppid pgrp ..."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rfind(b")") + 2 :].split()


def snapshot() -> dict[int, list[bytes]]:
    """Stat fields of every live process; zombies have ended and hold
    nothing, so they are left out."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None and fields[0] != b"Z":
                out[int(name)] = fields
    return out


def descendants(root: int, snap: dict[int, list[bytes]]) -> set[int]:
    children: dict[int, list[int]] = {}
    for pid, fields in snap.items():
        children.setdefault(int(fields[1]), []).append(pid)
    found, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in snap and pid not in found:
            found.add(pid)
            todo.extend(children.get(pid, []))
    return found


def _pss(pid: int) -> int:
    """Proportional set size in bytes: resident pages, with a page shared
    by n processes counted 1/n in each."""
    with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
        for line in f:
            if line.startswith(b"Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _rss_and_py_cpu(pid: int, fields: list[bytes]) -> tuple[int, float | None]:
    """Resident bytes, and CPU seconds when the process is a PySpark
    worker (utime stime cutime cstime: reaped workers land in the
    daemon's c*time).

    Forked PySpark workers share most of their pages with the daemon,
    so they count their PSS; summing their RSS would count those pages
    once per worker. Other processes count their RSS: computing PSS
    walks every page under the process's memory lock, which on the JVM
    stalls the work being measured."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
        if any(m in cmd for m in PY_WORKER_MARKS):
            return _pss(pid), sum(int(x) for x in fields[11:15]) / TICK
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * PAGE, None
    except OSError:
        return 0, None


class TreeSampler:
    """Samples the process tree under ``root`` every ``interval`` s."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.peak_rss = 0
        self.py_cpu = 0.0
        self.py_pids: set[int] = set()
        self.groups: set[int] = {root}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self) -> None:
        prev: set[int] = set()
        while not self._stop.is_set():
            snap = snapshot()
            rss_total = 0
            cpu_total = 0.0
            tree = descendants(self.root, snap)
            for pid in tree:
                self.groups.add(int(snap[pid][2]))
                rss, cpu = _rss_and_py_cpu(pid, snap[pid])
                # Memory counts only processes seen in the previous sample
                # too. The JVM starts helper commands by vfork: until the
                # child execs it reports the JVM's whole RSS as its own, and
                # catching one such child would count the JVM twice.
                if pid in prev:
                    rss_total += rss
                if cpu is not None:
                    cpu_total += cpu
                    self.py_pids.add(pid)
            self.peak_rss = max(self.peak_rss, rss_total)
            self.py_cpu = max(self.py_cpu, cpu_total)
            prev = tree
            self._stop.wait(self.interval)


def stop_groups(groups: set[int], timeout: float = 30.0) -> None:
    """Kill every process left in ``groups`` and wait until none remain."""
    for pgid in groups:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout
    while any(int(f[2]) in groups for f in snapshot().values()):
        if time.monotonic() > deadline:
            raise RuntimeError(f"process groups {sorted(groups)} did not exit")
        time.sleep(0.05)
