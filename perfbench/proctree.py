"""Process-tree CPU and memory accounting from ``/proc``.

``resource.getrusage`` only sees children that have exited and been
waited for, so it misses the live JVM and the long-lived pyspark
workers. Here a tree's CPU is, over every live process below a root
(root included), ``utime + stime + cutime + cstime`` from
``/proc/<pid>/stat``: a worker the pyspark daemon has already reaped
is still counted, through the daemon's ``cutime``/``cstime``.

Also here: machine-wide steal fraction and load average, recorded next
to the metrics as diagnostics.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """``/proc/<pid>/stat`` split after the command name (which may hold
    spaces), so index 0 is field 3 (state). None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return raw[raw.rfind(")") + 2 :].split()


def _children(pid: int) -> list[int]:
    """Direct children over all threads of ``pid`` (a JVM forks from
    worker threads, so the main task's list alone is not enough)."""
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except FileNotFoundError:
            continue
    return out


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it, parents first."""
    seen, order, todo = set(), [], [root]
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        order.append(pid)
        todo.extend(_children(pid))
    return order


def cpu_seconds(pid: int) -> float:
    """CPU seconds of one process plus its waited-for children."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    # fields 14-17 (utime, stime, cutime, cstime) sit at 11..14 here
    return sum(int(x) for x in f[11:15]) / _TICK


def tree_cpu_seconds(root: int) -> float:
    """CPU seconds of ``root``'s whole live tree, reaped children included."""
    return sum(cpu_seconds(p) for p in descendants(root))


def tree_pss_mb(root: int) -> float:
    """Proportional set size of ``root``'s live tree, in MiB. Unlike RSS,
    PSS splits pages shared between processes, so the pyspark workers
    forked from one daemon are not each charged the daemon's pages."""
    total_kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total_kb / 1024


def find_python_daemon(jvm_pid: int) -> int | None:
    """The pyspark daemon the JVM forked (its workers fork from it)."""
    for pid in _children(jvm_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except FileNotFoundError:
            continue
        if b"pyspark.daemon" in cmd:
            return pid
    return None


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of ``/proc/stat``."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already inside user/nice, so it is not added again
    return vals[7], sum(vals[:8])


def load_average() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class MemorySampler:
    """Background thread tracking the peak PSS of a process tree."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
