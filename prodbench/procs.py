"""CPU and resident memory of a process tree, read from /proc.

CPU is read over the benchmark's own process (the Spark application's
Python side) and every descendant: the JVM that PySpark launches and
the Python workers the JVM forks.  It includes ``cutime``/``cstime``,
so a worker that exits and is reaped inside the tree still counts.
"""

from __future__ import annotations

import contextlib
import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / (1024 * 1024)


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name (field 2) may contain spaces; it ends at the last ')'
    return raw[raw.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    return children


def tree_pids(root: int) -> list[int]:
    children = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def jvm_pid(root: int) -> int:
    """The java process PySpark launched under ``root``."""
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            pass
    raise RuntimeError("no JVM found under the benchmark process")


def tree_cpu_s(root: int) -> float:
    """utime + stime + cutime + cstime over the tree, in seconds."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields:
            # fields[11..14] = utime, stime, cutime, cstime
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def _rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * _PAGE_MB


class RssSampler:
    """Peak summed RSS of the tree under ``root``, sampled every
    ``period`` seconds by a daemon thread while inside ``measuring()``.
    The pid set is refreshed once a second, so a sample reads only a
    handful of ``statm`` files."""

    def __init__(self, root: int, period: float = 0.25):
        self.root = root
        self.period = period
        self.peak_mb = 0.0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        pids, n = tree_pids(self.root), 0
        while not self._stop.wait(self.period):
            if not self._on.is_set():
                continue
            n += 1
            if n % max(1, round(1 / self.period)) == 0:
                pids = tree_pids(self.root)
            self.peak_mb = max(self.peak_mb, _rss_mb(pids))

    @contextlib.contextmanager
    def measuring(self):
        self.peak_mb = max(self.peak_mb, _rss_mb(tree_pids(self.root)))
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()
            self.peak_mb = max(self.peak_mb, _rss_mb(tree_pids(self.root)))

    def close(self) -> None:
        self._stop.set()
        self._thread.join()
