"""Process-tree CPU and RSS accounting from ``/proc`` (stdlib only).

The tree is this process and every descendant: the Spark JVM, the
pyspark daemon and its forked Python workers. CPU is utime + stime +
cutime + cstime per live process, so time of workers that already
exited and were reaped stays counted in their parent.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:  # the process exited between listing and reading
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int, include_zombies: bool = True) -> list[int]:
    """``root`` and all its descendants still in the process table."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None and (include_zombies or fields[0] != "Z"):
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """Summed user + system CPU seconds of the live tree under ``root``."""
    ticks = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # stat fields 14-17 (1-based): utime stime cutime cstime
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def rss_bytes(root: int) -> int:
    """Summed resident set size of the live tree under ``root``.

    A child of the JVM that still runs the JVM's executable is not
    counted: the JVM starts shell commands through posix_spawn, and until
    the exec that child shares the JVM's address space and shows the
    JVM's RSS. (The JVM starts no second JVM here.)"""
    pids = descendants(root)
    parent = {}
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            parent[pid] = int(fields[1])
    total = 0
    for pid, ppid in parent.items():
        exe = _exe(pid)
        if ppid in parent and exe.endswith("/java") and exe == _exe(ppid):
            continue
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """One background thread sampling the tree's summed RSS at a fixed
    interval; ``reset`` starts a new peak window, ``peak`` reads it."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self._root = root
        self._interval = interval_s
        self._lock = threading.Lock()
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def sample(self) -> None:
        rss = rss_bytes(self._root)
        with self._lock:
            self._peak = max(self._peak, rss)

    def reset(self) -> None:
        with self._lock:
            self._peak = 0
        self.sample()

    def peak(self) -> int:
        self.sample()
        with self._lock:
            return self._peak
