"""CPU seconds, resident memory and age of this process and its
descendants (the driver Python, the JVM and the Python workers), read
from ``/proc``.

CPU time of a descendant that has exited and been waited for is kept in
its parent's ``cutime``/``cstime``, so the sum over live processes of
user + system + children's time counts every process once.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may contain spaces; fields resume after its ')':
    # state(0) ppid(1) ... utime(11) stime(12) cutime(13) cstime(14)
    # ... starttime(19)
    return data[data.rindex(")") + 2:].split()


def _tree(root: int) -> dict[str, str]:
    """{pid: parent pid} of ``root`` and its descendants."""
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            fields = _stat_fields(pid)
            if fields is not None:
                parent[pid] = fields[1]
    children: dict[str, list[str]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [str(root)]
    while todo:
        pid = todo.pop()
        out[pid] = parent.get(pid, "0")
        todo.extend(children.get(pid, ()))
    return out


def tree_pids(root: int) -> list[str]:
    return list(_tree(root))


def running(pid: str) -> bool:
    """The process exists and has not exited (a zombie has)."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def process_age_s() -> float:
    """Seconds since this process started."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat_fields("self")[19]) / _TICK


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def _exe(pid: str) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of the tree. The JVM runs its helper commands
    (chmod, rm) with posix_spawn, whose child shares the JVM's pages
    until it execs and shows the JVM's whole RSS meanwhile; a child
    running its parent's JVM binary is counted as part of its parent."""
    tree = _tree(root)
    exes = {pid: _exe(pid) for pid in tree}
    total = 0
    for pid, ppid in tree.items():
        exe = exes[pid]
        if os.path.basename(exe) == "java" and exes.get(ppid) == exe:
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the tree's total RSS on a thread while the ``with`` block
    runs; ``peak(start, end)`` is the highest sum seen between two
    ``time.perf_counter()`` readings."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.samples: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _sample(self) -> None:
        self.samples.append((time.perf_counter(), tree_rss_bytes(self.root)))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def peak(self, start: float, end: float) -> int:
        """Highest sample in [start, end]; the last one before ``end``
        when the span is shorter than the sampling interval."""
        inside = [b for t, b in self.samples if start <= t <= end]
        return max(inside) if inside else [b for t, b in self.samples if t <= end][-1]
