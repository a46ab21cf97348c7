"""Process-tree resource sampler over ``/proc`` (no psutil needed).

CPU time covers the benchmark's Python, the JVM it launches and the
JVM's Python workers. ``cutime``/``cstime`` carry the CPU of children
that have already been reaped (short-lived Python workers), so summing
``utime + stime + cutime + cstime`` over the live tree counts every
process exactly once.

Memory is the peak, over samples taken in a background thread, of the
``VmHWM`` (the kernel's own peak resident set) of the benchmark's Python
process and the JVM plus the ``Pss`` of the JVM's Python workers. The
workers are forked from one daemon and share most of their pages with
it: ``Pss`` splits a shared page between the processes that map it,
where summing their resident sets counts it once per worker alive at
the time. The other processes the JVM starts (``chmod`` for every local
file it writes) are left out: until they ``exec`` they share the JVM's
memory and report its ``VmHWM``, which counted the JVM twice whenever a
sample fell inside that window.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, list[str]] | None:
    """The command name and the fields after it of ``/proc/<pid>/stat``."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may contain spaces: split after its closing paren
    return raw[raw.index("(") + 1:raw.rindex(")")], raw[raw.rindex(")") + 2:].split()


def _walk(root: int) -> list[tuple[int, int, str]]:
    """``(pid, depth, command name)`` of ``root`` (depth 0) and all its
    live descendants."""
    children: dict[int, list[tuple[int, str]]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1][1]), []).append((int(name), st[0]))
    out, todo = [], [(root, 0, "")]
    while todo:
        pid, depth, comm = todo.pop()
        out.append((pid, depth, comm))
        todo.extend((c, depth + 1, cc) for c, cc in children.get(pid, []))
    return out


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    return [pid for pid, _, _ in _walk(root)]


def cpu_seconds(root: int) -> float:
    """User + system CPU of the tree, reaped children included."""
    ticks = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            f = st[1]
            # fields 14-17 of /proc/<pid>/stat (1-based): utime stime cutime cstime
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def _field_kb(path: str, field: str) -> int:
    try:
        with open(path) as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def resident_kb(root: int) -> int:
    """``VmHWM`` of ``root`` and its children (the benchmark's Python
    process and the JVM) plus ``Pss`` of the Python processes below them."""
    total = 0
    for pid, depth, comm in _walk(root):
        if depth < 2:
            total += _field_kb(f"/proc/{pid}/status", "VmHWM:")
        elif comm.startswith("python"):
            total += _field_kb(f"/proc/{pid}/smaps_rollup", "Pss:")
    return total


def loadavg() -> tuple[float, float, float]:
    with open("/proc/loadavg") as fh:
        a, b, c = fh.read().split()[:3]
    return float(a), float(b), float(c)


class PeakSampler:
    """Tracks the highest :func:`resident_kb` of the tree while running."""

    def __init__(self, root: int, interval_s: float = 0.25) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_kb = max(self.peak_kb, resident_kb(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, resident_kb(self.root))
