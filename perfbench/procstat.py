"""CPU time and resident memory of a process tree, read from /proc.

The tree is this Python driver, the Spark driver JVM it launched, and the
Python worker daemon and workers the JVM forks.  CPU of workers that have
exited is still counted: the kernel folds it into the parent's cutime and
cstime once the parent reaps them.
"""

from __future__ import annotations

import os
import threading
from pathlib import Path

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# kernel PF_FORKNOEXEC: forked, has not called exec yet
_FORKNOEXEC = 0x40


def _stat(pid: int) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of /proc/<pid>/stat, or None when
    the process has gone.  The name may hold spaces and parentheses."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    return raw[raw.index("(") + 1:raw.rindex(")")], raw[raw.rindex(")") + 2:].split()


def _tree(root: int) -> dict[int, tuple[int, int, str]]:
    """pid -> (ppid, flags, name) for `root` and every live descendant."""
    procs, children = {}, {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                name, f = st
                procs[int(d)] = (int(f[1]), int(f[6]), name)
                children.setdefault(int(f[1]), []).append(int(d))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid]
            todo.extend(children.get(pid, ()))
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine since boot.  Steal is
    time a runnable virtual CPU waited while the hypervisor ran another
    guest: a witness of noise from outside the box."""
    v = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return v[7], sum(v)


def steal_frac(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the machine's CPU time stolen between two cpu_ticks()."""
    return (t1[0] - t0[0]) / max(t1[1] - t0[1], 1)


def tree_pids(root: int) -> list[int]:
    """`root` and every live descendant."""
    return list(_tree(root))


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in _tree(root):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are stat fields 14-17
            ticks += sum(int(x) for x in st[1][11:15])
    return ticks / _CLK


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of the tree.  The JVM starts commands through
    vfork/posix_spawn: until the child calls exec it shares the JVM's
    pages, and counting it would add the whole JVM a second time."""
    tree = _tree(root)
    total = 0
    for pid, (ppid, flags, _) in tree.items():
        if flags & _FORKNOEXEC and tree.get(ppid, (0, 0, ""))[2] == "java":
            continue
        try:
            total += int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


class PeakRss:
    """Samples the tree's total RSS on a background thread; `peak_bytes`
    is the largest sum seen.  Use as a context manager."""

    def __init__(self, root: int, interval_s: float = 0.05):
        self.root = root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
