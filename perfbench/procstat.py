"""CPU, memory and host-state readings taken from ``/proc``.

``psutil`` is not available, so the benchmark reads the kernel's
per-process files directly. Everything here is measured over the
benchmark's own process tree (the Python driver, the JVM it launches and
the Python workers the JVM forks), never VM-wide, except the host-state
record, which exists precisely to show what other tenants were doing.
"""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if
    the process is gone. The name is in parentheses and may hold spaces,
    so split after the last ')'."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except (FileNotFoundError, ProcessLookupError):
        return None
    return raw[raw.rindex(")") + 2:].split()


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the live tree, including children each
    live process has already reaped (cutime/cstime), so Python workers
    that exited during a job still count through their parent."""
    ticks = 0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of stat(5): utime stime cutime cstime
            ticks += sum(int(x) for x in f[11:15])
    return ticks / CLK_TCK


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of the tree. A child that shares its parent's
    address space (the JVM spawns helper commands with vfork, and a
    fresh fork maps the parent's pages) reads exactly its parent's
    size and residency; it is counted once, through the parent."""
    statm, ppid = {}, {}
    for pid in process_tree(root):
        f = _stat_fields(pid)
        try:
            with open(f"/proc/{pid}/statm") as fh:
                statm[pid] = tuple(int(x) for x in fh.read().split()[:2])
        except (FileNotFoundError, ProcessLookupError):
            continue
        if f is not None:
            ppid[pid] = int(f[1])
    return PAGE_SIZE * sum(
        resident for pid, (size, resident) in statm.items()
        if statm.get(ppid.get(pid)) != (size, resident))


def process_age_s(pid: int) -> float:
    """Seconds since ``pid`` started (stat field 22 against uptime)."""
    start_ticks = int(_stat_fields(pid)[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / CLK_TCK


def steal_s() -> float:
    """VM-wide steal time so far, summed over CPUs (the hypervisor ran
    someone else while this VM wanted a CPU)."""
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("cpu "):
                return int(line.split()[8]) / CLK_TCK
    return 0.0


def host_state() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "steal_s": steal_s(),
    }


# seconds between two resident-memory readings of the tree
RSS_SAMPLE_S = 0.5


class TreeSampler:
    """Samples the tree's resident memory in a background thread and
    takes CPU readings at start and stop.

    Use as a context manager around the section to measure; afterwards
    ``cpu_s`` and ``peak_rss_bytes`` hold the results."""

    def __init__(self, root: int):
        self.root = root
        self.cpu_s = 0.0
        self.peak_rss_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_rss_bytes = max(self.peak_rss_bytes,
                                      tree_rss_bytes(self.root))
            if self._stop.wait(RSS_SAMPLE_S):
                return

    def __enter__(self) -> "TreeSampler":
        self._cpu0 = tree_cpu_s(self.root)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_rss_bytes = max(self.peak_rss_bytes,
                                  tree_rss_bytes(self.root))
        self.cpu_s = tree_cpu_s(self.root) - self._cpu0
