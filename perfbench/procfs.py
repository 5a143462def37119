"""CPU and resident memory of this process's tree, read from ``/proc``.

The tree is the Python driver, the Spark JVM it launches and the
PySpark worker daemon the JVM forks, with their children. A live
process contributes its own user+sys time plus the time of children it
has already reaped (``cutime``/``cstime``), so a short-lived worker's
CPU is still counted once it exits.
"""

from __future__ import annotations

import os
import threading

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces; everything after its ')' is fixed
    return raw[raw.rindex(")") + 2:].split()


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def tree(root: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    """``root`` and all its descendants."""
    kids = children_map() if kids is None else kids
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_s(pids: list[int]) -> float:
    """User+sys seconds of ``pids``, including their reaped children."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            # fields 14-17 (utime, stime, cutime, cstime), 1-based
            total += sum(int(x) for x in st[11:15])
    return total * _TICK_S


def rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            total += int(st[21])  # field 24, rss in pages
    return total * _PAGE_MB


def age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(_stat(os.getpid())[19]) * _TICK_S  # field 22, starttime


def tree_cpu_s(root: int | None = None) -> float:
    return cpu_s(tree(os.getpid() if root is None else root))


def jvm_pid() -> int | None:
    """The Spark JVM: this process's child whose command line runs java."""
    for pid in children_map().get(os.getpid(), []):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"java" in fh.read():
                    return pid
        except OSError:
            continue
    return None


def jit_cpu_s(jvm: int | None) -> float:
    """CPU of the JVM's JIT compiler threads (``C1 CompilerThread0``
    and so on; ``comm`` keeps 15 characters of a thread's name). The
    benchmark starts the JVM with ``-XX:-UseDynamicNumberOfCompilerThreads``
    so that no compiler thread exits and takes its time with it."""
    if jvm is None:
        return 0.0
    total = 0
    try:
        tids = os.listdir(f"/proc/{jvm}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{jvm}/task/{tid}/comm") as fh:
                if "CompilerThre" not in fh.read():
                    continue
            with open(f"/proc/{jvm}/task/{tid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        total += sum(int(x) for x in raw[raw.rindex(")") + 2:].split()[11:13])
    return total * _TICK_S


def python_worker_cpu_s(jvm: int | None) -> float:
    """CPU of the PySpark daemon and workers: the JVM's descendants."""
    if jvm is None:
        return 0.0
    return cpu_s([p for p in tree(jvm) if p != jvm])


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


class RssSampler:
    """Background sampler of the tree's summed RSS; ``peak_mb`` is the
    highest sample taken between ``start()`` and ``stop()`` and
    ``peak_by`` splits that sample by command name.

    Only ``java`` and ``python*`` processes count. The JVM forks helpers
    to run shell commands (e.g. ``readlink`` for checkpoint files); until
    such a fork execs, its RSS repeats all of the JVM's pages."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_by: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            by: dict[str, float] = {}
            for pid in tree(os.getpid()):
                name = _comm(pid)
                if name == "java" or name.startswith("python"):
                    by[name] = by.get(name, 0.0) + rss_mb([pid])
            if sum(by.values()) > self.peak_mb:
                self.peak_mb, self.peak_by = sum(by.values()), by
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_mb
