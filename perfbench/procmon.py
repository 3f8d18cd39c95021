"""Process-tree CPU and PSS from /proc, and host CPU steal from /proc/stat.

The tree is the benchmark process and all its descendants: the
spark-submit launcher, the JVM and the Python workers the JVM forks.
CPU is utime + stime + cutime + cstime summed over the live tree, so a
worker that exits and is reaped by a process in the tree still counts.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PR_SET_CHILD_SUBREAPER = 36


def _children_map() -> dict[int, list[int]]:
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


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _cpu_ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0
    fields = stat[stat.rindex(")") + 2:].split()
    # fields[11..14] = utime stime cutime cstime (stat fields 14..17)
    return sum(int(x) for x in fields[11:15])


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return "X"
    return stat[stat.rindex(")") + 2]


def become_subreaper() -> None:
    """Adopt every orphaned descendant (the JVM outlives the Python
    process that launched it, the Python worker daemon outlives the JVM),
    so they stay in the tree and ``reap_descendants`` can wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap_children() -> None:
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap_descendants(grace_s: float = 20.0, term_s: float = 5.0,
                     kill_s: float = 10.0) -> list[int]:
    """Wait until every descendant process has ended and reap them.

    Descendants get ``grace_s`` to exit on their own (a JVM whose stdin
    is closed, a worker daemon whose JVM is gone), then SIGTERM, then
    after ``term_s`` SIGKILL. Returns the pids still alive ``kill_s``
    after SIGKILL (empty unless something is unkillable)."""
    me = os.getpid()
    steps = [(grace_s, None), (term_s, signal.SIGTERM),
             (kill_s, signal.SIGKILL)]
    live: list[int] = []
    for wait_s, sig in steps:
        if sig is not None:
            for pid in live:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + wait_s
        while True:
            _reap_children()
            live = [p for p in tree_pids(me)
                    if p != me and _state(p) not in "ZX"]
            if not live or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        if not live:
            break
    _reap_children()
    return live


def tree_cpu_s(root: int | None = None) -> float:
    root = root or os.getpid()
    return sum(_cpu_ticks(p) for p in tree_pids(root)) / _TICK


def _kind(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            exe = f.read().split(b"\0", 1)[0]
    except OSError:
        return "other"
    base = os.path.basename(exe).decode(errors="replace")
    if base == "java":
        return "jvm"
    if base.startswith("python"):
        return "python"
    return "other"


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host's aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total else 0.0


class PssSampler:
    """Samples the tree's summed PSS every ``interval`` seconds on a
    daemon thread; ``peak_mb`` is the largest total seen, ``peak_jvm_mb``
    and ``peak_python_mb`` the largest JVM and Python-process shares."""

    def __init__(self, interval: float = 0.5, root: int | None = None):
        self.interval = interval
        self.root = root or os.getpid()
        self.peak_mb = 0.0
        self.peak_jvm_mb = 0.0
        self.peak_python_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="pss-sampler")

    def sample(self) -> None:
        by_kind = {"jvm": 0, "python": 0, "other": 0}
        for pid in tree_pids(self.root):
            by_kind[_kind(pid)] += _pss_kb(pid)
        total = sum(by_kind.values()) / 1024.0
        self.peak_jvm_mb = max(self.peak_jvm_mb, by_kind["jvm"] / 1024.0)
        self.peak_python_mb = max(self.peak_python_mb,
                                  by_kind["python"] / 1024.0)
        self.peak_mb = max(self.peak_mb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> PssSampler:
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
