"""Process-level probes: peak summed memory of the benchmark's process
tree, the node-health stamp taken before and after every run, and the
reaper that makes sure no process of the tree outlives the run.

Memory is read from ``/proc`` (``psutil`` is not installed): every
``interval`` seconds the sampler sums the resident pages of this process
and all of its descendants (the Spark JVM and its Python workers), and
keeps the peak.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time
from pathlib import Path

PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>

# A healthy node copies 256 MB in ~0.05-0.1 s; the shared-host episodes
# recorded in BENCH/BASELINE.md slow the copy ~15x while the CPU loop
# stays flat. A run whose probe copies slower than this is flagged, never
# dropped or re-run.
DEGRADED_COPY_GBPS = 1.0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue  # exited between listing and read
        # field 4 (ppid) follows the parenthesised command, which may
        # itself contain spaces or parentheses
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d.name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all of its descendants."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def adopt_orphans() -> None:
    """Make this process the subreaper of its tree: a descendant whose
    parent exits (a Python worker whose JVM has gone) is re-parented here
    instead of to init, so ``reap_descendants`` still sees it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap_exited() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        pass  # no children left


def reap_descendants(grace: float = 10.0) -> list[str]:
    """Wait until every descendant of this process has ended; kill the
    ones still alive after ``grace`` seconds and wait for those too.
    Returns the command names of the processes it had to kill."""
    me = os.getpid()
    deadline = time.monotonic() + grace
    killed: list[str] = []
    while True:
        _reap_exited()
        left = [p for p in tree_pids() if p != me]
        if not left:
            return killed
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {left} survive SIGKILL")
            for pid in left:
                try:
                    killed.append(Path(f"/proc/{pid}/comm").read_text().strip())
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    continue  # ended meanwhile
            deadline = time.monotonic() + grace
        time.sleep(0.05)


def tree_pss(root: int | None = None) -> dict[int, tuple[str, int]]:
    """pid -> (command name, proportional set size in bytes) over the
    tree. PSS, not RSS: the Python workers are forked from one daemon,
    and summing their RSS would count every shared page once per worker."""
    out = {}
    for pid in tree_pids(root):
        try:
            comm = Path(f"/proc/{pid}/comm").read_text().strip()
            for line in Path(f"/proc/{pid}/smaps_rollup").read_text().splitlines():
                if line.startswith("Pss:"):
                    out[pid] = (comm, int(line.split()[1]) * 1024)
                    break
        except OSError:
            continue  # exited mid-read
    return out


class PeakRss:
    """Background sampler of the process tree's summed memory (PSS)."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.peak_by_process: dict[str, int] = {}
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _sample(self) -> None:
        tree = tree_pss()
        total = sum(b for _, b in tree.values())
        if total > self.peak:
            self.peak = total
            by_name: dict[str, int] = {}
            for name, b in tree.values():
                by_name[name] = by_name.get(name, 0) + b
            self.peak_by_process = by_name
        self.samples += 1

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


def node_health() -> dict:
    """The repo's own node-speed probe (``bench._node_health_probe``:
    256 MB memory copy + 5M-iteration CPU loop), imported, not copied."""
    from bench import _node_health_probe

    return _node_health_probe()


def health_flag(before: dict, after: dict) -> bool:
    """True when either probe ran in a degraded-memory-bandwidth window."""
    return min(before["mem_copy_gbps"], after["mem_copy_gbps"]) < DEGRADED_COPY_GBPS
