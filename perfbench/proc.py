"""Peak memory of this process and everything it started (the JVM and
its python workers): proportional set size summed from /proc."""

from __future__ import annotations

import os
import threading

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages the python workers share with the
    daemon they forked from count once across the tree, where summed RSS
    would count them once per worker (and vary with the worker count)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # exited
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:  # exited
        return "?"


def tree_pss_parts(root: int) -> dict[str, int]:
    """Summed PSS of the tree, by command name (java, python3, ...)."""
    parts: dict[str, int] = {}
    for pid in tree_pids(root):
        comm = _comm(pid)
        parts[comm] = parts.get(comm, 0) + _pss_bytes(pid)
    return parts


class PeakMemory:
    """Samples the process tree's summed PSS on a daemon thread. Each
    sample walks the JVM's page tables, so it runs once a second."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        parts = tree_pss_parts(os.getpid())
        total = sum(parts.values())
        if total > self.peak:
            self.peak, self.peak_parts = total, parts

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20

    def peak_parts_mb(self) -> dict[str, float]:
        return {k: round(v / 2**20, 1) for k, v in sorted(self.peak_parts.items())}


def wait_children(timeout_s: float = 30.0) -> None:
    """Wait until every process this one started has exited."""
    import time

    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if len(tree_pids(os.getpid())) <= 1:
            return
        time.sleep(0.1)
