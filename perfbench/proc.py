"""CPU and RSS of this process and all its descendants, read from /proc.

Covers the JVM that PySpark launches and its Python workers, whose CPU
time the JVM's own task metrics do not see.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree() -> list[int]:
    """This process and all its descendants."""
    kids, out, todo = _children(), [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_s() -> float:
    """user+sys seconds of the tree, including reaped children."""
    total = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def rss_mb() -> float:
    total = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError):
            continue
    return total * _PAGE / 2**20


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait for `pids` to exit; SIGKILL whatever is left at the timeout."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        pids = [p for p in pids if _running(p)]
        if not pids:
            return
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


class RssSampler:
    """Peak RSS of the process tree, sampled by one daemon thread.

    The peak is taken over the median of each 3 consecutive samples.  A
    process the JVM has just spawned briefly reports the JVM's own pages
    as its RSS, which adds a 1 GB+ spike to one sample in some runs; the
    rolling median drops such a spike and keeps any level held for two
    samples or more."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        last: list[float] = []
        while not self._stop.is_set():
            last = [*last[-2:], rss_mb()]
            self.peak_mb = max(self.peak_mb, sorted(last)[len(last) // 2])
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
