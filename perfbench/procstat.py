"""Process-tree and host counters read from /proc.

The benchmark's process tree is: this Python driver → the JVM (spark-submit
child) → Python workers (``pyspark.daemon`` and its forks). CPU and RSS are
split three ways: driver, JVM, and ``pyworker`` — every other descendant,
which is the Python workers plus, for a moment at start-up, the launcher.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces: split after the closing paren
    return raw[raw.rindex(")") + 2 :].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def tree(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def cpu_split() -> dict[str, float]:
    """Cumulative CPU seconds: driver (this process), jvm, pyworker.

    Reaped children count through their parent's cutime/cstime, so Python
    workers that exit inside a window are still counted (the daemon reaps
    its forks; the JVM reaps the daemon)."""
    me = os.getpid()
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid in tree(me):
        st = _stat(pid)
        if st is None:
            continue
        own = (int(st[11]) + int(st[12])) / _TICK
        reaped = (int(st[13]) + int(st[14])) / _TICK
        if pid == me:
            out["driver"] += own
        elif "java" in _cmdline(pid).split(" ", 1)[0]:
            out["jvm"] += own
        else:
            out["pyworker"] += own + reaped
    return out


def tree_rss_mb() -> dict[str, float]:
    """RSS in MB by role: driver (this process), jvm, pyworker."""
    me = os.getpid()
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid in tree(me):
        st = _stat(pid)
        if st is None:
            continue
        mb = int(st[21]) * _PAGE / 2**20
        if pid == me:
            out["driver"] += mb
        elif "java" in _cmdline(pid).split(" ", 1)[0]:
            out["jvm"] += mb
        else:
            out["pyworker"] += mb
    return out


def wait_gone(pids: list[int], timeout_s: float = 60.0) -> None:
    """Wait until none of ``pids`` is alive (zombies count as ended)."""
    deadline = time.monotonic() + timeout_s
    live = list(pids)
    while live and time.monotonic() < deadline:
        live = [p for p in live if (st := _stat(p)) is not None and st[0] != "Z"]
        if live:
            time.sleep(0.1)
    if live:
        raise RuntimeError(f"processes still running: {live}")


def steal_s() -> float:
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / _TICK if len(cpu) > 8 else 0.0


class RssSampler:
    """Peak summed RSS of the process tree, sampled on a thread while the
    ``with`` block runs; ``at_peak`` is the split by role at that sample."""

    def __init__(self, period_s: float = 0.05):
        self.period_s = period_s
        self.peak_mb = 0.0
        self.at_peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        split = tree_rss_mb()
        total = sum(split.values())
        if total > self.peak_mb:
            self.peak_mb, self.at_peak = total, split

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def reference_loop_s() -> float:
    """Wall time of a fixed pure-Python loop: a host-speed probe that no
    change to the program can move."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0
