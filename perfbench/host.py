"""Host controls and process memory, read from this process and /proc.

The controls explain drift of the host itself (its speed varies through
the day): a pure-interpreter integer loop, since most of the engine's
work runs in Python workers, and a large numpy copy for memory
bandwidth. Neither touches the engine.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np

ALU_OPS = 2_000_000  # interpreter loop steps: ~0.3 s on the reference host
COPY_MB = 64  # larger than the last-level cache, so the copy hits memory
COPY_REPS = 5  # the fastest of these is reported
RSS_PERIOD_S = 0.2  # /proc sampling period of RssSampler


def alu_mops_per_s() -> float:
    """Million simple integer operations per second in the interpreter."""
    t = time.perf_counter()
    x = 0
    for i in range(ALU_OPS):
        x = (x + i * 7) & 0xFFFF
    return ALU_OPS / (time.perf_counter() - t) / 1e6


def memcpy_gb_per_s() -> float:
    src = np.ones(COPY_MB << 20, dtype=np.uint8)
    dst = np.empty_like(src)
    best = float("inf")
    for _ in range(COPY_REPS):
        t = time.perf_counter()
        np.copyto(dst, src)
        best = min(best, time.perf_counter() - t)
    return src.nbytes / best / 1e9


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # the command name may hold spaces: fields resume after ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants_rss_bytes(root: int) -> int:
    """Summed resident set size of every descendant of process `root`
    (here: the Spark driver JVM and its Python worker processes)."""
    kids = _children()
    total, todo = 0, list(kids.get(root, []))
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Samples descendants_rss_bytes(os.getpid()) every RSS_PERIOD_S
    seconds in a background thread; `peak` holds the largest sum seen."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, descendants_rss_bytes(me))
            self._stop.wait(RSS_PERIOD_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
