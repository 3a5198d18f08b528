"""Resident memory of this process and every live descendant (the JVM, its
Python workers), read from /proc. CPU time of the same tree comes from
tools/proc_cpu.py.

A background thread sums resident memory over the tree per sample and
keeps the peak.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _procs() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, resident bytes) for every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                s = f.read()
        except OSError:
            continue
        rest = s.rsplit(")", 1)[-1].split()  # comm may hold spaces
        try:
            out[int(name)] = (int(rest[1]), int(rest[21]) * _PAGE)
        except (IndexError, ValueError):
            continue
    return out


def tree(root: int, procs: dict | None = None) -> list[int]:
    """root and its live descendants."""
    procs = _procs() if procs is None else procs
    children: dict[int, list[int]] = {}
    for pid, (ppid, _r) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        if p in procs:
            out.append(p)
            stack.extend(children.get(p, []))
    return out


class RssSampler:
    """Samples the tree rooted at this process until closed."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.root = os.getpid()
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        procs = _procs()
        # a child caught between vfork and exec shares its parent's memory
        # and reports the same resident size: count that memory once
        rss = sum(procs[p][1] for p in tree(self.root, procs)
                  if procs.get(procs[p][0], (0, -1))[1] != procs[p][1])
        self._peak = max(self._peak, rss)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def peak_mb(self) -> float:
        return self._peak / (1 << 20)
