"""Resident memory and CPU of a process tree, read from ``/proc``.

The benchmark process itself runs only the harness and the Python side of
the Spark driver; the work it measures runs in its descendants (the driver
JVM and the Python workers the JVM forks), so memory is summed over the
descendants and CPU over the benchmark process and its descendants.
"""

from __future__ import annotations

import os
import threading
import time
from pathlib import Path

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def parse_stat(text: str) -> tuple[str, int, float]:
    """(state, ppid, cpu seconds incl. reaped children) from a
    ``/proc/<pid>/stat`` line. The command name is parenthesised and may
    itself hold spaces or parentheses, so fields are counted from the last
    ``)``."""
    fields = text[text.rindex(")") + 2:].split()
    # fields[0] is field 3 (state): ppid is field 4, utime..cstime 14..17.
    ticks = sum(int(x) for x in fields[11:15])
    return fields[0], int(fields[1]), ticks / _TICK


def _read(path: str) -> str | None:
    try:
        return Path(path).read_text()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None  # the process ended between listing and reading


def tree(root: int, proc: str = "/proc") -> dict[int, float]:
    """{pid: cpu seconds} for ``root`` and every live descendant."""
    info: dict[int, tuple[int, float]] = {}
    for entry in os.listdir(proc):
        if entry.isdigit():
            text = _read(f"{proc}/{entry}/stat")
            if text:
                _, ppid, cpu = parse_stat(text)
                info[int(entry)] = ppid, cpu
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in info.items():
        children.setdefault(ppid, []).append(pid)
    out: dict[int, float] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in info:
            out[pid] = info[pid][1]
            todo.extend(children.get(pid, []))
    return out


def rss_bytes(pids, proc: str = "/proc") -> int:
    total = 0
    for pid in pids:
        text = _read(f"{proc}/{pid}/statm")
        if text:
            total += int(text.split()[1]) * _PAGE
    return total


class Sampler:
    """Background sampler of the peak summed RSS of the descendants of
    ``root``. CPU needs no sampling: ``cpu_seconds()`` read at two instants
    gives the CPU the tree used between them, because a reaped child's time
    is added to its parent's."""

    def __init__(self, root: int | None = None, interval: float = 0.2):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self.peak_rss = 0
        #: every descendant seen, so that processes orphaned when their
        #: parent exits can still be waited for.
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            pids = [p for p in tree(self.root) if p != self.root]
            self.seen.update(pids)
            self.peak_rss = max(self.peak_rss, rss_bytes(pids))
            self._stop.wait(self.interval)

    def cpu_seconds(self) -> float:
        return sum(tree(self.root).values())

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def alive(pid: int, proc: str = "/proc") -> bool:
    text = _read(f"{proc}/{pid}/stat")
    return text is not None and parse_stat(text)[0] != "Z"


def wait_gone(pids, timeout: float = 30.0) -> list[int]:
    """Wait until none of ``pids`` runs; kill and return those still
    running after ``timeout``."""
    deadline = time.monotonic() + timeout
    left = [p for p in pids if alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.2)
        left = [p for p in left if alive(p)]
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    return left
