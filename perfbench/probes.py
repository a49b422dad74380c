"""Resident-memory sampling of the Spark driver JVM and its Python workers."""

from __future__ import annotations

import os
import threading

INTERVAL_S = 0.2


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the ppid is the second field after the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants_rss_bytes() -> tuple[int, int]:
    """Resident memory of the children of this process, i.e. the Spark driver
    JVM, and of their descendants (its Python workers)."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    sizes = [0, 0]
    todo = [(pid, 0) for pid in kids.get(os.getpid(), [])]
    while todo:
        pid, depth = todo.pop()
        todo.extend((c, 1) for c in kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                sizes[depth] += int(f.read().split()[1]) * page
        except OSError:
            continue
    return sizes[0], sizes[1]


class RssSampler:
    """Samples ``descendants_rss_bytes`` every ``INTERVAL_S`` in a background
    thread."""

    def __init__(self):
        self.peak_mb = 0.0
        self.peak_jvm_mb = 0.0
        self.peak_workers_mb = 0.0
        self._stop = threading.Event()
        self._active = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._active.is_set():
                jvm, workers = (b / 2**20 for b in descendants_rss_bytes())
                self.peak_mb = max(self.peak_mb, jvm + workers)
                self.peak_jvm_mb = max(self.peak_jvm_mb, jvm)
                self.peak_workers_mb = max(self.peak_workers_mb, workers)
            self._stop.wait(INTERVAL_S)

    def start(self) -> None:
        self._active.set()
        self._thread.start()

    def pause(self) -> None:
        self._active.clear()

    def resume(self) -> None:
        self._active.set()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
