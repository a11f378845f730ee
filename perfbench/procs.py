"""Process bookkeeping from ``/proc``: the PySpark worker RSS sampler and
the wait for every process the run started to end.  (No ``psutil``.)"""

from __future__ import annotations

import os
import signal
import threading
import time

RSS_INTERVAL_S = 0.05  # between RSS samples
RSS_RESCAN_S = 0.5     # between scans for new worker processes
EXIT_WAIT_S = 60       # for started processes to end before they are killed


def _ppid(pid: int) -> int:
    with open(f"/proc/{pid}/stat", "rb") as fh:
        # the command name is in parentheses and may hold spaces
        return int(fh.read().rsplit(b")", 1)[1].split()[1])


def descendants(root: int) -> list[int]:
    """Every live process below ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                children.setdefault(_ppid(int(name)), []).append(int(name))
            except (OSError, IndexError, ValueError):
                continue  # exited while we looked
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            argv = fh.read().split(b"\0")
    except OSError:
        return False
    # the JVM's own command line names "pyspark-shell"; skip it
    return (os.path.basename(argv[0]).startswith(b"python")
            and any(a.startswith(b"pyspark.") for a in argv))


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", "rb") as fh:
            for line in fh:
                if line.startswith(b"VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class WorkerRss:
    """Samples the summed ``VmRSS`` of this process's PySpark worker
    processes (the ``pyspark.daemon`` and the workers it forks) on a
    background thread; :meth:`stop` returns the peak in MiB."""

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        pids: list[int] = []
        next_scan = 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now >= next_scan:
                pids = [p for p in descendants(me) if _is_python_worker(p)]
                next_scan = now + RSS_RESCAN_S
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in pids))
            self._stop.wait(RSS_INTERVAL_S)

    def start(self) -> "WorkerRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_kb / 1024.0


def wait_gone(pids: list[int]) -> list[int]:
    """Wait for ``pids`` to exit; kill what is left after ``EXIT_WAIT_S``.
    Returns the pids that had to be killed."""
    deadline = time.monotonic() + EXIT_WAIT_S
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in alive) and time.monotonic() < deadline:
        time.sleep(0.1)
    return alive


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie counts as ended)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            return fh.read().rsplit(b")", 1)[1].split()[0] != b"Z"
    except OSError:
        return False
