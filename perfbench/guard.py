"""A per-step time limit and a cap on scratch disk, without threads.

While armed, an interval timer delivers SIGALRM every ``poll_s``
seconds.  The handler runs in the main thread, also while it waits on
the JVM, and raises :class:`StepAborted` once the step has run too long
or the scratch directory has grown past the cap.  Py4J may wrap the
exception, so callers read :attr:`Watchdog.tripped` for the reason.
"""

from __future__ import annotations

import os
import signal
import time
from contextlib import contextmanager
from pathlib import Path


class StepAborted(Exception):
    pass


def disk_usage_mb(root: Path) -> float:
    total = 0
    stack = [str(root)]
    while stack:
        try:
            with os.scandir(stack.pop()) as it:
                for entry in it:
                    try:
                        if entry.is_dir(follow_symlinks=False):
                            stack.append(entry.path)
                        else:
                            total += entry.stat(follow_symlinks=False).st_blocks * 512
                    except FileNotFoundError:
                        pass  # Spark deletes shuffle files while we walk
        except FileNotFoundError:
            pass
    return total / (1024.0 * 1024.0)


class Watchdog:
    def __init__(self, scratch: Path, disk_cap_mb: float, timeout_s: float, poll_s: float = 0.5):
        self.scratch = scratch
        self.disk_cap_mb = disk_cap_mb
        self.timeout_s = timeout_s
        self.poll_s = poll_s
        self.tripped: str | None = None
        self.peak_disk_mb = 0.0

    @contextmanager
    def armed(self, name: str):
        start = time.monotonic()

        def on_tick(signum, frame):
            if self.tripped:
                return
            used = disk_usage_mb(self.scratch)
            self.peak_disk_mb = max(self.peak_disk_mb, used)
            if time.monotonic() - start > self.timeout_s:
                self.tripped = f"{name}: exceeded the {self.timeout_s:.0f} s step timeout"
            elif used > self.disk_cap_mb:
                self.tripped = f"{name}: scratch disk {used:.0f} MB over the {self.disk_cap_mb:.0f} MB cap"
            if self.tripped:
                signal.setitimer(signal.ITIMER_REAL, 0)
                raise StepAborted(self.tripped)

        previous = signal.signal(signal.SIGALRM, on_tick)
        signal.setitimer(signal.ITIMER_REAL, self.poll_s, self.poll_s)
        try:
            yield
        finally:
            signal.setitimer(signal.ITIMER_REAL, 0)
            signal.signal(signal.SIGALRM, previous)
