"""CPU time and memory of this process and all its descendants
(the Python driver, the JVM it launched and the JVM's Python workers),
read from ``/proc``; Linux only.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name (field 2) may hold spaces; fields resume after ")"
    return raw[raw.rfind(")") + 2:].split()


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def become_subreaper() -> None:
    """Adopt orphaned descendants: a process whose parent ends (the JVM's
    Python worker daemon, once the JVM has gone) becomes a child of this
    process instead of init's, so ``reap_descendants`` can wait for it."""
    pr_set_child_subreaper = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_descendants(grace_s: float = 60.0) -> int:
    """Wait until every descendant of this process has ended and been
    reaped. What is still running after ``grace_s`` is killed. Needs
    ``become_subreaper`` first, or grandchildren orphaned on the way
    escape the wait. Returns the number of processes killed."""
    deadline = time.monotonic() + grace_s
    killed = 0
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return killed  # no child left, adopted ones included
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in tree()[1:]:
                try:
                    os.kill(p, signal.SIGKILL)
                    killed += 1
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + grace_s
        time.sleep(0.05)


def cpu_seconds(root: int | None = None) -> float:
    """User + system CPU of the tree, including reaped children."""
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:  # utime stime cutime cstime: fields 14-17
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def pss_mb(root: int | None = None) -> float:
    """Proportional set size of the tree: pages shared between processes
    (the forked Python workers and their daemon) are split among them
    instead of counted once per process, as summed RSS would."""
    total_kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, ValueError):
            continue  # the process ended between listing and reading
    return total_kb / 1e3


class PssSampler:
    """Samples the tree's PSS in a background thread until the ``with``
    block ends: ``mean_mb`` averages the samples, ``peak_mb`` is the
    largest (one instant's figure, so the mean is the steadier one)."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.samples: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="pss-sampler", daemon=True)

    def _run(self) -> None:
        while True:
            self.samples.append(pss_mb())
            if self._stop.wait(self.interval_s):
                return

    @property
    def peak_mb(self) -> float:
        return max(self.samples)

    @property
    def mean_mb(self) -> float:
        return sum(self.samples) / len(self.samples)

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
