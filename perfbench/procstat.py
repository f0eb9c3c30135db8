"""CPU and memory of the Spark JVM and its Python workers, read from /proc.

psutil is not available, so this reads ``/proc/<pid>/stat`` and
``/proc/<pid>/status`` directly.  The JVM is the process the PySpark
gateway launched; the Python workers are its descendants (the worker
daemon and the workers it forks).
"""

from __future__ import annotations

import os
import threading
import time
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # comm (field 2) may contain spaces: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"  # a zombie has exited


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until none of ``pids`` is alive; raise if one outlives the
    timeout."""
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            raise TimeoutError(f"processes still running: {pids}")
        time.sleep(0.05)


def cpu_s(pid: int, with_reaped_children: bool) -> float:
    """user+sys seconds of ``pid``; optionally plus its reaped children."""
    st = _stat(pid)
    if st is None:
        return 0.0
    # fields after comm: state=0 ... utime=11 stime=12 cutime=13 cstime=14
    ticks = int(st[11]) + int(st[12])
    if with_reaped_children:
        ticks += int(st[13]) + int(st[14])
    return ticks / _TICK


class SparkProcs:
    """The JVM and its Python workers, with CPU and RSS readings."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid

    def python_workers(self) -> list[int]:
        pids = []
        for pid in descendants(self.jvm_pid):
            try:
                comm = Path(f"/proc/{pid}/comm").read_text().strip()
            except OSError:
                continue
            if comm.startswith("python"):
                pids.append(pid)
        return pids

    def cpu(self) -> tuple[float, float]:
        """(jvm_s, python_s) so far.  A worker that exits moves its time
        into its parent's reaped-children counters, so the python sum keeps
        it; the JVM's own counters cover all of its threads."""
        jvm = cpu_s(self.jvm_pid, with_reaped_children=False)
        py = sum(cpu_s(p, with_reaped_children=True) for p in self.python_workers())
        return jvm, py


def _status_kib(pid: int, field: str) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith(field):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssPeak:
    """Peak RSS of any Python worker over a window.

    On start every live worker's high-water mark is reset (``clear_refs``
    5), so the peak belongs to the window and not to set-up.  A sampler
    thread then polls each worker's ``VmHWM``, so workers that exit before
    the window ends still count.  The worker list is re-read from /proc only
    every ``REFRESH`` samples, which keeps the sampler's own CPU negligible."""

    REFRESH = 10

    def __init__(self, procs: SparkProcs, interval_s: float = 0.1) -> None:
        self._procs = procs
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._pids: list[int] = []
        self.peak_kib = 0

    def _sample(self) -> None:
        for pid in self._pids:
            self.peak_kib = max(self.peak_kib, _status_kib(pid, "VmHWM:"))

    def _loop(self) -> None:
        n = 0
        while not self._stop.wait(self._interval):
            n += 1
            if n % self.REFRESH == 0:
                self._pids = self._procs.python_workers()
            self._sample()

    def __enter__(self) -> "RssPeak":
        self._pids = self._procs.python_workers()
        for pid in self._pids:
            try:
                Path(f"/proc/{pid}/clear_refs").write_text("5")
            except OSError:
                pass
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._pids = self._procs.python_workers()
        self._sample()

    @property
    def peak_mib(self) -> float:
        return self.peak_kib / 1024.0
