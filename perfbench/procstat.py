"""CPU and resident-memory accounting for this process and everything
it started: the driver JVM, the PySpark worker daemon and its Python
workers, plus the machine's CPU steal. Read from ``/proc``, so it costs
no Spark job and sees the processes Spark starts on its own."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2 :].split()


def process_start_epoch() -> float:
    """Wall-clock time this process was started (10 ms resolution)."""
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + int(_stat(os.getpid())[19]) / _TICK


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds() -> float:
    """User+system CPU of the process tree, including reaped children
    (a Python worker that exited is counted through its parent)."""
    total = 0
    for pid in tree():
        st = _stat(pid)
        if st is not None:
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def host_ticks() -> tuple[int, int]:
    """Machine-wide CPU ticks since boot: ``(busy, steal)``. Steal is
    time a CPU had work to run but the hypervisor ran another guest."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def granted(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the CPU time this machine wanted between two
    :func:`host_ticks` readings that the hypervisor gave it; 1.0 when
    nothing was stolen."""
    busy, steal = t1[0] - t0[0], t1[1] - t0[1]
    return busy / (busy + steal) if busy > 0 else 1.0


def pss_mb() -> float:
    """Summed proportional set size of the tree: pages shared between
    processes (a forked worker, a JVM spawning a helper) are split
    between them instead of counted once per process."""
    total = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            pass  # the process ended between listing and reading
    return total / 1024


class PeakRss:
    """Samples the tree's resident memory (:func:`pss_mb`) every
    ``interval`` seconds on a daemon thread until :meth:`stop`;
    :meth:`take` returns the largest sample since the last call."""

    def __init__(self, interval: float = 0.1):
        self._peak = 0.0
        self._interval = interval
        self._lock = threading.Lock()
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._done.is_set():
            mb = pss_mb()
            with self._lock:
                self._peak = max(self._peak, mb)
            self._done.wait(self._interval)

    def take(self) -> float:
        with self._lock:
            peak, self._peak = self._peak, 0.0
        return peak

    def stop(self) -> None:
        self._done.set()
        self._thread.join(timeout=5)
