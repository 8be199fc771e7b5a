"""Process accounting from ``/proc``: the JVM this process launched and
the Python worker processes under it.

A background thread samples resident memory (peak of the JVM, peak of
the workers' sum) every ``interval`` seconds; ``cpu()`` reads CPU
seconds on demand.  Worker CPU includes workers that already exited,
through the ``cutime``/``cstime`` of the worker daemon that reaped them.
"""

from __future__ import annotations

import os
import threading
import time
from typing import Dict, List, Optional, Tuple

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _TICK


def _stat(pid: int) -> Optional[Tuple[str, int, List[str]]]:
    """(comm, ppid, fields after comm) or None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    head, tail = raw.rsplit(")", 1)
    rest = tail.split()
    return head.split("(", 1)[1], int(rest[1]), rest


def _descendants(root: int) -> Dict[int, Tuple[str, int, List[str]]]:
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    out, frontier = {}, [root]
    while frontier:
        parent = frontier.pop()
        for pid, st in procs.items():
            if st[1] == parent and pid not in out:
                out[pid] = st
                frontier.append(pid)
    return out


class ProcessProbe:
    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_jvm_rss = 0
        self.peak_worker_rss = 0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def _classify(self):
        """(jvm entries, worker entries) among this process's descendants.
        The JVM is the ``java`` child of this process; workers are the
        ``python`` processes under it.  Other JVM children are skipped:
        a child the JVM has just forked to run a command still carries
        the JVM's resident pages until it execs."""
        me = os.getpid()
        procs = _descendants(me)
        jvm = {p: s for p, s in procs.items() if s[0] == "java" and s[1] == me}
        workers = {
            p: s for p, s in procs.items()
            if s[0].startswith("python") and any(_is_under(p, j, procs) for j in jvm)
        }
        return jvm, workers

    def sample(self) -> None:
        jvm, workers = self._classify()
        jvm_rss = sum(int(s[2][21]) for s in jvm.values()) * _PAGE
        worker_rss = sum(int(s[2][21]) for s in workers.values()) * _PAGE
        self.peak_jvm_rss = max(self.peak_jvm_rss, jvm_rss)
        self.peak_worker_rss = max(self.peak_worker_rss, worker_rss)

    def cpu(self) -> Dict[str, float]:
        """Cumulative CPU seconds of the JVM and of the Python workers."""
        jvm, workers = self._classify()
        jvm_cpu = sum(int(s[2][11]) + int(s[2][12]) for s in jvm.values())
        worker_cpu = sum(
            int(s[2][11]) + int(s[2][12]) + int(s[2][13]) + int(s[2][14])
            for p, s in workers.items()
            if s[1] in jvm  # the daemon: its own time plus reaped workers'
        ) + sum(
            int(s[2][11]) + int(s[2][12])
            for p, s in workers.items()
            if s[1] not in jvm
        )
        return {"jvm": jvm_cpu / _TICK, "worker": worker_cpu / _TICK}

    def reset_peaks(self) -> None:
        self.peak_jvm_rss = self.peak_worker_rss = 0

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, name="proc-probe", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


def _is_under(pid: int, ancestor: int, procs) -> bool:
    seen = set()
    while pid in procs and pid not in seen:
        seen.add(pid)
        pid = procs[pid][1]
        if pid == ancestor:
            return True
    return False


def wait_descendants_gone(timeout: float = 20.0) -> List[int]:
    """Wait for every process this one started to end; kill stragglers.
    Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        left = _descendants(os.getpid())
        if not left:
            return []
        time.sleep(0.1)
    killed = []
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, 9)
            killed.append(pid)
        except OSError:
            pass
    return killed
