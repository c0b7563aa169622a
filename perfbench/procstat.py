"""Peak resident memory and CPU time of the Spark JVM and the pyspark
Python workers, sampled from ``/proc``, and the JVM's shutdown.

Everything this process started (spark-submit → the JVM → the pyspark
daemon → its forked workers) is a descendant, so one walk of the process
tree finds all of it. Resident memory is summed over the descendants as
PSS (``/proc/<pid>/smaps_rollup``): RSS with each shared page split among
the processes that map it, so forked Python workers sharing the daemon's
pages are not counted once per worker. The peak of the sum is kept. CPU
time per process includes its reaped children (``cutime``/``cstime``),
so workers that already exited still count through the daemon that
waited for them.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _cpu(pid: int) -> tuple[str, float] | None:
    """(command, cpu seconds including reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
        with open(f"/proc/{pid}/comm") as f:
            comm = f.read().strip()
    except OSError:
        return None
    # after the ")" ending the command: field 3 (state) first, so
    # utime, stime, cutime, cstime (fields 14-17) sit at 11-14
    fields = raw.rsplit(")", 1)[1].split()
    return comm, sum(int(x) for x in fields[11:15]) / _TICK


def _pss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class ProcSampler:
    """Background sampler of the process tree below this process."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_rss_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> ProcSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def sample(self) -> None:
        mb = sum(_pss_mb(p) for p in _descendants(os.getpid()))
        self.peak_rss_mb = max(self.peak_rss_mb, mb)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def reset_peak(self) -> None:
        self.peak_rss_mb = 0.0
        self.sample()


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_jvm(proc, timeout_s: float = 60.0) -> None:
    """End the Spark JVM ``proc`` and wait until it and every process below
    it (the pyspark daemon and its workers) have ended. The JVM exits when
    its stdin closes; its children are orphaned then, so they are listed
    first."""
    below = _descendants(proc.pid)
    proc.stdin.close()
    proc.wait(timeout=timeout_s)
    deadline = time.time() + timeout_s
    while any(_running(p) for p in below):
        if time.time() > deadline:
            raise RuntimeError(f"processes {below} outlived the Spark JVM")
        time.sleep(0.1)


def cpu_seconds() -> dict[str, float]:
    """CPU seconds so far of the JVM and of the Python workers."""
    out = {"jvm": 0.0, "pyworker": 0.0}
    for p in _descendants(os.getpid()):
        s = _cpu(p)
        if s is None:
            continue
        comm, cpu = s
        if comm == "java":
            out["jvm"] += cpu
        elif comm.startswith("python"):
            out["pyworker"] += cpu
    return out
