"""Process-tree accounting from /proc: CPU seconds and resident memory of
the driver, its JVM and the JVM's Python workers (the pyspark daemon and
every worker it forks).  No psutil: everything is read from /proc.

Resident memory is summed as PSS (proportional set size, from
smaps_rollup): a page shared by n processes counts 1/n in each.  Summed
RSS counts the pages forked workers share with the daemon once per
worker, and counts the whole JVM heap again for the instant between the
JVM's fork and exec of a new worker, so its peak depends on sampling
luck (measured at local[4] on 4 cores: 3.9 vs 6.7 GB peak across runs of
one workload).  The JVM is the exception: it is exec'd, so it shares
nothing but libraries (its PSS and RSS differ by under 0.1%), and
walking its smaps takes ~30 ms on a 2 GB heap while holding the JVM's
mmap lock; its RSS is read from stat instead."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
KINDS = ("driver", "jvm", "pyworker")


def _read_stat(pid: int) -> tuple[int, float, float, int, str] | None:
    """(ppid, own cpu s, reaped-children cpu s, rss bytes, comm) or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:  # process ended between listdir and open
        return None
    # comm may hold spaces or parentheses: split after the LAST ')'
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    rss = int(fields[21]) * _PAGE
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    return ppid, (utime + stime) / _TICK, (cutime + cstime) / _TICK, rss, comm


def _pss(pid: int, rss: int) -> int:
    """PSS in bytes; the stat RSS where smaps_rollup is unavailable."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return rss


def _all_stats() -> dict[int, tuple[int, float, float, int, str]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def descendants(root: int, stats: dict | None = None) -> list[int]:
    stats = _all_stats() if stats is None else stats
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(st[0], []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


class ProcTree:
    """CPU and resident memory split by process kind for one driver and
    its JVM.

    ``cpu()`` is cumulative: take it before and after an operation and
    subtract.  Python-worker CPU includes workers the daemon has already
    reaped (its cutime), so a worker that exits mid-operation keeps its
    seconds.  ``start()``/``stop()`` bracket a sampling thread that keeps
    the peak of the summed PSS and of each kind's PSS."""

    def __init__(self, driver_pid: int, jvm_pid: int, interval_s: float = 0.25):
        self.driver_pid = driver_pid
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.peak_mb = {k: 0.0 for k in (*KINDS, "total")}
        self.peak_workers = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(
        self, memory: bool
    ) -> tuple[dict[str, float], dict[str, float], int]:
        stats = _all_stats()
        cpu = dict.fromkeys(KINDS, 0.0)
        mem = dict.fromkeys(KINDS, 0.0)
        kinds = [("driver", self.driver_pid), ("jvm", self.jvm_pid)]
        # Python processes only: a JVM child between fork and exec (comm
        # "java") would count the JVM's memory twice
        workers = [
            pid for pid in descendants(self.jvm_pid, stats)
            if stats[pid][4].startswith("python")
        ]
        kinds += [("pyworker", pid) for pid in workers]
        for kind, pid in kinds:
            st = stats.get(pid)
            if st is None:
                continue
            # reaped children's CPU stays with the daemon (cutime); the
            # driver's and JVM's children are the JVM and the workers
            cpu[kind] += st[1] + (st[2] if kind == "pyworker" else 0.0)
            if memory:
                b = st[3] if kind == "jvm" else _pss(pid, st[3])
                mem[kind] += b / 2**20
        return cpu, mem, len(workers)

    def cpu(self) -> dict[str, float]:
        return self._sample(memory=False)[0]

    def _record_mem(self) -> None:
        _, rss, n_workers = self._sample(memory=True)
        self.peak_workers = max(self.peak_workers, n_workers)
        for k in KINDS:
            self.peak_mb[k] = max(self.peak_mb[k], rss[k])
        self.peak_mb["total"] = max(self.peak_mb["total"], sum(rss.values()))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._record_mem()

    def start(self) -> None:
        """Resume memory sampling (peaks accumulate across start/stop)."""
        self._record_mem()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
            self._thread = None
        self._record_mem()
