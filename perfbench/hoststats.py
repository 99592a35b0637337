"""Host-side measurements from /proc: CPU time, load, steal and the RSS of
the benchmark's process tree (driver, JVM, Python workers)."""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def cpu_times() -> dict[str, float]:
    """System-wide CPU seconds from /proc/stat: busy (user+nice+system+irq
    +softirq), idle (idle+iowait) and steal."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, idle, iowait, irq, softirq, steal = v
    return {
        "busy": (user + nice + system + irq + softirq) / CLK_TCK,
        "idle": (idle + iowait) / CLK_TCK,
        "steal": steal / CLK_TCK,
    }


def delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: b[k] - a[k] for k in a}


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        out.setdefault(ppid, []).append(int(d))
    return out


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE / 2**20
    except (OSError, IndexError, ValueError):
        return 0.0


def reap_descendants(grace_s: float = 10.0) -> None:
    """Wait for every descendant process to end; kill what outlives ``grace_s``."""
    import signal

    deadline = time.time() + grace_s
    while (left := descendants(os.getpid())) and time.time() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass  # not our direct child; init reaps it


def _pss_mb(pid: int) -> float:
    """Proportional set size: pages shared by forked Python workers are
    split between them instead of counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class RssSampler(threading.Thread):
    """Samples the summed memory of this process and its descendants, split
    into driver / JVM / Python workers, and keeps the peaks. Workers count
    by PSS, since forked workers share pages; the driver process and the
    JVM by RSS, which is cheaper to read and equal to PSS for an unshared
    process. The JVM is its largest ``java`` process: a child it has just
    forked to run a command also shows as ``java``, with the parent's RSS."""

    def __init__(self, period_s: float = 0.5):
        super().__init__(name="rss-sampler", daemon=True)
        self.period_s = period_s
        self.peak = {"total": 0.0, "driver": 0.0, "jvm": 0.0, "py_workers": 0.0}
        self.samples = 0
        self._halt = threading.Event()

    def sample(self) -> None:
        me = os.getpid()
        cur = {"driver": _rss_mb(me), "jvm": 0.0, "py_workers": 0.0}
        for p in descendants(me):
            comm = _comm(p)
            if comm == "java":
                cur["jvm"] = max(cur["jvm"], _rss_mb(p))
            elif comm.startswith("python"):
                cur["py_workers"] += _pss_mb(p)
        cur["total"] = sum(cur.values())
        for k, v in cur.items():
            self.peak[k] = max(self.peak[k], v)
        self.samples += 1

    def run(self) -> None:
        while not self._halt.wait(self.period_s):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)


def host_snapshot() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": os.getloadavg()[0],
        "steal_s": cpu_times()["steal"],
    }
