"""Counters read from outside the program: Spark job groups and the
status tracker, the persistent-RDD count, and the resident memory of
the driver's process tree sampled from ``/proc``."""

from __future__ import annotations

import os
import signal
import threading
import time
from contextlib import contextmanager


class SparkCounters:
    """Tags every Spark job with a job group per benchmark phase, so the
    jobs, stages and tasks of a phase can be read back from
    ``SparkStatusTracker`` without touching the program."""

    def __init__(self, sc):
        self.sc = sc
        self._seq = 0
        self._groups: list[tuple[str, str]] = []

    @contextmanager
    def group(self, phase: str):
        self._seq += 1
        gid = f"perfbench-{self._seq}-{phase}"
        self._groups.append((phase, gid))
        self.sc.setJobGroup(gid, phase)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def jobs_in(self, gid: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(gid))

    def take(self) -> dict:
        """Totals over the groups opened since the last call, plus the
        job count per phase name.  Read soon after the phases ran: the
        tracker keeps only the most recent jobs and stages."""
        tracker = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
               "jobs_by_phase": {}}
        for phase, gid in self._groups:
            jobs = tracker.getJobIdsForGroup(gid)
            out["jobs"] += len(jobs)
            out["jobs_by_phase"][phase] = (
                out["jobs_by_phase"].get(phase, 0) + len(jobs))
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    st = tracker.getStageInfo(sid)
                    if st is None:
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numCompletedTasks
                    out["failed_tasks"] += st.numFailedTasks
        self._groups.clear()
        return out

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


class TreeCpu:
    """CPU seconds (user + system) used so far by a process and every
    process below it: the driver's Python, the JVM and the Python workers
    it forks.  Ended descendants count once reaped into a live one.

    The kernel charges a thread only for the time it ran, not for time the
    host withheld the CPU from this machine (steal time), which on a shared
    host can double the wall time of the same work.  The JVM's JIT
    compiler threads are left out: they compile in the background, in
    bursts that fall on one operation or the next, while the program's own
    threads wait for none of it."""

    JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self, pid: int):
        self.pid = pid
        self.tick = os.sysconf("SC_CLK_TCK")
        #: (pid, tid) -> last CPU ticks read for each JIT compiler thread;
        #: a thread that ended stays counted in its process's total
        self._jit: dict[tuple[int, str], int] = {}

    @staticmethod
    def _ticks(stat_path: str, fields: slice) -> int:
        with open(stat_path) as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        return sum(int(x) for x in f[fields])

    def seconds(self) -> float:
        total = 0
        for p in [self.pid] + descendants(self.pid):
            try:
                # utime stime cutime cstime
                total += self._ticks(f"/proc/{p}/stat", slice(11, 15))
                tids = os.listdir(f"/proc/{p}/task")
            except OSError:
                continue
            for tid in tids:
                try:
                    with open(f"/proc/{p}/task/{tid}/comm") as fh:
                        if not fh.read().startswith(self.JIT_THREADS):
                            continue
                    self._jit[p, tid] = self._ticks(
                        f"/proc/{p}/task/{tid}/stat", slice(11, 13))
                except OSError:
                    continue
        return (total - sum(self._jit.values())) / self.tick


class RssSampler:
    """Peak resident memory of a process and all its descendants (the
    Python driver, the JVM it launched and the Python workers the JVM
    forks), sampled on a background thread.  Each process contributes
    its proportional set size, so pages the forked workers share with
    the worker daemon are counted once rather than once per worker."""

    def __init__(self, pid: int, interval: float = 1.0):
        self.pid = pid
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_rss(self) -> int:
        total = 0
        for pid in [self.pid] + descendants(self.pid):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            if self._stop.wait(self.interval):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._stop.set()
        self._thread.join()
        return self.peak_bytes / 2**20


def noop_sink(df) -> None:
    """Run the full plan and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM and
    every process below it (the Python workers it forked) have exited."""
    from pyspark import SparkContext

    tree = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()   # the gateway JVM exits on stdin EOF
        proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in tree):
        if time.monotonic() > deadline:
            for p in tree:
                if _alive(p):
                    os.kill(p, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie has ended and counts as gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
