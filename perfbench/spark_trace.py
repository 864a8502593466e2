"""Measurement helpers that read a live session from outside the engine.

- ``tree_cpu_s``: CPU seconds of this run's processes (the driver, the JVM
  and its Python workers), read from /proc. Time the hypervisor steals from
  the VM is not charged to a process, so on a shared host this varies
  less between runs than wall time does.
- ``RssSampler``: peak summed RSS of the JVM and its Python workers, read
  from /proc for this run's own processes.
- ``Ledger``: after each call the benchmark makes, collects the Spark jobs
  the call ran (job ids above the largest one seen before the call) and
  sums their stage and task metrics from the status store.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from dataclasses import dataclass, field


def _children(pid: int) -> list[int]:
    """Children of every thread of pid: the JVM starts the Python worker
    daemon from an executor thread, not from its main thread."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(p) for p in f.read().split())
        except OSError:
            continue
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the process tree under root, own and of
    reaped children (utime, stime, cutime, cstime)."""
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended between listing and reading
            continue
        total += sum(int(x) for x in fields[11:15])
        stack.extend(_children(pid))
    return total / _TICK


def tree_rss_bytes(root: int) -> int:
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += _rss_bytes(pid)
        stack.extend(_children(pid))
    return total


class RssSampler:
    """Samples the summed RSS of the process tree under ``root`` every
    ``interval`` seconds on a daemon thread until ``stop()``."""

    def __init__(self, root: int, interval: float = 0.25):
        self.root, self.interval, self.peak = root, interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval)

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root))
        return self.peak


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


@dataclass
class CallStats:
    """Account of one call: wall time, CPU seconds of this run's processes,
    and (traced runs) the part of the wall time no Spark job covered
    (driver_s) and summed stage/task metrics."""

    wall_s: float = 0.0
    proc_cpu_s: float = 0.0
    driver_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0  # collection time of the whole JVM, driver and executors
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    # task times of the stage with the largest shuffle read (the key
    # window of a CheckSuite pass); skew = max / median
    skew_tasks_s: list = field(default_factory=list)

    def add(self, o: "CallStats") -> "CallStats":
        for k in ("wall_s", "proc_cpu_s", "driver_s", "jobs", "stages", "tasks", "run_s", "cpu_s",
                  "gc_s", "input_bytes", "shuffle_write_bytes", "spill_bytes"):
            setattr(self, k, getattr(self, k) + getattr(o, k))
        if not self.skew_tasks_s or (o.skew_tasks_s and max(o.skew_tasks_s) > max(self.skew_tasks_s)):
            self.skew_tasks_s = o.skew_tasks_s
        return self


class Ledger:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._gc_beans = list(sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())

    def _gc_ms(self) -> int:
        """Collection time so far of every garbage collector of the JVM."""
        return sum(b.getCollectionTime() for b in self._gc_beans)

    def job_ids_after(self, before: int) -> list[int]:
        """Ids above ``before`` of the jobs in the status store, of every job
        group: Structured Streaming runs its micro-batches in a group of
        its own. The store lists the newest job first."""
        jobs = self._store.jobsList(None)
        ids = []
        for i in range(jobs.size()):
            job_id = jobs.apply(i).jobId()
            if job_id <= before:
                break
            ids.append(job_id)
        return sorted(ids)

    def last_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def measure(self, fn):
        """Run fn(); return (its result, CallStats of the jobs it ran)."""
        before, gc0 = self.last_job_id(), self._gc_ms()
        t0 = time.time()
        out = fn()
        t1 = time.time()
        st = self.stats_since(before, t0, t1)
        st.gc_s = (self._gc_ms() - gc0) / 1e3
        return out, st

    def stats_since(self, before: int, t0: float, t1: float) -> CallStats:
        ids = self.job_ids_after(before)
        st = CallStats(wall_s=t1 - t0, jobs=len(ids))
        spans, stage_ids = [], set()
        for i in ids:
            job = self._store.job(i)
            sub = job.submissionTime()
            end = job.completionTime()
            if sub.isDefined():
                a = sub.get().getTime() / 1e3
                b = end.get().getTime() / 1e3 if end.isDefined() else t1
                spans.append((max(a, t0), min(b, t1)))
            stage_ids.update(_seq(job.stageIds()))
        covered, edge = 0.0, t0
        for a, b in sorted(spans):
            a = max(a, edge)
            if b > a:
                covered += b - a
                edge = b
        st.driver_s = max(0.0, st.wall_s - covered)
        best_read = -1
        for s in _seq(self._store.stageList(None, False, False, self._no_quantiles, None)):
            if s.stageId() not in stage_ids or s.numCompleteTasks() == 0:
                continue
            st.stages += 1
            st.tasks += s.numCompleteTasks()
            st.run_s += s.executorRunTime() / 1e3
            st.cpu_s += s.executorCpuTime() / 1e9
            st.input_bytes += s.inputBytes()
            st.shuffle_write_bytes += s.shuffleWriteBytes()
            st.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
            if s.shuffleReadBytes() > best_read:
                best_read = s.shuffleReadBytes()
                tasks = _seq(self._store.taskList(s.stageId(), s.attemptId(), 100_000))
                st.skew_tasks_s = [
                    t.taskMetrics().get().executorRunTime() / 1e3
                    for t in tasks
                    if t.taskMetrics().isDefined()
                ]
        return st

    def persistent_rdds(self) -> int:
        return self._jsc.getPersistentRDDs().size()


def layer_metrics(prefix: str, st: CallStats) -> dict:
    return {
        f"{prefix}.wall_s": st.wall_s,
        f"{prefix}.driver_s": st.driver_s,
        f"{prefix}.jobs": st.jobs,
        f"{prefix}.stages": st.stages,
    }


def exec_metrics(st: CallStats) -> dict:
    skew = st.skew_tasks_s or [0.0]
    p50 = statistics.median(skew)
    return {
        "exec.tasks": st.tasks,
        "exec.run_s": st.run_s,
        "exec.cpu_s": st.cpu_s,
        "jvm.gc_s": st.gc_s,
        "exec.input_bytes": st.input_bytes,
        "exec.shuffle_write_bytes": st.shuffle_write_bytes,
        "exec.spill_bytes": st.spill_bytes,
        "exec.task_skew": max(skew) / p50 if p50 > 0 else 1.0,
        "exec.task_p50_s": p50,
    }
