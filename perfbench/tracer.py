"""Spans around calls into the engine's layers, with counters read from
outside the program: Spark's status store (jobs, stages, tasks, bytes)
and /proc (CPU time and peak RSS of the JVM and its Python workers).

Spans live in memory and are written out once, when the run ends. A
span records the job-id watermark at its start and end; the jobs it
issued are those with ids in (start, end]. That attributes jobs started
from helper threads (``manifest._parallel_jobs``), which job groups
would miss, because job ids are global to the SparkContext.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    request: int | None
    job_lo: int
    end: float = 0.0
    job_hi: int = 0
    cpu0: float = 0.0
    cpu1: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class JobInfo:
    """What the status store knows about one finished job."""

    tasks: int
    failed_tasks: int
    stages: list = field(default_factory=list)  # StageInfo of stages that ran


@dataclass
class StageInfo:
    tasks: int
    run_ms: int
    cpu_ns: int
    input_bytes: int
    output_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


def self_time(spans: list[Span], i: int) -> float:
    """Span i's duration minus the union of its direct children's
    intervals (clipped to the parent)."""
    s = spans[i]
    kids = sorted(
        (max(c.start, s.start), min(c.end, s.end))
        for c in spans
        if c.parent == i
    )
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in kids:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return s.seconds - covered


def job_totals(jobs: dict[int, JobInfo], lo: int, hi: int) -> dict:
    """Counters summed over the jobs with ids in (lo, hi]."""
    out = dict(
        jobs=0, stages=0, tasks=0, failed_tasks=0, run_ms=0, cpu_ns=0,
        input_bytes=0, output_bytes=0, shuffle_bytes=0, spill_bytes=0,
    )
    for jid, j in jobs.items():
        if not lo < jid <= hi:
            continue
        out["jobs"] += 1
        out["tasks"] += j.tasks
        out["failed_tasks"] += j.failed_tasks
        for st in j.stages:
            out["stages"] += 1
            out["run_ms"] += st.run_ms
            out["cpu_ns"] += st.cpu_ns
            out["input_bytes"] += st.input_bytes
            out["output_bytes"] += st.output_bytes
            out["shuffle_bytes"] += st.shuffle_write_bytes
            out["spill_bytes"] += st.spill_bytes
    return out


class SparkCounters:
    """Reads the SparkContext's application status store over py4j."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._ctx = sc._jsc.sc()
        self._store = self._ctx.statusStore()
        self._jvm = sc._jvm
        self._jobs: dict[int, JobInfo] = {}

    def watermark(self) -> int:
        """Highest job id the status store has seen, after every
        already-posted listener event has been applied."""
        self._ctx.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)
        return int(jobs.head().jobId()) if jobs.nonEmpty() else -1

    def jobs(self, lo: int, hi: int) -> dict[int, JobInfo]:
        """JobInfo for ids in (lo, hi], fetched once per job."""
        conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        for jid in range(lo + 1, hi + 1):
            if jid in self._jobs:
                continue
            j = self._store.job(jid)
            info = JobInfo(int(j.numTasks()), int(j.numFailedTasks()))
            for sid in conv.asJava(j.stageIds()):
                s = self._store.lastStageAttempt(int(sid))
                if s.status().toString() == "SKIPPED":
                    continue
                info.stages.append(StageInfo(
                    tasks=int(s.numTasks()),
                    run_ms=int(s.executorRunTime()),
                    cpu_ns=int(s.executorCpuTime()),
                    input_bytes=int(s.inputBytes()),
                    output_bytes=int(s.outputBytes()),
                    shuffle_write_bytes=int(s.shuffleWriteBytes()),
                    spill_bytes=int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
                ))
            self._jobs[jid] = info
        return {j: self._jobs[j] for j in range(lo + 1, hi + 1)}

    def storage(self) -> tuple[int, int]:
        """(persistent RDD count, cached bytes in memory and on disk)."""
        infos = self._ctx.getRDDStorageInfo()
        cached = sum(int(r.memSize()) + int(r.diskSize()) for r in infos)
        return int(self._ctx.getPersistentRDDs().size()), cached


class ProcCounters:
    """CPU seconds and peak RSS of the JVM and its descendant processes
    (the PySpark daemon and Python workers), read from /proc. Peak RSS
    is each process's VmHWM, kept per pid across samples so that a
    worker which exits still counts."""

    def __init__(self, jvm_pid: int, proc: str = "/proc"):
        self.jvm_pid = jvm_pid
        self._proc = proc
        self.peak_kb: dict[int, int] = {}

    def _stat(self, pid: int):
        with open(f"{self._proc}/{pid}/stat") as fh:
            raw = fh.read()
        # the command name may contain spaces; fields resume after ')'
        f = raw[raw.rindex(")") + 2:].split()
        ppid = int(f[1])
        cpu = sum(int(x) for x in f[11:15]) / _CLK_TCK  # utime stime cutime cstime
        return ppid, cpu

    def _hwm_kb(self, pid: int) -> int:
        with open(f"{self._proc}/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    def sample(self) -> dict:
        """{'jvm_cpu_s', 'worker_cpu_s'} now; updates the peak table."""
        stats = {}
        for name in os.listdir(self._proc):
            if name.isdigit():
                try:
                    stats[int(name)] = self._stat(int(name))
                except (FileNotFoundError, ProcessLookupError, ValueError):
                    continue  # exited while scanning
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in stats.items():
            kids.setdefault(ppid, []).append(pid)
        workers, todo = [], list(kids.get(self.jvm_pid, []))
        while todo:
            pid = todo.pop()
            workers.append(pid)
            todo.extend(kids.get(pid, []))
        for pid in [self.jvm_pid, *workers]:
            try:
                self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), self._hwm_kb(pid))
            except (FileNotFoundError, ProcessLookupError):
                continue
        return {
            "jvm_cpu_s": stats.get(self.jvm_pid, (0, 0.0))[1],
            "worker_cpu_s": sum(stats[p][1] for p in workers if p in stats),
        }

    def peak_mb(self) -> tuple[float, float]:
        """(JVM peak RSS, summed worker peak RSS) in MB."""
        jvm = self.peak_kb.get(self.jvm_pid, 0) / 1024.0
        rest = sum(v for p, v in self.peak_kb.items() if p != self.jvm_pid)
        return jvm, rest / 1024.0


class Tracer:
    """Records nested spans when enabled; a no-op context otherwise."""

    def __init__(self, enabled: bool, spark_counters=None, proc_counters=None):
        self.enabled = enabled
        self.spark = spark_counters
        self.proc = proc_counters
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _cpu(self) -> float:
        if self.proc is None:
            return 0.0
        s = self.proc.sample()
        return s["jvm_cpu_s"] + s["worker_cpu_s"]

    @contextmanager
    def span(self, name: str, request: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent].request
        lo = self.spark.watermark() if self.spark else -1
        sp = Span(name, 0.0, parent, request, lo, cpu0=self._cpu(), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sp.job_hi = self.spark.watermark() if self.spark else -1
            sp.cpu1 = self._cpu()

    def find(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.name == name]

    def totals(self, i: int) -> dict:
        """Job/stage/task/byte counters of span i's job-id range."""
        s = self.spans[i]
        if self.spark is None:
            return job_totals({}, s.job_lo, s.job_hi)
        return job_totals(self.spark.jobs(s.job_lo, s.job_hi), s.job_lo, s.job_hi)

    def dump(self, path: str) -> None:
        rows = []
        for i, s in enumerate(self.spans):
            d = asdict(s)
            d["id"] = i
            d["self_s"] = self_time(self.spans, i)
            d["counters"] = self.totals(i)
            rows.append(d)
        with open(path, "w") as fh:
            json.dump(rows, fh)
