"""Spans and counters recorded from the benchmark around calls into the
engine's layers.

A span records name, start, end, parent and the id of the operation
(one upload, request or query) it belongs to. Spans are kept in memory
and summarized when the run ends. Counters attach to spans:

- jobs, stages, tasks and stage metrics (run/CPU time, shuffle bytes,
  spill, peak execution memory) come from Spark's own status store, via
  a job group that is unique to the span, so the count is exact even
  after the store has evicted old jobs;
- py4j calls are counted by wrapping the gateway client's
  ``send_command``; calls the tracer makes itself and py4j's own
  proxy garbage collection are not counted;
- Python-worker CPU is read from ``/proc`` for the JVM's Python
  descendants (the ``pyspark.daemon`` and its forked workers).

The tracer's own work (job-group switches, status-store reads, /proc
reads) is timed as bookkeeping, kept outside every span's start/end,
and reported so the tracing overhead is visible.

``NullTracer`` has the same interface and records nothing; the timed
(untraced) runs use it.
"""

from __future__ import annotations

import contextlib
import glob
import os
import time
from dataclasses import dataclass, field

_CLK = os.sysconf("SC_CLK_TCK")

EXEC_FIELDS = ("jobs", "stages", "tasks", "run_s", "cpu_s", "shuffle_read_bytes",
               "shuffle_write_bytes", "spill_bytes", "peak_mem_bytes")


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (all threads' children lists)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for f in glob.glob(f"/proc/{p}/task/*/children"):
            try:
                with open(f) as fh:
                    kids = [int(k) for k in fh.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def python_workers(jvm_pid: int) -> list[int]:
    return [p for p in descendants(jvm_pid) if _comm(p).startswith("python")]


def cpu_s(pid: int) -> float:
    """utime+stime of one process and its reaped children, in seconds."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(f) for f in fields[11:15]) / _CLK


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process in MB; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


class RssWatch:
    """Peak RSS of the driver Python, the JVM and the Python workers:
    the sum of each process's high-water mark, sampled at operation
    boundaries so workers that exit later still count."""

    def __init__(self, spark):
        self.jvm = jvm_pid(spark)
        self.worker_peak: dict[int, float] = {}

    def sample(self) -> None:
        for p in python_workers(self.jvm):
            self.worker_peak[p] = max(self.worker_peak.get(p, 0.0), hwm_mb(p))

    def peak_mb(self) -> float:
        self.sample()
        return hwm_mb(os.getpid()) + hwm_mb(self.jvm) + sum(self.worker_peak.values())


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, frame=None):
        yield None


@dataclass
class Span:
    id: int
    name: str
    op: str | None
    parent: int | None
    start: float = 0.0
    end: float = 0.0
    own_bk: float = 0.0  # this span's own bookkeeping, outside [start, end]
    child_cover: float = 0.0  # children's duration + their bookkeeping
    py4j: int = 0
    python_cpu_s: float = 0.0
    exec: dict = field(default_factory=dict)  # EXEC_FIELDS, children included
    catalyst: dict = field(default_factory=dict)
    frame: object = None  # DataFrame whose QueryExecution phases to read

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_cover


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = jvm_pid(spark)
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.cache_bytes_max = 0
        self._seen_stages: set[int] = set()
        self._py4j = 0
        self._counting = True
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted(command, *args, **kwargs):
            # memory commands are py4j's garbage collection of proxies,
            # timed by the Python GC rather than by the program
            if self._counting and not command.startswith("m\n"):
                self._py4j += 1
            return send(command, *args, **kwargs)

        client.send_command = counted
        self._client, self._send = client, send
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def close(self) -> None:
        self._client.send_command = self._send

    def job_coverage(self) -> tuple[int, int]:
        """(jobs counted by root spans, jobs the status store holds):
        equal when every job ran inside a span and none was evicted."""
        self._bus.waitUntilEmpty()
        spanned = sum(s.exec.get("jobs", 0) for s in self.spans if s.parent is None)
        return spanned, self._store.jobsList(None).size()

    # -- bookkeeping helpers (not counted as the program's py4j calls) --
    def _python_cpu(self) -> float:
        return sum(cpu_s(p) for p in python_workers(self.jvm))

    def _group(self, span: Span | None) -> None:
        if span is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(f"perfbench-{span.id}", span.name)

    def _exec_counters(self, span: Span) -> dict:
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(EXEC_FIELDS, 0)
        tracker = self.sc.statusTracker()
        for job in tracker.getJobIdsForGroup(f"perfbench-{span.id}"):
            out["jobs"] += 1
            info = tracker.getJobInfo(job)
            for sid in (info.stageIds if info else []):
                if sid in self._seen_stages:
                    continue  # a stage reused by a later job counts once
                sd = self._store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue
                self._seen_stages.add(sid)
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["run_s"] += sd.executorRunTime() / 1e3
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["peak_mem_bytes"] = max(out["peak_mem_bytes"], sd.peakExecutionMemory())
        return out

    def _catalyst(self, frame) -> dict:
        phases = frame._jdf.queryExecution().tracker().phases()
        out = {}
        for k in ("analysis", "optimization", "planning"):
            opt = phases.get(k)
            out[k] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
        return out

    def _cache_bytes(self) -> int:
        return sum(i.memSize() + i.diskSize() for i in self.sc._jsc.sc().getRDDStorageInfo())

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, frame=None):
        """``op`` defaults to the parent's; ``frame``: a DataFrame whose
        Catalyst phase times belong to this span."""
        b0 = time.perf_counter()
        self._counting = False
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, op if op is not None else (parent.op if parent else None),
                  parent.id if parent else None, frame=frame)
        self.spans.append(sp)
        self._stack.append(sp)
        self._group(sp)
        cpu0 = self._python_cpu()
        py0 = self._py4j
        self._counting = True
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._counting = False
            sp.py4j = self._py4j - py0
            sp.python_cpu_s = self._python_cpu() - cpu0
            own = self._exec_counters(sp)
            # jobs of children ran under the children's groups
            kids = [s for s in self.spans[sp.id + 1:] if s.parent == sp.id]
            for k in EXEC_FIELDS:
                vals = [own[k]] + [c.exec.get(k, 0) for c in kids]
                sp.exec[k] = max(vals) if k == "peak_mem_bytes" else sum(vals)
            if sp.frame is not None:
                sp.catalyst = self._catalyst(sp.frame)
                sp.frame = None
            if parent is None:
                self.cache_bytes_max = max(self.cache_bytes_max, self._cache_bytes())
            self._stack.pop()
            self._group(parent)
            self._counting = True
            b1 = time.perf_counter()
            sp.own_bk = (sp.start - b0) + (b1 - sp.end)
            if parent is not None:
                parent.child_cover += sp.dur + sp.own_bk

    def dump(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "op": s.op, "parent": s.parent,
             "start": s.start, "end": s.end, "self_s": s.self_s,
             "py4j": s.py4j, "python_cpu_s": s.python_cpu_s, **s.exec,
             **{f"catalyst_{k}_s": v for k, v in s.catalyst.items()}}
            for s in self.spans
        ]
