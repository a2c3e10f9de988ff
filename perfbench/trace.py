"""Measurement from outside the program: spans around calls into each
layer, Spark status-store deltas attached to them, and a sampled RSS of
the JVM plus its Python workers.

Spans and counters live in memory and are written once, when the run ends.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from contextlib import contextmanager
from typing import Optional

MB = 1024 * 1024

#: status-store counters summed per span; ``*_mb`` in MiB, ``*_s`` in seconds
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "scan_tasks",
    "run_s",
    "cpu_s",
    "gc_s",
    "input_mb",
    "output_mb",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
)


class StatusReader:
    """Reads finished jobs and their stages from Spark's in-process
    ``AppStatusStore`` (kept with ``spark.ui.enabled=false``). Job ids are
    sequential, so each read walks the ids handed out since the previous one."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._next_job = 0
        self.skip()

    def _job(self, job_id: int):
        from py4j.protocol import Py4JJavaError

        try:
            return self._store.job(job_id)
        except Py4JJavaError:
            return None

    def skip(self) -> None:
        """Forget every job submitted so far."""
        self._bus.waitUntilEmpty()
        while self._job(self._next_job) is not None:
            self._next_job += 1

    def read(self, since_epoch_s: float) -> dict:
        """Counters of the jobs submitted since the last read, counting only
        stages submitted after ``since_epoch_s`` (a stage reused from an
        earlier job is listed again but did no new work)."""
        self._bus.waitUntilEmpty()
        out: dict = dict.fromkeys(COUNTERS, 0.0)
        out["submits"] = []
        since_ms = since_epoch_s * 1000.0 - 1.0
        while True:
            job = self._job(self._next_job)
            if job is None:
                break
            self._next_job += 1
            out["jobs"] += 1
            if job.submissionTime().isDefined():
                out["submits"].append(job.submissionTime().get().getTime() / 1000.0)
            ids = job.stageIds()
            for i in range(ids.size()):
                sd = self._store.lastStageAttempt(ids.apply(i))
                sub = sd.submissionTime()
                if sd.status().toString() == "SKIPPED" or not sub.isDefined():
                    continue
                if sub.get().getTime() < since_ms:
                    continue
                out["stages"] += 1
                tasks = sd.numCompleteTasks() + sd.numFailedTasks()
                out["tasks"] += tasks
                in_b = sd.inputBytes()
                if in_b > 0:
                    out["scan_tasks"] += tasks
                out["run_s"] += sd.executorRunTime() / 1000.0
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1000.0
                out["input_mb"] += in_b / MB
                out["output_mb"] += sd.outputBytes() / MB
                out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                out["spill_mb"] += sd.diskBytesSpilled() / MB
        return out

    def cached_mb(self) -> float:
        """Bytes held by persisted RDDs right now (memory plus disk)."""
        rdds = self._store.rddList(True)
        return sum(
            (rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed()) / MB
            for i in range(rdds.size())
        )


class Tracer:
    """Span recorder. Disabled, it only times the outermost calls the
    end-to-end metrics need; enabled, it records every span and attaches
    status-store deltas to the spans given ``status=True``."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.reader = StatusReader(spark) if spark is not None else None

    @contextmanager
    def span(self, name: str, kind: str, status: bool = False, **attrs):
        """Record ``name`` from entry to exit. ``attrs['job']`` groups the
        spans of one job; the parent is the innermost open span on the
        calling thread, or ``parent=`` for a span opened on a thread the
        caller started (a sink thread)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = attrs.pop("parent", None) or (stack[-1] if stack else None)
        with self._lock:
            sid = next(self._ids)
        rec = {"id": sid, "parent": parent, "name": name, "kind": kind, **attrs}
        stack.append(sid)
        status = status and self.reader is not None
        if status:
            self.reader.skip()
        rec["start_epoch_s"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            stack.pop()
            if status:
                rec["status"] = self.reader.read(rec["start_epoch_s"])
            with self._lock:
                self.spans.append(rec)

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Optional[int]:
        stack = self._stack()
        return stack[-1] if stack else None


def _parents() -> dict[int, int]:
    """ppid of every process visible in /proc."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        out[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int, parents: Optional[dict[int, int]] = None) -> list[int]:
    parents = _parents() if parents is None else parents
    found, frontier = [], [pid]
    while frontier:
        cur = frontier.pop()
        kids = [p for p, pp in parents.items() if pp == cur]
        found.extend(kids)
        frontier.extend(kids)
    return found


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except OSError:
        return False


def _proc_mb(pid: int, name: str, key: str) -> float:
    """The ``key:`` line, in MiB, of ``/proc/<pid>/<name>``; 0 if gone."""
    try:
        with open(f"/proc/{pid}/{name}") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


class RssSampler:
    """Peak memory of the Spark JVM and its Python workers: the JVM's own
    peak RSS (the kernel's VmHWM, so a spike between two samples still
    counts) plus the proportional set size (PSS) of the Python processes
    below it, sampled every ``interval`` seconds. PSS splits the pages a
    forked worker shares with its daemon; summed RSS would count them once
    per worker. Only this process's ``java`` child and ``python*``
    descendants count: a child the JVM is spawning shares the JVM's memory
    until it execs. The two parts are kept too, for labels."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_mb = 0.0
        self.jvm_peak_mb = 0.0
        self.workers_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            jvm = workers = 0.0
            parents = _parents()
            for p in descendants(me, parents):
                comm = _comm(p)
                if comm == "java" and parents[p] == me:
                    jvm += _proc_mb(p, "status", "VmHWM")
                elif comm.startswith("python"):
                    workers += _proc_mb(p, "smaps_rollup", "Pss")
            self.peak_mb = max(self.peak_mb, jvm + workers)
            self.jvm_peak_mb = max(self.jvm_peak_mb, jvm)
            self.workers_peak_mb = max(self.workers_peak_mb, workers)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (the ``cpu`` line of ``/proc/stat``:
    user, nice, system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time between two ``cpu_ticks`` readings that the
    hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d[:8]) if sum(d[:8]) else 0.0


def other_spark_jvms() -> list[int]:
    """Pids of Spark JVMs (spark-submit) not started by this process."""
    mine = set(descendants(os.getpid()))
    found = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit() or int(entry) in mine:
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd and b"java" in cmd:
            found.append(int(entry))
    return found
