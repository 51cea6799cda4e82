"""Shared pieces of the benchmark: the run context, session set-up,
span tracing, Spark status-store readers and the process-tree RSS
sampler. Nothing here runs at import time."""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Percentile (q in 0..100) of a non-empty sample, interpolated
    linearly between order statistics, so it moves smoothly when two
    samples trade places."""
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


@dataclass
class Context:
    """What one benchmark run knows about itself."""

    root: str          # checkout root: holds bytewax_spark/ and __spark_entry__.py
    work: str          # working directory of this run, removed at exit
    seed: int
    seconds: float
    trace: bool
    cores: int
    tracer: "Tracer" = field(default=None)  # type: ignore[assignment]
    rss_exclude: "object" = field(default=lambda pid: None)  # keep a pid out of peak RSS
    t0: float = field(default_factory=time.perf_counter)
    smoke: bool = False  # tiny inputs, for the self-test

    def log(self, msg: str) -> None:
        """Progress line on stderr, stamped with seconds since start."""
        print(f"[perfbench {time.perf_counter() - self.t0:7.2f}s] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------- tracing

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str
    attrs: dict


class Tracer:
    """In-memory spans: name, start, end (epoch seconds, like Spark's own
    timestamps), parent and a trace id shared by every span of one flow
    run or trigger. ``span`` nests and is used from the main thread;
    ``add`` records a span measured elsewhere, from any thread. A
    disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0  # time spent recording spans

    @contextmanager
    def span(self, name: str, trace_id: str, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        sp = Span(name, time.time(), 0.0, self._stack[-1] if self._stack else None,
                  trace_id, dict(attrs))
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self.bookkeeping_s += time.perf_counter() - t_in
        try:
            yield sp
        finally:
            t_out = time.perf_counter()
            sp.end = time.time()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - t_out

    def add(self, name: str, start: float, end: float, trace_id: str,
            parent: int | None = None, **attrs) -> int:
        """Record a span measured elsewhere (e.g. a streaming phase)."""
        self.spans.append(Span(name, start, end, parent, trace_id, dict(attrs)))
        return len(self.spans) - 1

    def self_times(self, keep=lambda trace_id: True) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span's
        interval that its children cover, over spans whose trace id
        passes ``keep``."""
        children: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append((sp.start, sp.end))
        out: dict[str, float] = {}
        for i, sp in enumerate(self.spans):
            if not keep(sp.trace_id):
                continue
            covered = union_length(children.get(i, []), sp.start, sp.end)
            out[sp.name] = out.get(sp.name, 0.0) + (sp.end - sp.start) - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        doc = {
            "spans": [
                {"id": i, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "trace_id": s.trace_id, **s.attrs}
                for i, s in enumerate(self.spans)
            ],
            "self_s": self.self_times(),
            **extra,
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, default=str)


def union_length(intervals, lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Length of the union of [a, b) intervals, clipped to [lo, hi)."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# --------------------------------------------------------------- session

def start_session(app: str):
    """SparkSession with the engine's own defaults (``get_spark``); the
    first job warms the executor thread pool and code generation."""
    from bytewax_spark.session import get_spark

    spark = get_spark(app)
    spark.range(1).count()
    return spark


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    try:
        gw.shutdown()
    finally:
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


# ------------------------------------------------------ status store

_SIZE = re.compile(r"([0-9.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def _size_bytes(text: str) -> float:
    """Bytes from a SQL size metric string ('12.0 MiB' or the
    'total (min, med, max ...)\\n12.0 MiB (...)' form)."""
    m = _SIZE.search(text.splitlines()[-1] if "\n" in text else text)
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def _epoch_s(opt) -> float | None:
    """Seconds since the epoch from a Scala ``Option[java.util.Date]``."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusStore:
    """Reads Spark's own status store (the data behind the web UI, kept
    even with the UI off): jobs by job group, stage metrics, SQL metrics
    of Python exec nodes, and persisted RDDs."""

    PY_SENT = "data sent to Python workers"
    PY_RECV = "data returned from Python workers"

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, job_ids) -> list[dict]:
        """Metrics of every stage attempt run by the given jobs."""
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        from py4j.protocol import Py4JJavaError

        gw = self.sc._gateway
        out = []
        for sid in sorted(stage_ids):
            try:
                seq = self._store.stageData(sid, False, None, False, gw.new_array(gw.jvm.double, 0))
            except Py4JJavaError:  # stage no longer in the store
                continue
            for i in range(seq.size()):
                s = seq.apply(i)
                sub, done = _epoch_s(s.submissionTime()), _epoch_s(s.completionTime())
                if sub is None or done is None:
                    continue  # skipped stage: its output was reused
                out.append({
                    "stage": sid, "attempt": s.attemptId(), "tasks": s.numTasks(),
                    "submitted": sub, "completed": done,
                    "run_s": s.executorRunTime() / 1000.0,
                    "cpu_s": s.executorCpuTime() / 1e9,
                    "gc_s": s.jvmGcTime() / 1000.0,
                    "shuffle_read_mb": s.shuffleReadBytes() / MB,
                    "shuffle_write_mb": s.shuffleWriteBytes() / MB,
                    "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB,
                    "peak_exec_mem_mb": s.peakExecutionMemory() / MB,
                })
        return out

    def python_bytes(self, job_ids) -> tuple[float, float]:
        """(sent, received) MB through Python workers, summed over the SQL
        executions that ran any of the given jobs."""
        wanted = set(int(j) for j in job_ids)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        sent = recv = 0.0
        for i in range(execs.size()):
            ex = execs.apply(i)
            jobs_it = ex.jobs().keysIterator()
            ids = set()
            while jobs_it.hasNext():
                ids.add(int(jobs_it.next()))
            if not ids & wanted:
                continue
            names = {}
            it = ex.metrics().iterator()
            while it.hasNext():
                m = it.next()
                if m.name() in (self.PY_SENT, self.PY_RECV):
                    names[m.accumulatorId()] = m.name()
            if not names:
                continue
            values = sql.executionMetrics(ex.executionId())
            for acc, name in names.items():
                v = values.get(acc)
                if v.isDefined():
                    mb = _size_bytes(v.get()) / MB
                    if name == self.PY_SENT:
                        sent += mb
                    else:
                        recv += mb
        return sent, recv

    def persisted(self) -> tuple[int, float]:
        """(count, MB held in memory) of the RDDs now persisted."""
        ids = set(int(i) for i in self.sc._jsc.getPersistentRDDs().keys())
        mem = 0.0
        for info in self.sc._jsc.sc().getRDDStorageInfo():
            if int(info.id()) in ids:
                mem += info.memSize() / MB
        return len(ids), mem

    def unpersist_all(self) -> int:
        rdds = self.sc._jsc.getPersistentRDDs()
        n = 0
        for rid in list(rdds.keys()):
            rdds[rid].unpersist(True)
            n += 1
        return n


def stage_summary(stages: list[dict], cores: int) -> dict[str, float]:
    wall = sum(s["completed"] - s["submitted"] for s in stages)
    run = sum(s["run_s"] for s in stages)
    return {
        "exec.stages": float(len(stages)),
        "exec.tasks": float(sum(s["tasks"] for s in stages)),
        "exec.stage_wall_s": wall,
        "exec.run_s": run,
        "exec.cpu_s": sum(s["cpu_s"] for s in stages),
        "exec.gc_s": sum(s["gc_s"] for s in stages),
        "exec.core_util": run / (wall * cores) if wall > 0 else 0.0,
        "exec.shuffle_read_mb": sum(s["shuffle_read_mb"] for s in stages),
        "exec.shuffle_write_mb": sum(s["shuffle_write_mb"] for s in stages),
        "exec.spill_mb": sum(s["spill_mb"] for s in stages),
        "exec.peak_exec_mem_mb": max((s["peak_exec_mem_mb"] for s in stages), default=0.0),
    }


# ------------------------------------------------------------ RSS

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class RssSampler:
    """Samples the summed RSS of this process and its descendants (the
    driver JVM and the Python workers it forks), skipping excluded
    subtrees such as the load generator and processes younger than one
    sampling interval. Keeps the peak."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self.peak_parts: dict[str, int] = {}  # bytes by process name at the peak
        self.exclude: set[int] = set()
        self._seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss", daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        skip: set[int] = set()
        for p in self.exclude:
            skip.add(p)
            skip.update(descendants(p))
        # a child caught between fork and exec (the JVM shells out for
        # file permissions) still shows the JVM's whole RSS; counting
        # only processes seen one interval earlier leaves those out
        alive = {me, *descendants(me)} - skip
        parts: dict[str, int] = {}
        for p in alive & (self._seen | {me}):
            b = _rss_bytes(p)
            if b:
                name = _comm(p)
                parts[name] = parts.get(name, 0) + b
        self._seen = alive
        total = sum(parts.values())
        if total > self.peak_bytes:
            self.peak_bytes, self.peak_parts = total, parts

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / MB
