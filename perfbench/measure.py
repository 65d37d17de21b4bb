"""Measurement helpers: percentiles, host CPU deltas, peak memory, the
streaming progress log, spans and the Spark status store.

Nothing here changes what the engine does. Spans are recorded around the
benchmark's own calls into the engine, and by wrapping a few public
engine functions for the duration of a traced phase only.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import threading
import time

TAIL_BEYOND = 10


def p50(values) -> float:
    return float(statistics.median(values))


def tail(values) -> tuple[float, float, int]:
    """``(value, percentile, n)``: the highest percentile that has at least
    ten samples beyond it. Below 20 samples no percentile at or above the
    median has ten beyond it, so the maximum is reported as percentile
    100."""
    xs = sorted(values)
    n = len(xs)
    if n < 2 * TAIL_BEYOND:
        return float(xs[-1]), 100.0, n
    k = n - 1 - TAIL_BEYOND  # index with exactly ten samples after it
    return float(xs[k]), 100.0 * (k + 1) / n, n


def union_length(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of it its children cover (each
    child clipped to the span; overlapping children counted once)."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length([c for c in clipped if c[1] > c[0]])


# ---------------------------------------------------------------------------
# Host
# ---------------------------------------------------------------------------


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user nice system idle
    iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """Steal and busy shares of all CPU time between two samples."""
    d = [a - b for a, b in zip(after, before)]
    total = sum(d) or 1
    return {
        "steal_share": d[7] / total,
        "busy_share": (total - d[3] - d[4]) / total,
    }


class RssSampler:
    """Peak resident memory of a process tree, sampled every 0.2 s on a
    daemon thread (the JVM and the Python workers it forks)."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.root_pid = root_pid
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [self.root_pid]
        while todo:
            pid = todo.pop()
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
            todo.extend(children.get(pid, ()))
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------


def progress_listener_class():
    """A StreamingQueryListener subclass that keeps every progress event as
    a dict (built lazily so importing this module needs no pyspark)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []
            self.started: set[str] = set()
            self.terminated: set[str] = set()
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            with self._lock:
                self.started.add(str(event.id))

        def onQueryProgress(self, event):
            with self._lock:
                self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._lock:
                self.terminated.add(str(event.id))

        def drain(self, timeout: float = 30.0) -> list[dict]:
            """Wait until every started query has reported termination,
            then hand over (and forget) the progress events so far."""
            deadline = time.monotonic() + timeout
            while time.monotonic() < deadline:
                with self._lock:
                    if self.started <= self.terminated:
                        break
                time.sleep(0.02)
            with self._lock:
                out, self.events = self.events, []
                self.started.clear()
                self.terminated.clear()
            return out

    return ProgressLog


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent, trace id (epoch seconds).

    A span opened with no parent on its thread starts a new trace; its
    descendants share the trace id. ``patch`` wraps a module or class
    attribute so each call becomes a span; ``restore`` undoes every
    patch."""

    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def add(self, name, start, end, parent=None, trace=None, **attrs) -> int:
        sid = next(self._ids)
        with self._lock:
            self.spans.append({
                "id": sid, "parent": parent, "trace": trace or sid,
                "name": name, "start": start, "end": end, **attrs,
            })
        return sid

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        trace = parent[1] if parent else sid
        stack.append((sid, trace))
        start = time.time()
        try:
            yield sid
        finally:
            stack.pop()
            with self._lock:
                self.spans.append({
                    "id": sid, "parent": parent[0] if parent else None,
                    "trace": trace, "name": name, "start": start,
                    "end": time.time(), **attrs,
                })

    def patch(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        traced.__wrapped__ = original
        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def named(self, name: str, since: float = 0.0) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["start"] >= since]


# ---------------------------------------------------------------------------
# Spark status store (read from outside the engine)
# ---------------------------------------------------------------------------


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def stages_after(spark, after_id: int) -> list[dict]:
    """Completed stages with id > ``after_id`` from the live status store.
    All five ``stageList`` arguments are passed: py4j cannot see Scala
    defaults."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sparkContext().statusStore()
    seq = store.stageList(None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)
    out = []
    for i in range(seq.size()):
        st = seq.apply(i)
        sid = st.stageId()
        if sid <= after_id:
            continue
        start, end = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
        if start is None or end is None:
            continue
        out.append({
            "name": "stage", "stage_id": sid, "start": start, "end": end,
            "tasks": st.numTasks(),
            "run_s": st.executorRunTime() / 1e3,
            "cpu_s": st.executorCpuTime() / 1e9,
            "gc_s": st.jvmGcTime() / 1e3,
            "shuffle_read_bytes": st.shuffleReadBytes(),
            "shuffle_write_bytes": st.shuffleWriteBytes(),
            "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
        })
    return out


def jobs_after(spark, after_id: int) -> list[dict]:
    """Finished jobs with id > ``after_id``, with their job group."""
    store = spark._jsparkSession.sparkContext().statusStore()
    seq = store.jobsList(None)
    out = []
    for i in range(seq.size()):
        jd = seq.apply(i)
        jid = jd.jobId()
        if jid <= after_id:
            continue
        start, end = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
        if start is None or end is None:
            continue
        group = jd.jobGroup()
        out.append({
            "name": "job", "job_id": jid, "start": start, "end": end,
            "group": group.get() if group.isDefined() else None,
        })
    return out


class StatusCursor:
    """Hands out the stages and jobs finished since the previous call."""

    def __init__(self, spark):
        self.stage = self.job = -1
        self.take(spark)

    def take(self, spark) -> tuple[list[dict], list[dict]]:
        stages = stages_after(spark, self.stage)
        jobs = jobs_after(spark, self.job)
        self.stage = max([self.stage] + [s["stage_id"] for s in stages])
        self.job = max([self.job] + [j["job_id"] for j in jobs])
        return stages, jobs
