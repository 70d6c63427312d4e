"""Tracing for the perfbench runs, all from outside the program.

* ``Tracer`` records a span around each call the benchmark makes into a
  layer's public function (name, start, end, parent, run id), keeps the
  spans in memory and writes them out at the end.  While a span is open
  on a thread, that thread's Spark job group is the span id, so Spark's
  event log can be rolled up per span.
* ``read_event_log`` / ``Rollup`` turn the Spark event log of a traced
  run into per-span task metrics: run and CPU time, GC, shuffle write,
  spill and the Python-worker metrics (``PythonSQLMetrics``).
* ``TimingStore`` wraps the crawl's state store, timing each write and
  measuring the bytes it leaves on disk.
* ``RssSampler`` samples the summed RSS of every process the benchmark
  started (the JVM and its Python workers).
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder.  Disabled, ``span`` only yields, so the untraced
    run pays nothing for it."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.sc = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []

    def attach(self, sc) -> None:
        """Label Spark jobs of ``sc`` from now on (None: stop labelling)."""
        self.sc = sc

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def group_id(self, span: Span) -> str:
        return f"{self.run_id}:{span.id}"

    def _label(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self.group_id(span), span.name)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        # a span opened on a helper thread (the crawl's checkpoint pool)
        # hangs under whatever the main thread has open
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            s = Span(len(self.spans), name, time.time(),
                     parent.id if parent else None, attrs=dict(attrs))
            self.spans.append(s)
        stack.append(s)
        self._label(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self._label(stack[-1] if stack else None)

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it its child spans cover."""
        return span.dur - union_length(
            [(c.start, c.end) for c in self.children(span)], span.start,
            span.end)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "run_id": self.run_id, "id": s.id, "name": s.name,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    "self_s": self.self_time(s), **s.attrs,
                }) + "\n")


def union_length(intervals: list[tuple[float, float]], lo: float,
                 hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


# -- Spark event log ---------------------------------------------------------

# task accumulables summed per task (internal metrics and SQL metrics)
_TASK_SUMS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_b",
    "internal.metrics.memoryBytesSpilled": "spill_mem_b",
    "internal.metrics.diskBytesSpilled": "spill_disk_b",
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "data sent to Python workers": "py_sent_b",
    "data returned from Python workers": "py_recv_b",
}


@dataclass
class Job:
    id: int
    submitted: float  # seconds
    group: str | None
    stages: list[int]
    tasks: list[dict] = field(default_factory=list)


def read_event_log(path: str) -> list[Job]:
    """Jobs with their tasks (each task: launch/finish seconds plus the
    ``_TASK_SUMS`` metrics) from an uncompressed Spark event log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    tasks: list[tuple[int, dict]] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(ev["Job ID"], ev["Submission Time"] / 1000.0,
                          props.get("spark.jobGroup.id"), ev["Stage IDs"])
                jobs[job.id] = job
                for st in job.stages:
                    # a stage runs in the first job that lists it; later
                    # jobs list it again as skipped
                    stage_job.setdefault(st, job.id)
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                t = {"stage": ev["Stage ID"],
                     "launch": info["Launch Time"] / 1000.0,
                     "finish": info["Finish Time"] / 1000.0}
                for k in _TASK_SUMS.values():
                    t[k] = 0.0
                for acc in info.get("Accumulables", []):
                    key = _TASK_SUMS.get(acc.get("Name"))
                    if key is not None:
                        t[key] += float(acc.get("Update") or 0)
                tasks.append((ev["Stage ID"], t))
    for stage, t in tasks:
        if stage in stage_job:
            jobs[stage_job[stage]].tasks.append(t)
    return sorted(jobs.values(), key=lambda j: j.id)


class Rollup:
    """Spark jobs attributed to spans: by job group where the span set
    one, else to the innermost span open when the job was submitted
    (jobs started inside ``get_spark``, before a context existed)."""

    def __init__(self, tracer: Tracer, jobs: list[Job]) -> None:
        self.tracer = tracer
        by_group = {tracer.group_id(s): s.id for s in tracer.spans}
        self.jobs_of: dict[int, list[Job]] = {}
        for job in jobs:
            sid = by_group.get(job.group) if job.group else None
            if sid is None:
                sid = self._innermost(job.submitted)
            if sid is not None:
                self.jobs_of.setdefault(sid, []).append(job)

    def _innermost(self, t: float) -> int | None:
        best = None
        for s in self.tracer.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best.id if best else None

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.tracer.children(s))
        return out

    def jobs(self, span: Span) -> list[Job]:
        """Jobs of the span and every span under it."""
        return [j for s in self.subtree(span) for j in self.jobs_of.get(s.id, [])]

    def tasks(self, span: Span) -> list[dict]:
        return [t for j in self.jobs(span) for t in j.tasks]

    def stages(self, span: Span) -> int:
        """Stages that ran tasks (skipped stages excluded)."""
        return len({t["stage"] for t in self.tasks(span)})

    def total(self, span: Span, key: str) -> float:
        return sum(t[key] for t in self.tasks(span))


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {names}")
    return os.path.join(log_dir, names[0])


# -- crawl state store ---------------------------------------------------------

class TimingStore:
    """A crawl state store that times its writes.  Every call is passed
    to ``inner``; ``write``/``rewrite``/``write_manifest`` are spans
    carrying the bytes the call left on disk."""

    def __init__(self, inner, tracer: Tracer) -> None:
        self._inner = inner
        self._tracer = tracer

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def _timed(self, name: str, path: str, call):
        with self._tracer.span(f"store.{name}") as s:
            call()
        if s is not None:
            s.attrs["bytes"] = tree_bytes(path)

    def write(self, df, round_no: int, name: str, mode: str = "overwrite"):
        self._timed("write", self._inner.path(round_no, name),
                    lambda: self._inner.write(df, round_no, name, mode=mode))

    def rewrite(self, df, round_no: int, name: str):
        self._timed("rewrite", self._inner.path(round_no, name),
                    lambda: self._inner.rewrite(df, round_no, name))

    def write_manifest(self, round_no: int, done: bool, snapshot=None,
                       horizon=None):
        self._timed("manifest", os.path.join(self._inner.root, "manifest.json"),
                    lambda: self._inner.write_manifest(
                        round_no, done, snapshot=snapshot, horizon=horizon))


def tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, names in os.walk(path) for n in names)


# -- memory --------------------------------------------------------------------

class RssSampler:
    """Peak summed RSS of this process's descendants, read from /proc."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_bytes = max(self.peak_bytes, self.sample())

    def sample(self) -> int:
        total = 0
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue  # exited while we looked
        return total


def descendants() -> list[int]:
    """Pids of every live descendant of this process."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may hold spaces; ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    mine, todo = [], [os.getpid()]
    while todo:
        found = kids.get(todo.pop(), [])
        mine.extend(found)
        todo.extend(found)
    return mine
