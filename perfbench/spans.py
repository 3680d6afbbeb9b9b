"""Spans around the program's public entry points, and Spark job
attribution read from Spark's own status store.

A span is (name, start, end, parent). Spans open on the main thread of
the Spark driver's Python process only; the tracer keeps them in memory
and derives metrics when the run ends. Each Spark job is attributed to the innermost span that
was open when the job was submitted (the job's ``submissionTime`` from
``statusStore``). Job groups and call sites are not used: the store's
commit thread pool drops the job-group property, and AQE submits its
stage jobs from a ``CompletableFuture``. Stage figures come from
``statusStore().lastStageAttempt``, which works with the UI disabled.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

import proctree


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: "Span | None" = None
    py_cpu0: float = 0.0
    py_cpu1: float = 0.0
    jobs: list = field(default_factory=list)  # JobStats attributed here

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class JobStats:
    job_id: int
    submitted: float
    stages: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0


class Tracer:
    """Records spans; ``enabled=False`` makes every span a no-op."""

    def __init__(self, spark, py_daemon_pid, enabled: bool = True):
        self.spark = spark
        self._daemon = py_daemon_pid  # callable → pid | None
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._main = threading.main_thread()
        self._patched: list[tuple[object, str, object]] = []
        self._next_job = 0
        self._status = spark.sparkContext._jsc.sc().statusStore()
        #: driver CPU spent opening and closing spans (the tracer's cost)
        self.overhead_cpu_s = 0.0

    def _py_cpu(self) -> float:
        pid = self._daemon()
        return proctree.tree_cpu_seconds(pid) if pid else 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled or threading.current_thread() is not self._main:
            yield None
            return
        c0 = time.process_time()
        s = Span(name, 0.0, parent=self._stack[-1] if self._stack else None)
        s.py_cpu0 = self._py_cpu()
        self.spans.append(s)
        self._stack.append(s)
        self.overhead_cpu_s += time.process_time() - c0
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            c0 = time.process_time()
            self._stack.pop()
            s.py_cpu1 = self._py_cpu()
            self.overhead_cpu_s += time.process_time() - c0

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until :meth:`close`."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapped(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- job attribution ---------------------------------------------------

    def collect_jobs(self) -> None:
        """Attribute every job submitted since the last call. Waits for
        running jobs (AQE may still be finishing async stage jobs)."""
        sc = self.spark.sparkContext
        deadline = time.time() + 30
        while sc.statusTracker().getActiveJobsIds() and time.time() < deadline:
            time.sleep(0.05)
        # the status store is fed asynchronously by the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        misses, job_id = 0, self._next_job
        while misses < 64:  # job ids can have gaps (jobs never posted)
            try:
                job = self._status.job(job_id)
            except Py4JJavaError:  # NoSuchElementException
                misses += 1
                job_id += 1
                continue
            misses = 0
            job_id += 1
            self._next_job = job_id
            sub = job.submissionTime()
            if sub.isEmpty():
                continue
            js = JobStats(job.jobId(), sub.get().getTime() / 1000.0)
            ids = job.stageIds()
            for i in range(ids.size()):
                try:
                    st = self._status.lastStageAttempt(ids.apply(i))
                except Py4JJavaError:  # skipped stage, never attempted
                    continue
                if st.numCompleteTasks() == 0:
                    continue
                js.stages += 1
                js.executor_cpu_s += st.executorCpuTime() / 1e9
                js.gc_s += st.jvmGcTime() / 1e3
                js.shuffle_write_mb += st.shuffleWriteBytes() / 2**20
            owner = self._innermost(js.submitted)
            if owner is not None:
                owner.jobs.append(js)

    def _innermost(self, t: float) -> Span | None:
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best

    # -- derived figures ---------------------------------------------------

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent is span]

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def self_time(self, span: Span) -> float:
        """Duration minus the part covered by direct child spans."""
        ivs = sorted((c.start, c.end) for c in self.children(span))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.dur - covered

    def jobs_in(self, span: Span) -> list[JobStats]:
        return [j for s in self.subtree(span) for j in s.jobs]

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]
