"""In-memory span tracer for the benchmark's traced run.

Spans are recorded by the benchmark around its calls into the engine's
modules; nothing inside ``spotify_tracks_spark`` is instrumented.  A span
has a name, a start, an end and a parent; its self time is its duration
minus the part of it covered by its children.  A span opened with
``jobs=True`` tags the Spark jobs it launches with its own job group
(``SparkContext.setJobGroup``) and reads them back through
``statusTracker()`` when it closes.  Structured-streaming queries run their
micro-batch jobs under the query's run id as job group, so a listener
collects the run ids of queries started inside a tagged span and those
groups are read back too.

Per-layer values are aggregated per *unit* (a rebuild, an ingest
micro-batch, a corpus pass): self times and counts are summed within a
unit, and the reported value is the median over the timed units.

With ``enabled=False`` every method is a no-op, so the untraced run pays
nothing but a function call per span.
"""

from __future__ import annotations

import contextlib
import statistics
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    unit: int = -1
    counts: dict[str, float] = field(default_factory=dict)


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.unit = -1  # below 0: set-up, warm-up or an extra pass; timed units count from 0
        self._local = threading.local()
        self._lock = threading.Lock()  # spans and bookkeeping from pool threads
        self._main_stack: list[int] = []
        self._sc = None
        self._listener = None
        self._stream_runs: list[str] = []
        self._n_groups = 0
        self.bookkeeping_s: dict[int, float] = {}
        self._unit_counts: dict[str, dict[int, float]] = {}

    # -- Spark hookup -------------------------------------------------------

    def attach(self, spark) -> None:
        """Start reading job groups back from ``spark`` (traced run only)."""
        if not self.enabled:
            return
        from pyspark.sql.streaming import StreamingQueryListener

        runs = self._stream_runs

        class _RunIds(StreamingQueryListener):
            def onQueryStarted(self, event):
                runs.append(str(event.runId))

            def onQueryProgress(self, event):
                pass

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _RunIds()
        spark.streams.addListener(self._listener)
        self._sc = spark.sparkContext

    def detach(self, spark) -> None:
        """Unregister the listener ``attach`` added; call before the
        session stops."""
        if self._listener is not None:
            spark.streams.removeListener(self._listener)
            self._listener = None

    # -- spans --------------------------------------------------------------

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = False):
        if not self.enabled:
            yield None
            return
        t_book = time.perf_counter()
        stack = self._stack()
        # a worker thread's first span hangs under the main thread's
        # innermost open span (publish ships its payloads on a thread pool)
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        span = Span(name, 0.0, parent=parent, unit=self.unit)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(span)
        stack.append(idx)
        group = prev_group = None
        n_runs = len(self._stream_runs)
        if jobs and self._sc is not None:
            self._n_groups += 1
            group = f"perfbench-{self._n_groups}-{name}"
            prev_group = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setJobGroup(group, name)
        self._book(time.perf_counter() - t_book)
        span.start = time.perf_counter()
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            t_book = time.perf_counter()
            stack.pop()
            if group is not None:
                if prev_group is None:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
                else:
                    self._sc.setJobGroup(prev_group, "")
                self._read_jobs(span, [group, *self._stream_runs[n_runs:]])
            self._book(time.perf_counter() - t_book)

    def unit_count(self, name: str, value: float) -> None:
        """A count that belongs to the current unit rather than to a span
        (files written, payloads sent)."""
        if not self.enabled:
            return
        by_unit = self._unit_counts.setdefault(name, {})
        by_unit[self.unit] = by_unit.get(self.unit, 0.0) + value

    def record(self, name: str, seconds: float) -> None:
        """Record a span that was timed elsewhere (e.g. session start)."""
        if not self.enabled:
            return
        end = time.perf_counter()
        self.spans.append(Span(name, end - seconds, end, None, self.unit))

    @contextlib.contextmanager
    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` by a spanned wrapper for the duration —
        used for layers the engine calls internally (e.g. the sources
        mapping inside ``run_models``), so the benchmark's own code still
        does the timing."""
        if not self.enabled:
            yield
            return
        orig = getattr(module, attr)

        def spanned(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, spanned)
        try:
            yield
        finally:
            setattr(module, attr, orig)

    def _read_jobs(self, span: Span, groups: list[str]) -> None:
        st = self._sc.statusTracker()
        jobs = tasks = failed = 0
        for g in groups:
            for job_id in st.getJobIdsForGroup(g):
                jobs += 1
                info = st.getJobInfo(job_id)
                if info is None:
                    continue
                for stage_id in info.stageIds:
                    stage = st.getStageInfo(stage_id)
                    if stage is not None:
                        tasks += stage.numTasks
                        failed += stage.numFailedTasks
        span.counts.update(jobs=jobs, tasks=tasks, failed_tasks=failed)

    def _book(self, seconds: float) -> None:
        with self._lock:
            self.bookkeeping_s[self.unit] = self.bookkeeping_s.get(self.unit, 0.0) + seconds

    # -- aggregation --------------------------------------------------------

    def self_times(self) -> list[float]:
        """Self time of every span: duration minus the union of its
        children's intervals (children may overlap when they ran on
        worker threads)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        out = []
        for i, s in enumerate(self.spans):
            covered, cur_end = 0.0, s.start
            for a, b in sorted(children.get(i, [])):
                a, b = max(a, cur_end), min(b, s.end)
                if b > a:
                    covered += b - a
                    cur_end = b
            out.append((s.end - s.start) - covered)
        return out

    def per_layer(self) -> dict[str, float]:
        """``<span>_s`` = median, over the timed units the span ran in, of
        its summed self time; ``<span>.<count>`` likewise for its counts.
        Spans that ran only outside timed units (session start, an extra
        pass) report their total."""
        per_unit: dict[str, dict[int, float]] = {}
        units = sorted({s.unit for s in self.spans if s.unit >= 0})

        def add(key: str, unit: int, v: float) -> None:
            by_unit = per_unit.setdefault(key, {})
            by_unit[unit] = by_unit.get(unit, 0.0) + v

        for s, self_s in zip(self.spans, self.self_times()):
            add(f"{s.name}_s", s.unit, self_s)
            for k, v in s.counts.items():
                add(f"{s.name}.{k}", s.unit, v)
        for key, by_unit in self._unit_counts.items():
            for unit, v in by_unit.items():
                add(key, unit, v)
        out = {}
        for key, by_unit in per_unit.items():
            timed = [v for u, v in by_unit.items() if u >= 0]
            out[key] = statistics.median(timed) if timed else sum(by_unit.values())
        if units:
            out["trace.bookkeeping_s"] = statistics.median(
                self.bookkeeping_s.get(u, 0.0) for u in units
            )
        return out

    def dump(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "unit": s.unit,
                "self_s": self_s,
                **({"counts": s.counts} if s.counts else {}),
            }
            for s, self_s in zip(self.spans, self.self_times())
        ]
