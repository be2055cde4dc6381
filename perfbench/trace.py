"""Tracing for the benchmark's traced run, measured from outside the program.

Spans are recorded around calls into each layer's public functions and kept
in memory until the run ends. Work counters come from Spark's status store,
read after each traced iteration (outside the timed region) for the jobs
each phase submitted, and from a ``StreamingQueryListener`` the benchmark
registers itself.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

# Status-store StageData fields summed per phase: metric -> (getter, scale).
_STAGE_FIELDS = {
    "tasks": ("numCompleteTasks", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "jvm_gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "memory_spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
    "failed_tasks": ("numFailedTasks", 1),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
}


class _Progress(StreamingQueryListener):
    """Appends (kind, query id, batch ms, input rows, state rows) tuples."""

    def __init__(self) -> None:
        self.events: list[tuple] = []
        self._lock = threading.Lock()

    def _add(self, event: tuple) -> None:
        with self._lock:
            self.events.append(event)

    def onQueryStarted(self, event) -> None:
        self._add(("started", str(event.id), 0, 0, 0))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        state = sum(op.numRowsTotal for op in p.stateOperators)
        self._add(("progress", str(p.id), p.batchDuration, p.numInputRows, state))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self, start: int) -> tuple[list[tuple], int]:
        with self._lock:
            return self.events[start:], len(self.events)


class Tracer:
    """Spans and per-iteration counters of one traced run."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.iteration = 0
        self.phases: list[tuple[str, str, range]] = []  # (op, phase, job ids) this iteration
        self.per_iter: list[dict] = []
        self.listener = _Progress()
        self._seen = 0
        self._listened: set[int] = set()
        self._t0 = time.perf_counter()

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str, parent: str | None = None):
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self.spans.append(
                {
                    "iteration": self.iteration,
                    "name": name,
                    "parent": parent,
                    "start_s": start - self._t0,
                    "end_s": end - self._t0,
                }
            )

    @contextmanager
    def phase(self, op: str, phase: str):
        """A span that also records the ids of the Spark jobs submitted while
        it is open. The loop is closed with one client, so those are exactly
        the phase's jobs, streaming micro-batch jobs included (they run under
        their query's own job group, not the caller's)."""
        first = self._next_job_id()
        try:
            with self.span(f"{op}.{phase}", parent=op):
                yield
        finally:
            self.phases.append((op, phase, range(first, self._next_job_id())))

    def _next_job_id(self) -> int:
        return self.sc._jsc.sc().dagScheduler().nextJobId()

    # -- streaming --------------------------------------------------------
    def listen(self, sessions) -> None:
        """Register the progress listener on each session not yet covered;
        listener events are scoped to the session that started the query."""
        for sess in sessions:
            if id(sess) not in self._listened:
                sess.streams.addListener(self.listener)
                self._listened.add(id(sess))

    # -- counters ---------------------------------------------------------
    def _job_counters(self, jobs: range) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out = {"jobs": float(len(jobs)), **{k: 0.0 for k in _STAGE_FIELDS}}
        for sid in stages:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # stage evicted from the store: count nothing
                continue
            for key, (getter, scale) in _STAGE_FIELDS.items():
                out[key] += getattr(sd, getter)() * scale
        return out

    def end_iteration(self, wall: float, traced: bool, **extra) -> None:
        """Drain the listener bus, then (for traced iterations) read the jobs
        of every phase of the iteration and the streaming events it produced."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        events, self._seen = self.listener.take(self._seen)
        if traced:
            spans: dict[str, float] = defaultdict(float)
            for s in self.spans:
                if s["iteration"] == self.iteration:
                    spans[s["name"]] += s["end_s"] - s["start_s"]
            counters = {
                f"{op}:{phase}": self._job_counters(jobs) for op, phase, jobs in self.phases
            }
            self.per_iter.append(
                {"wall": wall, "spans": dict(spans), "phases": counters,
                 "stream": events, **extra}
            )
        self.phases = []
        self.iteration += 1

    # -- summaries ----------------------------------------------------------
    def median(self, fn) -> float:
        """Median over traced iterations of ``fn(iteration_record)``."""
        return statistics.median(fn(it) for it in self.per_iter)

    def counter_sum(self, it: dict, key: str, phase: str | None = None) -> float:
        return sum(
            c.get(key, 0.0)
            for g, c in it["phases"].items()
            if phase is None or g.endswith(":" + phase)
        )

    def streaming_metrics(self) -> dict[str, float]:
        per_iter = []
        batch_ms: list[float] = []
        for it in self.per_iter:
            started = sum(1 for e in it["stream"] if e[0] == "started")
            prog = [e for e in it["stream"] if e[0] == "progress"]
            last_state: dict[str, int] = {}
            for e in prog:
                last_state[e[1]] = e[4]
            batch_ms.extend(e[2] for e in prog)
            per_iter.append(
                (started, len(prog), sum(e[3] for e in prog), sum(last_state.values()))
            )
        if not batch_ms:
            batch_ms = [0.0]
        med = lambda i: float(statistics.median(p[i] for p in per_iter))  # noqa: E731
        return {
            "streaming.queries_started": med(0),
            "streaming.batches": med(1),
            "streaming.batch_p50_ms": float(statistics.median(batch_ms)),
            "streaming.batch_max_ms": float(max(batch_ms)),
            "streaming.input_rows": med(2),
            "streaming.state_rows": med(3),
        }

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "iterations": self.per_iter}, fh)


def counter_totals(tracer: Tracer, it: dict) -> dict[str, float]:
    """Per-iteration status-store totals over every phase."""
    out = {key: tracer.counter_sum(it, key) for key in ("jobs", *_STAGE_FIELDS)}
    out["spill_bytes"] = out.pop("memory_spill_bytes") + out.pop("disk_spill_bytes")
    return out
