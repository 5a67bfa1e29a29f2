"""Per-layer tracing from the benchmark's side of each layer call.

A span wraps one call into the engine. It tags the call's Spark jobs
with a job group; streaming queries run their jobs under their own run
id as the group, so a ``StreamingQueryListener`` records which queries
started inside the span, and their per-batch progress. Counters are
read from Spark's status store only when the run ends, so nothing is
looked up while a timed operation runs. Spans stay in memory and are
written out once.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import threading
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

COUNTERS = (
    "wall_ms", "jobs", "stages", "tasks", "task_ms", "slot_busy",
    "shuffle_write_bytes", "shuffle_read_bytes", "input_bytes",
    "output_bytes",
)


@dataclass
class Span:
    name: str
    phase: str  # setup | warmup | timed
    group: str
    start: float
    op: int | None = None  # index of the timed operation, if any
    end: float = 0.0
    stream_runs: list[str] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)


class _Progress(StreamingQueryListener):
    """Collects streaming query starts and per-batch progress."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.started: list[str] = []
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        with self.lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators
        with self.lock:
            self.progress.append({
                "run_id": str(p.runId),
                "batch_id": p.batchId,
                "rows": p.numInputRows,
                "trigger_ms": p.durationMs.get("triggerExecution", 0),
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_bytes": sum(o.memoryUsedBytes for o in ops),
                "late_dropped": sum(o.numRowsDroppedByWatermark for o in ops),
            })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    """Records spans while ``active``; otherwise every span is a no-op,
    which is how the untraced end-to-end runs measure. A traced run
    switches ``active`` off for every other operation, so it measures
    its own tracing overhead against untraced operations."""

    def __init__(self, spark, cores: int, enabled: bool) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op: int | None = None  # set by the loop around each operation
        self.listener = _Progress()
        self._attached = False
        self.active = enabled

    @property
    def active(self) -> bool:
        return self._attached

    @active.setter
    def active(self, on: bool) -> None:
        on = on and self.enabled
        if on and not self._attached:
            self.spark.streams.addListener(self.listener)
        elif self._attached and not on:
            self._drain_listener_bus()
            self.spark.streams.removeListener(self.listener)
        self._attached = on

    @contextlib.contextmanager
    def span(self, name: str, phase: str):
        if not self._attached:
            yield
            return
        s = Span(name, phase, f"perfbench-{len(self.spans)}",
                 time.perf_counter(), self.op)
        n_started = len(self.listener.started)
        self.sc.setJobGroup(s.group, name)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self.listener.lock:
                s.stream_runs = self.listener.started[n_started:]
            self.spans.append(s)

    def record(self, name: str, phase: str, start: float, end: float) -> None:
        """A span timed by the caller around work that runs no Spark
        job (session start)."""
        if self._attached:
            self.spans.append(Span(name, phase, "", start, end=end))

    def _drain_listener_bus(self) -> None:
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # private API; fall back to a short grace wait
            time.sleep(2.0)

    def resolve(self) -> None:
        """Fill every span's counters from the status store."""
        if not self.enabled:
            return
        self._drain_listener_bus()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for s in self.spans:
            c = dict.fromkeys(COUNTERS, 0.0)
            c["wall_ms"] = (s.end - s.start) * 1000.0
            groups = ([s.group] if s.group else []) + s.stream_runs
            for g in groups:
                for jid in tracker.getJobIdsForGroup(g):
                    c["jobs"] += 1
                    info = tracker.getJobInfo(jid)
                    for sid in (list(info.stageIds) if info else []):
                        _add_stage(c, store, sid)
            c["slot_busy"] = (
                c["task_ms"] / (c["wall_ms"] * self.cores) if c["wall_ms"] else 0.0
            )
            s.counters = c

    def streaming_batches(self) -> list[dict]:
        with self.listener.lock:
            return list(self.listener.progress)

    def per_span(self) -> dict[str, dict[str, float]]:
        """Per-call medians of each counter, per span name, over the
        setup and timed calls (warm-up calls excluded)."""
        out: dict[str, dict[str, float]] = {}
        names = dict.fromkeys(s.name for s in self.spans)
        for name in names:
            calls = [s for s in self.spans
                     if s.name == name and s.phase != "warmup"]
            if not calls:
                continue
            out[name] = {
                k: statistics.median(s.counters[k] for s in calls)
                for k in COUNTERS
            }
            out[name]["calls"] = len(calls)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
            for b in self.streaming_batches():
                fh.write(json.dumps({"streaming_batch": b}) + "\n")


def _add_stage(c: dict, store, sid: int) -> None:
    try:
        st = store.lastStageAttempt(sid)
    except Exception:  # stage was never submitted (skipped)
        return
    if st.status().toString() == "SKIPPED":
        return
    c["stages"] += 1
    c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
    c["task_ms"] += st.executorRunTime()
    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
    c["shuffle_read_bytes"] += st.shuffleReadBytes()
    c["input_bytes"] += st.inputBytes()
    c["output_bytes"] += st.outputBytes()
