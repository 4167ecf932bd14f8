"""Tracing from outside the program, and Spark's own counters.

Nothing here edits the engine. The traced run wraps the public names the
pipeline modules import (``pipeline_batch.header_mismatch_files`` and
friends), the registry callables and the sink instances handed to the
pipeline. Each span carries its own Spark job group, so the jobs it fires
and their stage metrics are read back from Spark's status store after
the run. That store is filled whether or not the UI is enabled, and
reading it starts no job.

A span's self time is its duration minus the time its child spans
cover; its self jobs are the jobs submitted under its own group.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import re
import threading
import time
from dataclasses import dataclass, field

# RDD-scope names of the physical operators that run a Python worker
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")
# the thread-local properties ``SparkContext.setJobGroup`` sets
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    group: str
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    child_s: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.child_s

    def layer(self) -> str:
        return self.name.split(":", 1)[0]

    def as_json(self) -> dict:
        return {
            "id": self.id, "name": self.name, "parent": self.parent,
            "start": round(self.start, 6), "end": round(self.end, 6),
            "self_s": round(self.self_s, 6), "jobs": self.jobs,
        }


class Tracer:
    """In-memory spans with a per-thread parent stack."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        stack = self._stack()
        if not stack:
            # the thread's own job group (a streaming query sets one on
            # the thread that runs foreachBatch) comes back when the
            # outermost span closes
            self._local.saved = {k: self.sc.getLocalProperty(k) for k in _GROUP_PROPS}
        sid = next(self._ids)
        s = Span(sid, name, 0.0, stack[-1].id if stack else None, f"perfbench-{sid}")
        with self._lock:
            self.spans.append(s)
        stack.append(s)
        self.sc.setJobGroup(s.group, s.name)
        s.start = time.perf_counter()
        self.bookkeeping_s += s.start - t
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if stack:
                stack[-1].child_s += s.duration
                self.sc.setJobGroup(stack[-1].group, stack[-1].name)
            else:
                for k, v in self._local.saved.items():
                    self.sc.setLocalProperty(k, v)
            self.bookkeeping_s += time.perf_counter() - s.end

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def fill_jobs(self, spark) -> None:
        settle(spark)
        tracker = self.sc.statusTracker()
        for s in self.spans:
            s.jobs = sorted(tracker.getJobIdsForGroup(s.group))


# --------------------------------------------------------------------------
# Spark's status store
# --------------------------------------------------------------------------

def next_job_id(spark) -> int:
    """The id the next submitted job gets. Job ids are sequential, so the
    jobs fired between two reads are ``range(before, after)``."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def settle(spark) -> None:
    """Wait until the listener bus has delivered every event, so the
    status store holds the jobs that already returned."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


@dataclass
class StageTotals:
    task_run_s: float = 0.0
    jvm_cpu_s: float = 0.0
    gc_s: float = 0.0
    python_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    input_records: int = 0
    stages: int = 0


def stage_totals(spark, job_ids, python: bool = True) -> StageTotals:
    """Sum the stage metrics of ``job_ids`` (each stage attempt once);
    ``python`` also splits out the stages that run a Python worker."""
    settle(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    out = StageTotals()
    seen: set[int] = set()
    for jid in job_ids:
        try:
            job = store.job(jid)
        except Exception:  # noqa: BLE001 — evicted from the store
            continue
        ids = job.stageIds()
        for k in range(ids.size()):
            sid = ids.apply(k)
            if sid in seen:
                continue
            seen.add(sid)
            attempts = store.stageData(sid, False, None, False, None)
            for a in range(attempts.size()):
                st = attempts.apply(a)
                if st.numCompleteTasks() == 0:
                    continue  # skipped stage: its output was reused
                run = st.executorRunTime() / 1e3
                cpu = st.executorCpuTime() / 1e9
                out.task_run_s += run
                out.jvm_cpu_s += cpu
                out.gc_s += st.jvmGcTime() / 1e3
                out.shuffle_read_bytes += st.shuffleReadBytes()
                out.shuffle_write_bytes += st.shuffleWriteBytes()
                out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out.input_bytes += st.inputBytes()
                out.output_bytes += st.outputBytes()
                out.input_records += st.inputRecords()
                out.stages += 1
                if python and _runs_python(store, sid):
                    out.python_s += max(0.0, run - cpu)
    return out


def _runs_python(store, stage_id: int) -> bool:
    try:
        graph = store.operationGraphForStage(stage_id)
    except Exception:  # noqa: BLE001 — no graph kept for this stage
        return False
    todo = [graph.rootCluster()]
    while todo:
        c = todo.pop()
        if _PYTHON_NODE.search(c.name()):
            return True
        kids = c.childClusters()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return False


# --------------------------------------------------------------------------
# Structured Streaming progress
# --------------------------------------------------------------------------

def progress_listener(events: list):
    """A StreamingQueryListener that keeps each progress event's batch id,
    input rows and ``durationMs`` phases."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            events.append({
                "batch": p.batchId,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
