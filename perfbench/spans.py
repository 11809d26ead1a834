"""Span tracing around the engine's public layer functions, and readers
for Spark's own status stores.

A span records its name, start, end and parent. Each span runs under a
job group of its own, so every Spark job the driver launches belongs to
exactly one span: the innermost one open when the job was submitted
(micro-batches inherit the group of the thread that started the
stream). After the run, a span's jobs are looked up by group, and the
per-stage metrics of those jobs are read from the application status
store. Spans stay in memory and are written out once, at the end.

Wrapping is done from the benchmark's own code by replacing module
attributes (`Tracer.wrap`); no engine file is changed.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    group: str
    start: float
    end: float = 0.0
    iteration: int | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; one job group per span."""

    def __init__(self, spark, enabled: bool = True):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.iteration: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            parent=parent.id if parent else None,
            group=f"perfbench-span-{len(self.spans)}",
            start=time.perf_counter(),
            iteration=self.iteration,
        )
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner: object, attr: str, span_name: str) -> None:
        """Replace `owner.attr` with a version that runs inside a span
        (for the rest of the process; a disabled tracer opens no span)."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)

    def children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s.id)
        return kids

    def subtree(self, span_id: int, kids: dict[int, list[int]]) -> list[int]:
        out, todo = [], [span_id]
        while todo:
            sid = todo.pop()
            out.append(sid)
            todo.extend(kids.get(sid, ()))
        return out

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(
                {
                    "spans": [s.__dict__ for s in self.spans],
                    **(extra or {}),
                },
                fh,
            )


def drain_listener_bus(spark) -> None:
    """Block until every queued listener event has been delivered, so the
    status store and the streaming listener are current."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


@dataclass
class StageTotals:
    """Executor-side totals over a set of Spark jobs."""

    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    killed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_mb: float = 0.0
    output_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    stage_ids: set = field(default_factory=set)


_MB = float(1 << 20)


class StatusReader:
    """Reads per-job stage metrics from the application status store."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._stage_cache: dict[int, tuple | None] = {}

    def jobs_for_group(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def _stage(self, stage_id: int):
        if stage_id not in self._stage_cache:
            try:
                d = self._store.lastStageAttempt(stage_id)
                self._stage_cache[stage_id] = (
                    d.numTasks() if str(d.status()) != "SKIPPED" else 0,
                    d.numFailedTasks(),
                    d.numKilledTasks(),
                    d.executorRunTime() / 1e3,
                    d.executorCpuTime() / 1e9,
                    d.jvmGcTime() / 1e3,
                    d.inputBytes() / _MB,
                    d.outputBytes() / _MB,
                    d.shuffleReadBytes() / _MB,
                    d.shuffleWriteBytes() / _MB,
                    d.diskBytesSpilled() / _MB,
                )
            except Py4JJavaError:  # no such stage: never ran, or evicted
                self._stage_cache[stage_id] = None
        return self._stage_cache[stage_id]

    def totals(self, job_ids: list[int]) -> StageTotals:
        t = StageTotals(jobs=len(job_ids))
        tracker = self.sc.statusTracker()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in t.stage_ids:
                    continue
                t.stage_ids.add(sid)
                st = self._stage(sid)
                if st is None:
                    continue
                t.tasks += st[0]
                t.failed_tasks += st[1]
                t.killed_tasks += st[2]
                t.executor_run_s += st[3]
                t.executor_cpu_s += st[4]
                t.gc_s += st[5]
                t.input_mb += st[6]
                t.output_mb += st[7]
                t.shuffle_read_mb += st[8]
                t.shuffle_write_mb += st[9]
                t.spill_mb += st[10]
        return t


class BatchListener(StreamingQueryListener):
    """Collects one record per micro-batch from the progress events."""

    def __init__(self):
        super().__init__()
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = dict(p.durationMs or {})
        self.batches.append(
            {
                "query": str(p.id),
                "batch": p.batchId,
                "trigger_s": d.get("triggerExecution", 0) / 1e3,
                "add_batch_s": d.get("addBatch", 0) / 1e3,
                "wal_commit_s": d.get("walCommit", 0) / 1e3,
                "query_planning_s": d.get("queryPlanning", 0) / 1e3,
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_commit_s": sum(s.commitTimeMs for s in p.stateOperators)
                / 1e3,
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
