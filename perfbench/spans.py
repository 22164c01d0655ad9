"""Traced-run instrumentation, all from outside the program.

* :class:`Tracer` keeps spans in memory (name, start, end, parent, run
  id) and writes them out once the run ends.
* :class:`StageLedger` tags work with Spark job groups and attributes
  the status store's stage metrics to each group.
* :func:`stream_listener` counts Structured Streaming progress.
* :func:`write_listener` takes the planner's phase times from the
  QueryExecution that actually runs each noop write.

None of this is created in untraced runs: the listener bus then carries
no benchmark listener and no job group is set.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, self.run_id, time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def record(self, name: str, parent: Span, start: float, end: float, **attrs) -> Span:
        """Add a finished child of ``parent`` measured elsewhere,
        clamped into the parent's interval."""
        start = min(max(start, parent.start), parent.end)
        s = Span(len(self.spans), name, parent.sid, self.run_id, start,
                 min(max(end, start), parent.end), attrs)
        self.spans.append(s)
        return s

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the time its children cover
        (children of one span never overlap: calls are sequential)."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return {s.sid: (s.end - s.start) - child[s.sid] for s in self.spans}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


#: Stage fields summed per job group, and their scale to the metric unit.
STAGE_FIELDS = {
    "run_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / 2**20),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
    "spill_mb": ("diskBytesSpilled", 1 / 2**20),
    "input_mb": ("inputBytes", 1 / 2**20),
}


class StageLedger:
    """Job-group attribution of executor work.

    Call :meth:`group` before each traced phase; after a pass,
    :meth:`collect` drains the listener bus, reads the status store's
    jobs and their stages and returns per-group totals of every job
    started since the previous collect. Collect only when no job is
    running: the benchmark's calls are sequential. Streaming queries
    run their micro-batches under their own run id as job group;
    ``aliases`` maps such ids to the group of the call that started
    them.
    """

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = spark._jsc.sc()
        self.last_job = -1
        self.aliases: dict[str, str] = {}
        self.current: str | None = None
        jackson = spark._jvm.com.fasterxml.jackson
        scala_module = getattr(getattr(jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
        self._json = jackson.databind.ObjectMapper().registerModule(scala_module)

    def group(self, gid: str) -> None:
        self.current = gid
        self.sc.setJobGroup(gid, gid)

    def clear(self) -> None:
        self.current = None
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def collect(self) -> dict[str, dict[str, float]]:
        self.drain()
        # The status store's job and stage lists come over as one JSON
        # string each: reading them field by field costs a py4j round
        # trip (about a millisecond) per field.
        jvm = self.spark._jvm
        store = self.jsc.statusStore()
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        jobs = json.loads(self._json.writeValueAsString(store.jobsList(None)))
        stage_group: dict[int, str] = {}
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        newest = self.last_job
        for job in jobs:
            if job["jobId"] <= self.last_job:
                continue
            newest = max(newest, job["jobId"])
            gid = job.get("jobGroup") or "none"
            gid = self.aliases.get(gid, gid)
            out[gid]["jobs"] += 1
            for sid in job["stageIds"]:
                stage_group[sid] = gid
        self.last_job = newest
        if not stage_group:
            return out
        stages = json.loads(self._json.writeValueAsString(
            store.stageList(None, False, False, no_quantiles, None)))
        for st in stages:
            gid = stage_group.get(st["stageId"])
            if gid is None or st["status"] == "SKIPPED":
                continue
            acc = out[gid]
            acc["stages"] += 1
            acc["tasks"] += st["numTasks"]
            for key, (attr, scale) in STAGE_FIELDS.items():
                acc[key] += st[attr] * scale
        return out


#: Durations taken from each batch's progress report.
BATCH_MS = {
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "query_planning_ms": "queryPlanning",
}


def stream_listener():
    """A StreamingQueryListener that records progress per run id."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self.started: list[str] = []
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            self.started.append(str(event.runId))

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            rec = {"run_id": str(p.runId), "input_rows": p.numInputRows}
            for key, name in BATCH_MS.items():
                rec[key] = (p.durationMs or {}).get(name, 0)
            rec["state_commit_ms"] = sum(o.commitTimeMs for o in ops)
            rec["state_rows"] = sum(o.numRowsTotal for o in ops)
            rec["state_mem_mb"] = sum(o.memoryUsedBytes for o in ops) / 2**20
            self.progress.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


#: Planner phases read from QueryPlanningTracker, in order.
PHASES = ("analysis", "optimization", "planning")


def write_listener(spark):
    """A QueryExecutionListener that keeps the planner phases of every
    noop-sink write. ``df.write...save()`` plans the frame again inside
    a new write-command QueryExecution, so the frame's own tracker
    never sees the planning that runs; this one does. ``writes`` holds
    one ``{phase: (start_ms, end_ms)}`` per write, in wall-clock ms."""
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    class _Listener:
        def __init__(self):
            self.writes: list[dict[str, tuple[int, int]]] = []

        def onSuccess(self, func_name, qe, duration_ns):
            if qe.logical().nodeName() != "OverwriteByExpression":
                return
            ph = conv.asJava(qe.tracker().phases())
            self.writes.append({
                k: (ph.get(k).startTimeMs(), ph.get(k).endTimeMs())
                for k in PHASES if ph.containsKey(k)
            })

        def onFailure(self, func_name, qe, exception):
            pass

        class Java:
            implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    return _Listener()


#: Per-batch progress fields, summed over batches.
PROGRESS_FIELDS = ("input_rows", *BATCH_MS, "state_commit_ms", "state_rows", "state_mem_mb")
