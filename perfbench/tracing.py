"""Outside-in tracing for the benchmark's traced run.

Three sources, none of them inside the engine:

- ``Spans``: name/start/end/parent/op spans recorded by the benchmark
  around its own calls into ``plans``, ``sources`` and ``streaming``;
  ``self_times`` turns them into per-layer self time.
- ``SparkJobs``: per-op job, stage, task, shuffle, spill and executor
  counters read from Spark's status store after draining the listener
  bus. Jobs are attributed to an op by job id (ops run one at a time),
  and to a span by submission time, so jobs submitted from the engine's
  own threads and from streaming threads are counted too.
- ``StreamEvents``: a ``StreamingQueryListener`` that keeps every
  query-started and progress event for later attribution.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # time.time() seconds, the clock Spark stamps jobs with
    end: float
    parent: int | None
    op: int
    sid: int = 0


@dataclass
class Spans:
    """In-memory span log; spans nest by the call stack. The benchmark
    opens spans from its main thread only."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op: int):
        sp = Span(name, time.time(), 0.0, self._stack[-1] if self._stack else None,
                  op, sid=len(self.spans))
        self.spans.append(sp)
        self._stack.append(sp.sid)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def of_op(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def to_json(self) -> list[dict]:
        return [
            {"id": s.sid, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "op": s.op}
            for s in self.spans
        ]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per span name: each span's duration minus the part of
    its interval that its direct children cover (children may overlap
    one another), summed over spans of the same name."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = union_length(
            [(max(c.start, s.start), min(c.end, s.end))
             for c in children.get(s.sid, []) if c.end > s.start and c.start < s.end]
        )
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


@dataclass
class Job:
    job_id: int
    submit: float
    end: float
    stage_ids: list[int]


STAGE_FIELDS = {
    # metric name: (StageData getter, scale to the metric's unit)
    "tasks": ("numTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / 2**20),
    "spill_mb": ("diskBytesSpilled", 1 / 2**20),
}
_RAN = {"COMPLETE", "FAILED"}


class SparkJobs:
    """Reads finished jobs and their stages from the status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self.drain()
        jobs = self._store.jobsList(None)
        self.next_id = jobs.last().jobId() + 1 if jobs.nonEmpty() else 0

    def drain(self) -> None:
        """Block until every posted listener event has been handled."""
        self._sc.listenerBus().waitUntilEmpty()

    def _job(self, job_id: int):
        from py4j.protocol import Py4JJavaError

        try:
            return self._store.job(job_id)
        except Py4JJavaError:  # NoSuchElementException: no such job (yet)
            return None

    def take_new(self, lookahead: int = 4) -> list[Job]:
        """Jobs since the last call (after a drain), in id order."""
        self.drain()
        out, miss, jid = [], 0, self.next_id
        while miss < lookahead:
            j = self._job(jid)
            jid += 1
            if j is None:
                miss += 1
                continue
            miss = 0
            sub, comp = j.submissionTime(), j.completionTime()
            ids = j.stageIds()
            out.append(Job(
                job_id=j.jobId(),
                submit=sub.get().getTime() / 1e3 if sub.isDefined() else 0.0,
                end=comp.get().getTime() / 1e3 if comp.isDefined() else 0.0,
                stage_ids=[ids.apply(i) for i in range(ids.size())],
            ))
            self.next_id = j.jobId() + 1
        return out

    def stage_totals(self, jobs: list[Job]) -> dict[str, float]:
        """Sum of stage metrics over the distinct stages that ran."""
        from py4j.protocol import Py4JJavaError

        tot = {k: 0.0 for k in STAGE_FIELDS}
        tot["stages"] = 0
        seen: set[int] = set()
        for j in jobs:
            for sid in j.stage_ids:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage evicted or never posted
                    continue
                if st.status().toString() not in _RAN:
                    continue  # skipped: its shuffle output was reused
                tot["stages"] += 1
                for name, (getter, scale) in STAGE_FIELDS.items():
                    tot[name] += getattr(st, getter)() * scale
        return tot


def job_summary(jobs: list[Job], stages: dict[str, float], wall_s: float,
                cores: int) -> dict[str, float]:
    """The ``spark.*`` and ``driver.self_s`` metrics of one op."""
    busy = union_length([(j.submit, j.end) for j in jobs if j.end >= j.submit])
    out = {f"spark.{k}": float(v) for k, v in stages.items()}
    out["spark.jobs"] = float(len(jobs))
    out["spark.job_busy_s"] = busy
    out["spark.busy_frac"] = stages["executor_run_s"] / (busy * cores) if busy else 0.0
    out["driver.self_s"] = wall_s - busy
    return out


def jobs_in(jobs: list[Job], start: float, end: float) -> list[Job]:
    """Jobs submitted inside [start, end] (millisecond clock)."""
    return [j for j in jobs if start - 1e-3 <= j.submit <= end + 1e-3]


def catalyst_plan_s(df) -> float:
    """Analysis + optimization + planning time of the frame's last
    execution, from its QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        if ph.isDefined():
            total += ph.get().durationMs() / 1e3
    return total


class StreamEvents:
    """Collects streaming-query events; attribution happens after a
    listener-bus drain, by query start order."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self
        self.started: list[str] = []
        self.progress: dict[str, list[dict]] = {}

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                events.started.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                events.progress.setdefault(str(p.runId), []).append(
                    dict(p.durationMs)
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()

    def take(self, n: int) -> list[list[dict]]:
        """Per-phase durations (ms) of every progress event of the ``n``
        queries started since the last call, in start order."""
        runs, self.started = self.started[:n], self.started[n:]
        return [self.progress.pop(r, []) for r in runs]


def progress_summary(events: list[dict]) -> dict[str, float]:
    def total(key: str) -> float:
        return sum(e.get(key, 0) for e in events) / 1e3

    return {
        "trigger_s": total("triggerExecution"),
        "add_batch_s": total("addBatch"),
        "checkpoint_s": total("latestOffset") + total("walCommit") + total("commitOffsets"),
    }
