"""In-memory span tracer and Spark-side per-operation metrics.

A span is (name, start, end, parent, op): the benchmark opens one around
every call it makes into an engine layer, nested under the span of the
operation it belongs to. Self time of a span is its duration minus its
children's, so the per-layer self times of one operation add up to the
operation's wall time, with the operation span's own self time as the
unattributed rest.

With tracing off every call is a no-op context manager, so the untraced
run executes the same code path minus the bookkeeping.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self.overhead_s = 0.0  # time spent collecting trace data

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None,
                 op=self.op, attrs=attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[float]:
        own = [s.dur for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.dur
        return own

    def reconcile(self) -> dict:
        """Per operation: the share of its wall time that no layer span
        claims (the ``op`` span's self time). Layers reconcile when the
        worst operation leaves at most 10% unattributed."""
        own = self.self_times()
        shares = [own[i] / s.dur for i, s in enumerate(self.spans)
                  if s.name == "op" and s.dur > 0]
        if not shares:
            return {"ops": 0, "unattributed_p50_pct": 0.0, "unattributed_max_pct": 0.0, "ok": True}
        return {
            "ops": len(shares),
            "unattributed_p50_pct": 100 * statistics.median(shares),
            "unattributed_max_pct": 100 * max(shares),
            "ok": max(shares) <= 0.10,
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class SparkMetrics:
    """Per-operation Spark counters, read through the job group the
    benchmark sets around each operation and the application status
    store (after draining the listener bus, which fills it
    asynchronously)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    def begin(self, op_id: str) -> None:
        self.sc.setJobGroup(op_id, op_id, False)

    def end(self, op_id: str) -> dict:
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "job_s": 0.0, "stage_ms": []}
        for job_id in self.sc.statusTracker().getJobIdsForGroup(op_id):
            job = store.job(job_id)
            out["jobs"] += 1
            out["job_s"] += _elapsed_ms(job) / 1000
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sd = store.lastStageAttempt(stage_ids.apply(i))
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["stage_ms"].append(_elapsed_ms(sd))
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return out


def _elapsed_ms(data) -> float:
    """completionTime - submissionTime of a JobData/StageData, 0 if unset."""
    sub, done = data.submissionTime(), data.completionTime()
    if sub.isDefined() and done.isDefined():
        return float(done.get().getTime() - sub.get().getTime())
    return 0.0


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning milliseconds from the
    DataFrame's QueryExecution tracker (the action that collected the
    DataFrame ran on that same QueryExecution)."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in out:
            out[kv._1()] = float(kv._2().durationMs())
    return out


def storage_used_mb(spark) -> float:
    """In-memory size of every cached or checkpointed RDD's blocks (base
    tables, memo artifacts, local checkpoints). Broadcast blocks are left
    out: they come and go with the JVM's garbage collector."""
    return sum(i.memSize() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()) / 2**20
