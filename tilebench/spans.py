"""Per-layer tracing from outside the engine.

A traced op is a list of *chains*.  A chain is a list of steps
``(layer, fn)`` whose plans grow by one layer per step (successive
prefix drains of one lazy pipeline).  Every step runs under
``SparkContext.setJobGroup(<layer>)``; right after it returns, the
stage metrics of the jobs it launched are read from Spark's own status
store (``statusTracker().getJobIdsForGroup`` +
``statusStore().lastStageAttempt``), which works with the UI disabled.
They are read at once because the store keeps only the last 1,000
stages.

A step's *self* values are its totals minus the totals of the step
before it in the same chain, so a layer is charged only for what its
prefix adds.  Nothing here runs in untraced ops.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# additive per-step totals; a layer's self value is its step's total
# minus the previous step's total in the same chain
SPAN_METRICS = (
    "self_s",
    "jobs",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "failed_tasks",
)


@dataclass
class StepResult:
    value: object
    totals: dict
    intervals: list  # (start_ms, end_ms) of every stage the step ran
    reduce_task_skew: float  # max/median task run time over reduce stages


@dataclass
class TracedOp:
    wall_s: float = 0.0
    start_ms: float = 0.0
    end_ms: float = 0.0
    self_by_layer: dict = field(default_factory=dict)
    op_jobs: int = 0  # jobs of each chain's last step (the op itself)
    intervals: list = field(default_factory=list)
    task_skew: float = 0.0

    @property
    def gap_s(self) -> float:
        """Wall time during which no stage of the op was running."""
        covered = 0.0
        cur_s = cur_e = None
        for s, e in sorted(
            (max(s, self.start_ms), min(e, self.end_ms)) for s, e in self.intervals
        ):
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return self.wall_s - covered / 1000.0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def _stage_totals(self, job_ids) -> tuple[dict, list, float]:
        # the status store is fed asynchronously by the listener bus;
        # drain it so the just-finished stages are all recorded
        self._bus.waitUntilEmpty(10_000)
        tot = dict.fromkeys(SPAN_METRICS[1:], 0)
        tot["jobs"] = len(job_ids)
        intervals = []
        skew = 0.0
        tracker = self.sc.statusTracker()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage skipped (shuffle reuse) or evicted
                    continue
                tot["executor_run_s"] += sd.executorRunTime() / 1e3
                tot["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                tot["failed_tasks"] += sd.numFailedTasks()
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime(), done.get().getTime()))
                if sd.shuffleReadBytes() > 0 and sd.numTasks() > 1:
                    skew = max(skew, self._task_skew(sid, sd.attemptId()))
        return tot, intervals, skew

    def _task_skew(self, stage_id: int, attempt: int) -> float:
        tasks = self._store.taskList(stage_id, attempt, 100_000)
        runs = []
        for i in range(tasks.size()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                runs.append(m.get().executorRunTime())
        if not runs:
            return 0.0
        return max(runs) / max(statistics.median(runs), 1)

    def step(self, layer: str, fn) -> StepResult:
        tracker = self.sc.statusTracker()
        before = set(tracker.getJobIdsForGroup(layer))
        self.sc.setJobGroup(layer, layer)
        t0 = time.perf_counter()
        try:
            value = fn()
        finally:
            wall = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        jobs = sorted(set(tracker.getJobIdsForGroup(layer)) - before)
        tot, intervals, skew = self._stage_totals(jobs)
        tot["self_s"] = wall
        return StepResult(value, tot, intervals, skew)

    def run_op(self, chains) -> tuple[TracedOp, list]:
        """Run every chain's steps in order; return the trace and, per
        chain, the value of every step (the last one is the op's own
        output)."""
        op = TracedOp(start_ms=time.time() * 1e3)
        t0 = time.perf_counter()
        outputs = []
        for chain in chains:
            prev = None
            values = []
            for layer, fn in chain:
                r = self.step(layer, fn)
                values.append(r.value)
                own = {
                    k: r.totals[k] - (prev.totals[k] if prev else 0)
                    for k in SPAN_METRICS
                }
                acc = op.self_by_layer.setdefault(layer, dict.fromkeys(SPAN_METRICS, 0))
                for k, v in own.items():
                    acc[k] += v
                op.intervals += r.intervals
                if layer == "operators.skew":
                    op.task_skew = max(op.task_skew, r.reduce_task_skew)
                prev = r
            op.op_jobs += prev.totals["jobs"]
            outputs.append(values)
        op.wall_s = time.perf_counter() - t0
        op.end_ms = time.time() * 1e3
        return op, outputs
