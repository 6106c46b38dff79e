"""Per-call stage ledger read from Spark's own status store.

The benchmark is single-threaded, so every job and stage Spark starts
between the beginning and the end of one call into the engine belongs to
that call.  :class:`StageLedger` records the highest job and stage id
before the call, waits after it until the listener bus has delivered
every event, and attributes the jobs and stages with larger ids to the
call.  Nothing inside the engine is instrumented: the facts come from
``statusStore().jobsList`` / ``stageList``, the same store the Spark UI
reads, which is populated even with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import contextlib
import time

#: fields every traced op reports, in output order
FIELDS = (
    "wall_ms", "jobs", "stages", "tasks", "exec_run_ms",
    "shuffle_write_mb", "spill_mb", "driver_gap_ms",
)

_MB = 1024.0 * 1024.0


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
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


class StageLedger:
    """Attributes Spark jobs and stages to named calls by id window."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(self._jvm.double, 0)
        #: one dict per traced call, in call order
        self.calls: list[dict] = []
        #: run phase stamped on each call: "setup", "timed" or "end"
        self.phase = "setup"

    # -- status-store reads -------------------------------------------------
    def _drain(self) -> None:
        """Block until the listener bus has applied every posted event, so
        the store reflects all jobs of a call that has just returned."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _jobs(self):
        return self._store.jobsList(self._jvm.java.util.ArrayList())

    def _stages(self):
        return self._store.stageList(
            self._jvm.java.util.ArrayList(), False, False,
            self._no_quantiles, self._jvm.java.util.ArrayList(),
        )

    def _max_ids(self) -> tuple[int, int]:
        max_job = max_stage = -1
        it = self._jobs().iterator()
        while it.hasNext():
            max_job = max(max_job, it.next().jobId())
        it = self._stages().iterator()
        while it.hasNext():
            max_stage = max(max_stage, it.next().stageId())
        return max_job, max_stage

    def _window(self, job0: int, stage0: int, t0_ms: float, t1_ms: float) -> dict:
        jobs = 0
        it = self._jobs().iterator()
        while it.hasNext():
            if it.next().jobId() > job0:
                jobs += 1
        stages = tasks = 0
        run_ms = 0.0
        shuffle_b = spill_b = 0
        spans = []
        it = self._stages().iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() <= stage0 or s.status().toString() == "SKIPPED":
                continue
            stages += 1
            tasks += s.numCompleteTasks() + s.numFailedTasks()
            run_ms += s.executorRunTime()
            shuffle_b += s.shuffleWriteBytes()
            spill_b += s.memoryBytesSpilled() + s.diskBytesSpilled()
            sub, done = s.submissionTime(), s.completionTime()
            if sub.isDefined():
                start = max(float(sub.get().getTime()), t0_ms)
                end = float(done.get().getTime()) if done.isDefined() else t1_ms
                spans.append((start, min(max(end, start), t1_ms)))
        wall = t1_ms - t0_ms
        return {
            "wall_ms": wall,
            "jobs": jobs,
            "stages": stages,
            "tasks": tasks,
            "exec_run_ms": run_ms,
            "shuffle_write_mb": shuffle_b / _MB,
            "spill_mb": spill_b / _MB,
            "driver_gap_ms": max(0.0, wall - union_ms(spans)),
        }

    # -- public -------------------------------------------------------------
    @contextlib.contextmanager
    def call(self, op: str):
        """Trace one call named ``<module>.<op>``; yields a dict that the
        caller may extend with op-specific counters."""
        self._drain()
        job0, stage0 = self._max_ids()
        extra: dict = {}
        t0 = time.time() * 1000.0
        try:
            yield extra
        finally:
            t1 = time.time() * 1000.0
            self._drain()
            row = {"op": op, "phase": self.phase,
                   **self._window(job0, stage0, t0, t1), **extra}
            self.calls.append(row)

    def cache_state(self) -> dict:
        """Persisted RDD count and their storage footprint right now."""
        infos = self._sc._jsc.sc().getRDDStorageInfo()
        mb = sum((i.memSize() + i.diskSize()) for i in infos) / _MB
        return {
            "cache.persisted_rdds_end": int(self._sc._jsc.getPersistentRDDs().size()),
            "cache.storage_mb_end": mb,
        }


class NullLedger:
    """Stand-in for untraced runs: records nothing."""

    def __init__(self):
        self.calls: list[dict] = []
        self.phase = "setup"

    @contextlib.contextmanager
    def call(self, op: str):
        yield {}

    def cache_state(self) -> dict:
        return {}


def summarize(calls: list[dict], ops: list[str]) -> dict[str, float]:
    """``<op>.<field>`` → median over that op's timed-phase calls, or over
    all its calls when it has none in the timed phase (builds, save, load);
    0 for an op the workload never calls.  Extra counters an op attached
    ride along."""
    import statistics

    out: dict[str, float] = {}
    for op in ops:
        rows = [c for c in calls if c["op"] == op]
        timed_rows = [c for c in rows if c["phase"] == "timed"]
        rows = timed_rows or rows
        for f in FIELDS:
            out[f"{op}.{f}"] = (
                float(statistics.median(r[f] for r in rows)) if rows else 0.0
            )
        extras = {k for r in rows for k in r if k not in (*FIELDS, "op", "phase")}
        for k in sorted(extras):
            out[f"{op}.{k}"] = float(statistics.median(r[k] for r in rows if k in r))
    return out
