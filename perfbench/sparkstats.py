"""Spark's own per-stage and per-job records, read from outside the
program through the JVM status store (``SparkContext.statusStore``),
which is filled by the listener bus whether or not the UI runs."""

from __future__ import annotations

MB = float(1 << 20)


def _opt_time(opt) -> float | None:
    """Scala Option[Date] → epoch seconds, or None."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusStore:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._gw = sc._gateway
        self.cores = sc.defaultParallelism

    def drain(self) -> None:
        """Wait until every event posted so far reached the store: stage
        completions arrive asynchronously after an action returns."""
        self._jsc.listenerBus().waitUntilEmpty()

    def stages(self) -> list[dict]:
        """Every stage that ran (skipped stages have no submission time)."""
        self.drain()
        seq = self._store.stageList(
            None, False, False, self._gw.new_array(self._gw.jvm.double, 0), None
        )
        out = []
        for i in range(seq.size()):
            s = seq.apply(i)
            submit, complete = _opt_time(s.submissionTime()), _opt_time(s.completionTime())
            if submit is None or complete is None:
                continue
            out.append(
                {
                    "stage_id": s.stageId(),
                    "attempt": s.attemptId(),
                    "name": s.name(),
                    "tasks": s.numTasks(),
                    "submit": submit,
                    "complete": complete,
                    "run_s": s.executorRunTime() / 1000.0,
                    "cpu_s": s.executorCpuTime() / 1e9,
                    "gc_s": s.jvmGcTime() / 1000.0,
                    "input_mb": s.inputBytes() / MB,
                    "output_mb": s.outputBytes() / MB,
                    "shuffle_write_mb": s.shuffleWriteBytes() / MB,
                    "shuffle_read_mb": s.shuffleReadBytes() / MB,
                    "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB,
                }
            )
        return out

    def jobs(self) -> list[dict]:
        self.drain()
        seq = self._store.jobsList(None)
        out = []
        for i in range(seq.size()):
            j = seq.apply(i)
            submit, complete = _opt_time(j.submissionTime()), _opt_time(j.completionTime())
            if submit is None or complete is None:
                continue
            out.append({"job_id": j.jobId(), "name": j.name(), "submit": submit, "complete": complete})
        return out

    def task_quantiles(self, stage: dict) -> tuple[float, float]:
        """(median, max) task run time of one stage, seconds."""
        q = self._gw.new_array(self._gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        dist = self._store.taskSummary(stage["stage_id"], stage["attempt"], q)
        if not dist.isDefined():
            return 0.0, 0.0
        run = dist.get().executorRunTime()
        return run.apply(0) / 1000.0, run.apply(1) / 1000.0

    def storage_mb(self) -> float:
        """Bytes currently held by cached RDDs, memory plus disk."""
        infos = self._jsc.getRDDStorageInfo()
        return sum((r.memSize() + r.diskSize()) for r in infos) / MB
