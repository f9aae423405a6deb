"""Spark's own counters, read through the driver JVM.

- Jobs and stages come from the application status store
  (``SparkContext.statusStore``), the store the Spark UI and REST API
  read; it is populated even with ``spark.ui.enabled=false``.
- ``CodegenMetrics`` counts whole-stage/expression code compilations.
- ``HiveCatalogMetrics`` counts files discovered by file listing.

The status store is fed asynchronously by the listener bus, so every
read first waits for the bus to drain.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError

_MIB = 1024.0 * 1024.0


class SparkCounters:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        jsc = sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._empty = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        metrics = jvm.org.apache.spark.metrics.source
        self._compiles = metrics.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._files = metrics.HiveCatalogMetrics.METRIC_FILES_DISCOVERED()
        self._next_job = 0
        self._seen_stages: set[tuple[int, int]] = set()
        self.new_jobs()  # skip set-up's jobs

    def codegen_compiles(self) -> int:
        return int(self._compiles.getCount())

    def files_discovered(self) -> int:
        return int(self._files.getCount())

    def _job(self, job_id: int):
        try:
            return self._store.job(job_id)
        except Py4JJavaError:
            return None

    def new_jobs(self) -> list[dict]:
        """Jobs submitted since the previous call, with the totals of
        their stages that actually ran (skipped stages count 0)."""
        self._bus.waitUntilEmpty()
        end = self._dag.nextJobId()
        out = []
        for job_id in range(self._next_job, end):
            job = self._job(job_id)
            if job is None:  # evicted, or never reached the store
                continue
            rec = {
                "job_id": job.jobId(),
                "start": _epoch_s(job.submissionTime()),
                "end": _epoch_s(job.completionTime()),
                "stages": 0,
                "tasks": 0,
                "run_s": 0.0,
                "cpu_s": 0.0,
                "gc_s": 0.0,
                "input_mib": 0.0,
                "shuffle_read_mib": 0.0,
                "shuffle_write_mib": 0.0,
                "spill_mib": 0.0,
            }
            it = job.stageIds().iterator()
            while it.hasNext():
                self._add_stage(rec, int(it.next()))
            out.append(rec)
        self._next_job = end
        return out

    def _add_stage(self, rec: dict, stage_id: int) -> None:
        attempts = self._store.stageData(
            stage_id, False, self._empty, False, self._no_quantiles
        ).iterator()
        while attempts.hasNext():
            s = attempts.next()
            key = (stage_id, s.attemptId())
            if key in self._seen_stages or s.status().toString() == "SKIPPED":
                continue
            self._seen_stages.add(key)
            rec["stages"] += 1
            rec["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            rec["run_s"] += s.executorRunTime() / 1e3
            rec["cpu_s"] += s.executorCpuTime() / 1e9
            rec["gc_s"] += s.jvmGcTime() / 1e3
            rec["input_mib"] += s.inputBytes() / _MIB
            rec["shuffle_read_mib"] += s.shuffleReadBytes() / _MIB
            rec["shuffle_write_mib"] += s.shuffleWriteBytes() / _MIB
            rec["spill_mib"] += s.diskBytesSpilled() / _MIB


def _epoch_s(opt_date) -> float | None:
    return opt_date.get().getTime() / 1e3 if opt_date.isDefined() else None
