"""Spans around calls into the engine's layers, with Spark's own counters.

A span sets a Spark job group for the duration of one public call, so
every job the call launches — including the ones adaptive execution
submits from its own threads — carries the span's group.  After the run,
the counters of each group's stages are read from the application status
store, which Spark keeps even with the UI disabled.  Nested spans
replace the group while they are open, so a job is counted in exactly
one span, and a span's time excludes its children's: both are self
figures.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024 * 1024

# Per-layer figures and their units, in report order.
LAYER_FIELDS = {"s": "s", "task_s": "s", "idle_core_s": "s", "jobs": "count",
                "stages": "count", "shuffle_write_mb": "MB", "spill_mb": "MB",
                "failed_tasks": "count"}


class StageCounters:
    """Reads job and stage counters of a job group from the status store."""

    def __init__(self, spark):
        self._spark = spark
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._no_status = self._sc._jvm.java.util.ArrayList()
        self._no_quantiles = self._sc._gateway.new_array(self._sc._jvm.double, 0)
        self._seen_job = -1

    def set_group(self, group: str | None) -> None:
        if group is None:
            self._sc._jsc.clearJobGroup()
        else:
            self._sc.setJobGroup(group, group)

    def collect(self) -> dict[str, dict]:
        """Counters per job group for every job finished since the last
        call: jobs, stages that ran, busy task seconds, shuffle bytes
        written, bytes spilled to disk, bytes written by output tasks and
        failed tasks."""
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        newest = self._seen_job
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._seen_job:
                continue
            newest = max(newest, jid)
            grp = job.jobGroup()
            acc = out[grp.get() if grp.isDefined() else ""]
            acc["jobs"] += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                self._add_stage(acc, ids.apply(k))
        self._seen_job = newest
        return out

    def _add_stage(self, acc: dict, stage_id: int) -> None:
        attempts = self._store.stageData(
            stage_id, False, self._no_status, False, self._no_quantiles
        )
        for a in range(attempts.size()):
            st = attempts.apply(a)
            if st.status().toString() == "SKIPPED":
                continue
            acc["stages"] += 1
            acc["task_ms"] += st.executorRunTime()
            acc["shuffle_write_bytes"] += st.shuffleWriteBytes()
            acc["spill_bytes"] += st.diskBytesSpilled()
            acc["output_bytes"] += st.outputBytes()
            acc["failed_tasks"] += st.numFailedTasks()

    def stranded_mb(self) -> float:
        """Size of the blocks still persisted once the driver has dropped
        its references and the JVM has collected them."""
        import gc

        gc.collect()
        self._sc._jvm.System.gc()
        time.sleep(0.1)  # the ContextCleaner unpersists asynchronously
        self._bus.waitUntilEmpty()
        infos = self._sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB

    def drop_all_persisted(self) -> None:
        """Unpersist every RDD, checkpoint blocks included (the same
        clean-up ``bench.py`` does between queries)."""
        it = self._sc._jsc.getPersistentRDDs().entrySet().iterator()
        while it.hasNext():
            it.next().getValue().unpersist(True)
        self._spark.catalog.clearCache()


class Tracer:
    """Records spans (layer name, self seconds, parent) of one traced run
    and folds the job-group counters into per-layer figures."""

    def __init__(self, counters: StageCounters, cores: int):
        self._counters = counters
        self._cores = cores
        self._stack: list[str] = []
        self.spans: list[dict] = []

    @contextmanager
    def span(self, layer: str):
        group = f"span-{len(self.spans)}-{layer}"
        rec = {"layer": layer, "group": group,
               "parent": self._stack[-1] if self._stack else None,
               "child_s": 0.0}
        self.spans.append(rec)
        self._stack.append(group)
        self._counters.set_group(group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self._stack.pop()
            self._counters.set_group(self._stack[-1] if self._stack else None)
            rec["wall_s"] = wall
            rec["s"] = wall - rec["child_s"]
            if rec["parent"] is not None:
                parent = next(r for r in self.spans if r["group"] == rec["parent"])
                parent["child_s"] += wall

    def total_s(self) -> float:
        """Wall seconds inside top-level spans: the traced run's time
        without the counting the benchmark does between spans."""
        return sum(r["wall_s"] for r in self.spans if r["parent"] is None)

    def layers(self, names: tuple[str, ...]) -> tuple[dict[str, dict], float]:
        """Self figures per layer name (layers without a span read 0), and
        the MB that output tasks wrote over all spans."""
        groups = self._counters.collect()
        out = {n: dict.fromkeys(LAYER_FIELDS, 0.0) for n in names}
        written_mb = 0.0
        for rec in self.spans:
            c = groups.get(rec["group"], {})
            lay = out[rec["layer"]]
            task_s = c.get("task_ms", 0.0) / 1000
            lay["s"] += rec["s"]
            lay["task_s"] += task_s
            lay["idle_core_s"] += rec["s"] * self._cores - task_s
            lay["jobs"] += c.get("jobs", 0)
            lay["stages"] += c.get("stages", 0)
            lay["shuffle_write_mb"] += c.get("shuffle_write_bytes", 0.0) / MB
            lay["spill_mb"] += c.get("spill_bytes", 0.0) / MB
            lay["failed_tasks"] += c.get("failed_tasks", 0)
            written_mb += c.get("output_bytes", 0.0) / MB
        return out, written_mb
