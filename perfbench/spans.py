"""Traced execution of one operation: build / plan / exec spans, the Spark
jobs each span fired (by job group), and their executor stage metrics
read from the JVM status store (works with ``spark.ui.enabled=false``).

Spans stay in memory; the runner writes them out once at the end."""

from __future__ import annotations

import sys
import time

from stats import self_time

# StageData getter -> (metric, scale to seconds / MiB)
_STAGE_FIELDS = (
    ("executorRunTime", "exec.run_s", 1e-3),
    ("executorCpuTime", "exec.cpu_s", 1e-9),
    ("jvmGcTime", "exec.gc_s", 1e-3),
    ("inputBytes", "exec.input_mb", 1 / 2**20),
    ("shuffleWriteBytes", "exec.shuffle_write_mb", 1 / 2**20),
    ("shuffleReadBytes", "exec.shuffle_read_mb", 1 / 2**20),
    ("diskBytesSpilled", "exec.spill_mb", 1 / 2**20),
)
STAGE_METRICS = tuple(m for _, m, _ in _STAGE_FIELDS)
PKG = "telemetry_parquet_spark"


def noop_write(df) -> None:
    """Materialize every output column without collecting to the driver."""
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.loads: list[tuple[float, float]] = []
        self._seq = 0
        self._patched: list[tuple[object, object]] = []

    # -- sources.tables.load_table ----------------------------------------
    def install(self) -> None:
        """Wrap ``sources.tables.load_table`` in every package module that
        bound it (``from ..sources.tables import load_table``)."""
        from telemetry_parquet_spark.sources import tables

        orig = tables.load_table
        loads = self.loads

        def load_table(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                loads.append((t0, time.perf_counter()))

        for name, mod in list(sys.modules.items()):
            if (name == PKG or name.startswith(PKG + ".")) and \
                    getattr(mod, "load_table", None) is orig:
                mod.load_table = load_table
                self._patched.append((mod, orig))

    def uninstall(self) -> None:
        for mod, orig in self._patched:
            mod.load_table = orig
        self._patched.clear()

    # -- one operation ------------------------------------------------------
    def run(self, label: str, thunk) -> dict:
        """Run ``thunk`` (returns a DataFrame or a plain value) as build,
        then Catalyst planning and a noop-sink execution for a DataFrame.

        ``wall_s`` is an outer clock around the whole traced operation,
        job-group calls included; ``gap_s`` is the part of it that the
        build / plan / exec spans do not cover."""
        from pyspark.sql import DataFrame

        self._seq += 1
        g_build, g_exec = f"pb{self._seq}-build", f"pb{self._seq}-exec"
        n_loads = len(self.loads)
        t_in = time.perf_counter()
        self.sc.setJobGroup(g_build, label)
        t0 = time.perf_counter()
        out = thunk()
        t1 = t2 = te = t3 = time.perf_counter()
        if isinstance(out, DataFrame):
            out._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            self.sc.setJobGroup(g_exec, label)
            te = time.perf_counter()
            noop_write(out)
            t3 = time.perf_counter()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        t_out = time.perf_counter()
        loads = self.loads[n_loads:]
        rec = {
            "op": label,
            "wall_s": t_out - t_in,
            "build_s": t1 - t0,
            "build_self_s": self_time((t0, t1), loads),
            "plan_s": t2 - t1,
            "exec_s": t3 - te,
            "load_calls": len(loads),
            "load_s": sum(b - a for a, b in loads),
            "gap_s": self_time((t_in, t_out), [(t0, t1), (t1, t2), (te, t3)]),
        }
        rec.update(self._job_stats(g_build, g_exec))
        return rec

    def _job_stats(self, g_build: str, g_exec: str) -> dict:
        self.jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        build_jobs = tracker.getJobIdsForGroup(g_build)
        jobs = list(build_jobs) + list(tracker.getJobIdsForGroup(g_exec))
        store = self.jsc.statusStore()
        stats = {m: 0.0 for m in STAGE_METRICS}
        stage_ids: set[int] = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        stages = tasks = failed = 0
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            stages += 1
            tasks += sd.numTasks()
            failed += sd.numFailedTasks()
            for getter, metric, scale in _STAGE_FIELDS:
                stats[metric] += getattr(sd, getter)() * scale
        stats["exec.noncpu_s"] = stats["exec.run_s"] - stats["exec.cpu_s"]
        return {"build_jobs": len(build_jobs), "jobs": len(jobs),
                "stages": stages, "tasks": tasks, "failed_tasks": failed, **stats}
