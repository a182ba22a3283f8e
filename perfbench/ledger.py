"""Per-layer Spark metrics from the status store, keyed by job group.

``Ledger.layer(name)`` sets a job group around the call that materializes
one layer's output; on exit it waits until the listener bus has delivered
every event, then reads the group's stages from
``sc._jsc.sc().statusStore()``, which is populated with
``spark.ui.enabled=false`` too, so no UI or REST server is needed.
"""

from __future__ import annotations

import contextlib

from py4j.protocol import Py4JJavaError

# the seven numbers every Spark layer reports, with their units
STAGE_METRICS = {
    "stage_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "tasks": "count",
    "task_skew": "ratio",
}
_MB = 1024 * 1024


class Ledger:
    """Completed stages per layer name, over every group run under it."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.layers: dict = {}
        # stages of a group that had not completed when it was read
        self.incomplete: list = []
        self._seq = 0
        self._store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    @contextlib.contextmanager
    def layer(self, name: str):
        """Run the body under a fresh job group; add its stages to ``name``."""
        self._seq += 1
        group = f"perfbench-{self._seq}-{name}"
        self.sc.setJobGroup(group, name, False)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            # the status store is fed asynchronously; without this the last
            # job's stage may not be marked complete yet
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
            self.layers.setdefault(name, []).extend(self.stages_of(group))

    def stages_of(self, group: str) -> list:
        tracker = self.sc.statusTracker()
        ids = set()
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is not None:
                ids.update(info.stageIds)
        out = []
        for sid in sorted(ids):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            status = sd.status().toString()
            if status == "SKIPPED":  # its shuffle output was reused
                continue
            if status != "COMPLETE":
                self.incomplete.append((group, sid, status))
                continue
            out.append(self._stage(sid, sd))
        return out

    def _stage(self, sid: int, sd) -> dict:
        wall = 0.0
        if sd.submissionTime().isDefined() and sd.completionTime().isDefined():
            wall = (sd.completionTime().get().getTime()
                    - sd.submissionTime().get().getTime()) / 1000.0
        med = mx = 0.0
        summary = self._store.taskSummary(sid, sd.attemptId(), self._quantiles)
        if summary.isDefined():
            rt = summary.get().executorRunTime()
            med, mx = float(rt.apply(0)), float(rt.apply(1))
        return {
            "stage_id": sid,
            "stage_s": wall,
            "executor_run_s": sd.executorRunTime() / 1000.0,
            "executor_cpu_s": sd.executorCpuTime() / 1e9,
            "gc_s": sd.jvmGcTime() / 1000.0,
            "shuffle_mb": (sd.shuffleReadBytes() + sd.shuffleWriteBytes()) / _MB,
            "spill_mb": (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / _MB,
            "tasks": sd.numCompleteTasks(),
            "task_med_s": med / 1000.0,
            "task_max_s": mx / 1000.0,
        }

    def stage_set(self, name: str) -> dict:
        """The seven layer numbers; ``task_skew`` is the largest max/median
        task time over the layer's stages (0 when it ran no task)."""
        stages = self.layers.get(name, [])
        out = dict.fromkeys(STAGE_METRICS, 0.0)
        for s in stages:
            for k in ("stage_s", "executor_cpu_s", "gc_s", "shuffle_mb",
                      "spill_mb", "tasks"):
                out[k] += s[k]
        skews = [s["task_max_s"] / s["task_med_s"] for s in stages
                 if s["task_med_s"] > 0]
        out["task_skew"] = max(skews) if skews else 0.0
        return out

    def largest_stage_run_s(self, name: str) -> float:
        """Executor time of the layer's largest stage (for candidates_fused:
        the fused Python stage)."""
        return max((s["executor_run_s"] for s in self.layers.get(name, [])),
                   default=0.0)
