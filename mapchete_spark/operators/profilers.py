"""J6 task-metrics profilers — Spark-native twin of the reference's
measurement decorators (mapchete/processing/profilers/{memory,time}.py
attach per-task memory/time tracking; here the Spark scheduler already
measures every task and keeps the totals per stage in its own status
store, so the profile of a job group is read from there after the fact).

A pull, not a listener: ``profile_for(group)`` drains the listener bus
once, takes the group's job ids and their stage ids from the status
tracker, and folds each stage's ``v1.StageData`` — executor run time,
peak execution memory, shuffle read/write bytes, spill bytes — into one
dict, counting a stage shared by two jobs of the group once. No Python
object sits on the event bus and no py4j callback server is started.
"""

from __future__ import annotations

from typing import Dict


class StageMetricsProfiler:
    """Reads Spark TaskMetrics totals per job group from the status store.

        prof = StageMetricsProfiler.attach(spark)
        spark.sparkContext.setJobGroup(group, description)
        <run the stage action>
        profile = prof.profile_for(group)
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext

    @classmethod
    def attach(cls, spark) -> "StageMetricsProfiler":
        """Registers nothing; kept so callers read one API."""
        return cls(spark)

    def profile_for(self, group: str) -> Dict[str, int]:
        # status-store updates trail the action's return on the async bus
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(5000)
        tracker, store = self._sc.statusTracker(), jsc.statusStore()
        stage_ids = {
            sid
            for jid in tracker.getJobIdsForGroup(group)
            for sid in getattr(tracker.getJobInfo(jid), "stageIds", ())
        }
        p = dict.fromkeys(
            ("task_run_ms", "peak_mem_bytes", "shuffle_read_bytes",
             "shuffle_write_bytes", "spilled_bytes"), 0,
        )
        for sid in stage_ids:
            attempts = store.stageData(sid, False, None, False, None)
            for i in range(attempts.size()):
                s = attempts.apply(i)
                p["task_run_ms"] += s.executorRunTime()
                p["peak_mem_bytes"] = max(p["peak_mem_bytes"], s.peakExecutionMemory())
                p["shuffle_read_bytes"] += s.shuffleReadBytes()
                p["shuffle_write_bytes"] += s.shuffleWriteBytes()
                p["spilled_bytes"] += s.memoryBytesSpilled()
        return p
