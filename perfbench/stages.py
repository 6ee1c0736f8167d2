"""Spark stage metrics per operation, read from the driver's status store.

Each operation runs under its own job group.  After the operation the
reader records the group's job ids and their stage ids; at the end of
the run it reads every stage once through
``statusStore().stageList(...)``, which works with
``spark.ui.enabled=false``, and sums the metrics per operation.
"""

from __future__ import annotations

import statistics


class StageReader:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.op_stages: dict[int, list[int]] = {}
        self.op_jobs: dict[int, int] = {}

    @staticmethod
    def group(op_id: int) -> str:
        return f"perfbench-op-{op_id}"

    def begin(self, op_id: int, kind: str) -> None:
        self.sc.setJobGroup(self.group(op_id), kind)

    def jobs_so_far(self, op_id: int) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(self.group(op_id)))

    def end(self, op_id: int) -> None:
        conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        jobs = self.sc.statusTracker().getJobIdsForGroup(self.group(op_id))
        stages: list[int] = []
        for j in jobs:
            stages.extend(int(s) for s in conv.asJava(self.store.job(j).stageIds()))
        self.op_jobs[op_id] = len(jobs)
        self.op_stages[op_id] = stages
        self.sc.setJobGroup("perfbench-idle", "between operations")

    def per_op(self) -> dict[int, dict[str, float]]:
        """Summed stage metrics per operation.  Skipped stages (shuffle
        output reused from an earlier job) count as stages but add no
        tasks or time.  ``scan_tasks`` is the task count of the operation's first
        stage (its scan splits).  ``task_skew`` is the largest max/median task run
        time over the operation's stages with at least two tasks."""
        conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        quantiles = self.sc._gateway.new_array(self.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        by_id: dict[int, list] = {}
        for sd in conv.asJava(self.store.stageList(
                self.jvm.java.util.ArrayList(), False, True, quantiles,
                self.jvm.java.util.ArrayList())):
            by_id.setdefault(int(sd.stageId()), []).append(sd)
        out = {}
        for op_id, stages in self.op_stages.items():
            m = dict.fromkeys(
                ["scan_tasks", "stages", "tasks", "input_bytes", "executor_run_ms",
                 "executor_cpu_ms", "shuffle_write_bytes",
                 "shuffle_read_bytes", "spill_bytes"], 0.0)
            skew = 1.0
            first = min(stages, default=None)
            for sid in stages:
                m["stages"] += 1
                for sd in by_id.get(sid, []):
                    if sd.status().toString() != "COMPLETE":
                        continue
                    m["tasks"] += sd.numCompleteTasks()
                    if sid == first:
                        m["scan_tasks"] = sd.numCompleteTasks()
                    m["input_bytes"] += sd.inputBytes()
                    m["executor_run_ms"] += sd.executorRunTime()
                    m["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                    m["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    m["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    m["spill_bytes"] += (sd.memoryBytesSpilled()
                                         + sd.diskBytesSpilled())
                    dist = sd.taskMetricsDistributions()
                    if sd.numCompleteTasks() >= 2 and dist.isDefined():
                        q = list(conv.asJava(dist.get().executorRunTime()))
                        if q[0] > 0:
                            skew = max(skew, q[1] / q[0])
            m["jobs"] = self.op_jobs[op_id]
            m["task_skew"] = skew
            out[op_id] = m
        return out


def mean_of(per_op: dict[int, dict[str, float]], key: str, ops) -> float:
    vals = [per_op[o][key] for o in ops if o in per_op]
    return statistics.fmean(vals) if vals else 0.0
