"""Read-outs of the Spark engine beneath the package, taken from
outside it: the application status store (jobs, stages and task
summaries per job group), the SQL status store (per-node row
metrics) and the peak resident memory of the driver processes."""

from __future__ import annotations

import os

from stats import median, union_length

MB = 1024 * 1024


def _opt(o):
    return o.get() if o.isDefined() else None


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Engine:
    def __init__(self, spark, nproc: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.nproc = nproc
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        gw = self.sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def peak_rss_mb(self) -> float:
        """VmHWM of the Spark JVM (the gateway's child) plus this
        Python driver process."""
        return vm_hwm_mb(self.sc._gateway.proc.pid) + vm_hwm_mb(os.getpid())

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group, False)

    def drain(self) -> None:
        """Wait until the status listeners have seen every event."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def group_stats(self, group: str, t0_ms: float, t1_ms: float) -> dict:
        """Stage and task totals of every job run under ``group``, and
        the op's driver time: its wall time outside every stage-active
        interval."""
        jobs = self.store.jobsList(None)
        job_stages = []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if _opt(job.jobGroup()) != group:
                continue
            ids = job.stageIds()
            sub, done = _opt(job.submissionTime()), _opt(job.completionTime())
            job_stages.append((
                sub.getTime() if sub else t0_ms,
                done.getTime() if done else t1_ms,
                [ids.apply(k) for k in range(ids.size())],
            ))
        stage_ids = {s for _, _, ids in job_stages for s in ids}
        stage_tasks = {}
        out = dict.fromkeys(
            ["stages", "tasks", "failed_tasks", "executor_run_s",
             "executor_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
             "spill_mb"], 0.0)
        out["jobs"] = len(job_stages)
        intervals, skews = [], []
        for sid in sorted(stage_ids):
            sd = self.store.lastStageAttempt(sid)
            if sd.status().toString() not in ("COMPLETE", "FAILED"):
                continue  # skipped: its output was reused
            out["stages"] += 1
            stage_tasks[sid] = sd.numCompleteTasks() + sd.numFailedTasks()
            out["tasks"] += stage_tasks[sid]
            out["failed_tasks"] += sd.numFailedTasks()
            run_s = sd.executorRunTime() / 1000
            out["executor_run_s"] += run_s
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1000
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
            sub, done = _opt(sd.submissionTime()), _opt(sd.completionTime())
            if sub is not None and done is not None:
                a = max(sub.getTime(), t0_ms)
                b = min(done.getTime(), t1_ms)
                if b > a:
                    intervals.append((a, b))
            if sd.numCompleteTasks() >= 2:
                summ = _opt(self.store.taskSummary(
                    sd.stageId(), sd.attemptId(), self._quantiles))
                if summ is not None:
                    rt = summ.executorRunTime()
                    med, mx = rt.apply(0), rt.apply(1)
                    if med > 0:
                        skews.append((mx / med, run_s))
        active = union_length(intervals) / 1000
        out["stage_active_s"] = active
        out["driver_s"] = max(0.0, (t1_ms - t0_ms) / 1000 - active)
        out["skews"] = skews
        out["jobs_detail"] = [
            (sub, done, sum(stage_tasks.get(s, 0) for s in ids))
            for sub, done, ids in job_stages
        ]
        return out

    def last_execution_id(self) -> int:
        ex = self.sql_store.executionsList()
        n = ex.size()
        return max((ex.apply(i).executionId() for i in range(n)), default=-1)

    def join_and_root_rows(self, after_eid: int) -> tuple[int, int]:
        """Rows out of every join node, and rows out of the topmost
        row-counting node, over the SQL executions after ``after_eid``
        (the way ``tools/explode_audit.py`` reads plan metrics)."""
        ex = self.sql_store.executionsList()
        joined = root = 0
        for i in range(ex.size()):
            eid = ex.apply(i).executionId()
            if eid <= after_eid:
                continue
            values = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes()
            top = None
            for j in range(nodes.size()):
                node = nodes.apply(j)
                rows = _row_metric(node, values)
                if rows < 0:
                    continue
                if "Join" in node.name():
                    joined += rows
                if top is None or node.id() < top[0]:
                    top = (node.id(), rows)
            if top is not None:
                root = top[1]
        return joined, root


def _row_metric(node, values) -> int:
    ms = node.metrics()
    for j in range(ms.size()):
        met = ms.apply(j)
        if met.name() == "number of output rows":
            v = values.get(met.accumulatorId())
            if v is None or v.isEmpty():
                return -1
            digits = "".join(c for c in str(v.get()) if c.isdigit())
            return int(digits) if digits else -1
    return -1


def weighted_skew(skews: list[tuple[float, float]]) -> float:
    """Per-stage max/median task run time, weighted by stage run time
    so the stages that cost the most dominate."""
    total = sum(w for _, w in skews)
    if total <= 0:
        return median([s for s, _ in skews]) if skews else 1.0
    return sum(s * w for s, w in skews) / total


def engine_layer(stats: list[dict], nproc: int, passes: int) -> dict[str, float]:
    """Engine metrics over the ``group_stats`` of a workload's traced
    ops: per-pass totals, the median op's driver time, and ratios over
    the whole traced phase."""
    keys = ["jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
            "executor_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
            "spill_mb"]
    out = {f"spark.{k}": sum(s[k] for s in stats) / passes for k in keys}
    out["spark.driver_s"] = median([s["driver_s"] for s in stats])
    slots = nproc * sum(s["stage_active_s"] for s in stats)
    run_s = sum(s["executor_run_s"] for s in stats)
    out["spark.slot_idle_ratio"] = 1 - run_s / slots if slots > 0 else 0.0
    out["spark.task_skew"] = weighted_skew([k for s in stats for k in s["skews"]])
    return out
