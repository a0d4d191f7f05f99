"""Spark event-log parsing into the executor-level per-layer metrics.

Only jobs submitted inside the measured window count, so set-up,
warm-up and side-pass jobs logged in the same application are left out.
Micro-batch jobs carry the ``streaming.sql.batchId`` property, which
gives the per-micro-batch task count.
"""

from __future__ import annotations

import glob
import json
import os
import statistics


def _plan_metric_ids(plan: dict, name: str, out: set[int]) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") == name:
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _plan_metric_ids(child, name, out)


def parse_event_logs(log_dir: str, since_ms: float, until_ms: float) -> dict[str, float]:
    """Sum task metrics over every event-log file in ``log_dir``, for the
    jobs and SQL executions that started in ``[since_ms, until_ms)``."""
    stage_job: dict[int, int] = {}
    job_batch: dict[int, str] = {}
    files_read_ids: set[int] = set()
    tasks_per_batch: dict[tuple, int] = {}
    out = {
        "task.count": 0,
        "task.run_ms": 0,
        "task.gc_ms": 0,
        "shuffle.write_bytes": 0,
        "shuffle.read_bytes": 0,
        "spill.bytes": 0,
    }
    accum_updates: list[tuple[int, int]] = []
    executions: set[int] = set()
    paths = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True) if os.path.isfile(p)]
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    if not since_ms <= ev.get("Submission Time", 0) < until_ms:
                        continue
                    jid = ev["Job ID"]
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                    props = ev.get("Properties") or {}
                    if "streaming.sql.batchId" in props:
                        job_batch[jid] = (props.get("sql.streaming.queryId"), props["streaming.sql.batchId"])
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev.get("Stage ID"))
                    if jid is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    out["task.count"] += 1
                    out["task.run_ms"] += m.get("Executor Run Time", 0)
                    out["task.gc_ms"] += m.get("JVM GC Time", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    out["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    out["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    out["spill.bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    if jid in job_batch:
                        key = job_batch[jid]
                        tasks_per_batch[key] = tasks_per_batch.get(key, 0) + 1
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    if since_ms <= ev.get("time", 0) < until_ms:
                        executions.add(ev["executionId"])
                    _plan_metric_ids(ev.get("sparkPlanInfo", {}), "number of files read", files_read_ids)
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_metric_ids(ev.get("sparkPlanInfo", {}), "number of files read", files_read_ids)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    if ev.get("executionId") in executions:
                        accum_updates.extend((a, v) for a, v in ev.get("accumUpdates", []))
    files_read = sum(v for a, v in accum_updates if a in files_read_ids)
    out["scan.files_read"] = files_read
    out["task.count_per_batch"] = (
        float(statistics.median(tasks_per_batch.values())) if tasks_per_batch else 0.0
    )
    return {k: float(v) for k, v in out.items()}
