"""Runtime facts from the Spark status REST API.

The reference's step/task DMVs expose Data-Movement-Service byte counters:
``microsoft.vw_query_step_details.sql:24-33`` joins per-step shuffle worker
bytes/rows, ``MemoryConsumption.sql:24-35`` / ``TempdbConsumption.sql:2-7`` /
``query_memory_usage.sql:22-42`` report per-query memory grants and tempdb
spill.  Spark already tracks the exact analogues per stage — shuffle
read/write bytes+records, memory/disk spill, peak execution memory — in the
app status store, served by the public monitoring REST API
(``{uiWebUrl}/api/v1/applications/{appId}/...``).

This module decides where runtime facts come from; every REST read is one
GET through ``_get``.  ``request_stages`` joins one ``/jobs`` read (each
job's ``jobGroup`` — the engine's request id — and ``stageIds``) to one
``/stages`` read for ``Engine.task_requests``; ``executor_metrics`` reads
``/executors`` for the node DMVs.  No py4j listener or per-job py4j calls.
When the UI is disabled (``spark.ui.enabled=false``;
``session.build_session`` always turns it on) every read returns nothing
rather than failing: ``task_requests()`` is empty and the DMVs stay
queryable.
"""

from __future__ import annotations

import json
import urllib.request
from typing import Any

#: StageData fields we surface, with the DMV column each feeds.
_FIELDS = {
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleReadRecords": "shuffle_read_rows",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleWriteRecords": "shuffle_write_rows",
    "memoryBytesSpilled": "memory_spill_bytes",
    "diskBytesSpilled": "disk_spill_bytes",
    "peakExecutionMemory": "peak_memory_bytes",
    "inputBytes": "input_bytes",
    "outputBytes": "output_bytes",
    "executorRunTime": "executor_run_ms",
}


#: ExecutorSummary fields → node DMV columns (sys.dm_pdw_nodes parity:
#: one Spark executor = one compute node; the driver = the control node).
_EXEC_FIELDS = {
    "rddBlocks": "rdd_blocks",
    "memoryUsed": "memory_used_bytes",
    "diskUsed": "disk_used_bytes",
    "totalCores": "total_cores",
    "maxTasks": "max_tasks",
    "activeTasks": "active_tasks",
    "completedTasks": "completed_tasks",
    "failedTasks": "failed_tasks",
    "totalDuration": "total_task_ms",
    "totalGCTime": "total_gc_ms",
    "totalInputBytes": "input_bytes",
    "totalShuffleRead": "shuffle_read_bytes",
    "totalShuffleWrite": "shuffle_write_bytes",
    "maxMemory": "max_memory_bytes",
}


def _get(spark, path: str) -> list[dict[str, Any]]:
    """One GET of ``{uiWebUrl}/api/v1/applications/{appId}/{path}``; an
    empty list when the UI/REST server is off or the read fails (metrics
    must never break a DMV query)."""
    sc = spark.sparkContext
    base = sc.uiWebUrl
    if not base:
        return []
    url = f"{base}/api/v1/applications/{sc.applicationId}/{path}"
    try:
        with urllib.request.urlopen(url, timeout=10) as resp:
            return json.load(resp)
    except Exception:  # noqa: BLE001
        return []


def executor_metrics(spark) -> list[dict]:
    """One row per executor (+ the driver) from ``/executors`` — feeds the
    node-level DMV (sys.dm_pdw_nodes / per-node resource usage)."""
    out = []
    for e in _get(spark, "executors"):
        row = {
            "node_id": str(e.get("id", "")),
            "node_type": "CONTROL" if e.get("id") == "driver" else "COMPUTE",
            "host_port": str(e.get("hostPort", "")),
            "is_active": bool(e.get("isActive", False)),
        }
        for field, col in _EXEC_FIELDS.items():
            row[col] = int(e.get(field, 0) or 0)
        out.append(row)
    return out


def _stages(spark) -> dict[int, dict[str, Any]]:
    """{stage_id: StageData} from one ``/stages`` read; the latest attempt
    wins."""
    out: dict[int, dict[str, Any]] = {}
    for s in _get(spark, "stages?details=false"):
        sid = s.get("stageId")
        if sid is None:
            continue
        if sid not in out or out[sid].get("attemptId", 0) <= s.get("attemptId", 0):
            out[sid] = s
    return out


def _counters(stage: dict[str, Any]) -> dict[str, int]:
    return {col: int(stage.get(field, 0) or 0) for field, col in _FIELDS.items()}


def stage_metrics(spark) -> dict[int, dict[str, int]]:
    """{stage_id: {dmv_column: value}} for every stage the status store
    still holds."""
    return {sid: _counters(s) for sid, s in _stages(spark).items()}


def request_stages(spark, request_ids: list[str]) -> list[tuple]:
    """One row per (request, job, stage) for the jobs run under one of
    ``request_ids`` (their job group): ``(request_id, job_id, stage_id,
    stage_name, num_tasks, completed_tasks, failed_tasks, *counters)`` with
    the counters in ``_FIELDS`` order.  One ``/jobs`` read and one
    ``/stages`` read; stages the status store has evicted are skipped."""
    order = {rid: i for i, rid in enumerate(request_ids)}
    jobs = sorted(
        (j for j in _get(spark, "jobs") if j.get("jobGroup") in order),
        key=lambda j: (order[j["jobGroup"]], j["jobId"]),
    )
    if not jobs:
        return []
    stages = _stages(spark)
    rows = []
    for j in jobs:
        for sid in j.get("stageIds", []):
            s = stages.get(sid)
            if s is None:
                continue
            rows.append(
                (j["jobGroup"], j["jobId"], sid, s.get("name", "")[:200],
                 s.get("numTasks", 0), s.get("numCompleteTasks", 0),
                 s.get("numFailedTasks", 0), *_counters(s).values())
            )
    return rows


def jvm_memory(spark) -> tuple[int, int]:
    """(committed_bytes, max_bytes) of the driver JVM."""
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    return int(rt.totalMemory()), int(rt.maxMemory())
