"""The benchmark's one reader of Spark's monitoring REST API.

Every Spark job the benchmark triggers runs under a job group
``<workload>:<op>:<phase>`` (see ``tracing.Tracer.phase``). This module
reads the application's jobs, stages and SQL executions once, after the
measured work, and sums stage metrics per label.
"""

from __future__ import annotations

import json
import urllib.request
from dataclasses import dataclass, field

# Stage fields summed per label; names are the REST API's.
STAGE_FIELDS = (
    "executorRunTime",  # ms
    "executorCpuTime",  # ns
    "jvmGcTime",  # ms
    "shuffleWriteBytes",
    "shuffleReadBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "inputBytes",
    "inputRecords",
    "outputBytes",
    "numCompleteTasks",
    "numFailedTasks",
)


@dataclass
class LabelStats:
    """Stage metrics summed over the jobs of one job-group label."""

    jobs: int = 0
    stages: int = 0
    skipped_stages: int = 0
    totals: dict[str, int] = field(default_factory=lambda: dict.fromkeys(STAGE_FIELDS, 0))


@dataclass
class SqlExecution:
    id: int
    label: str
    duration_ms: int
    nodes: list[dict]


class SparkStatus:
    """Snapshot reader over ``<ui>/api/v1/applications/<app>/``."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("the Spark UI is disabled; the status API is unavailable")
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._base}/{path}", timeout=60) as r:
            return json.load(r)

    def by_label(self) -> dict[str, LabelStats]:
        """Stage metrics of every finished job, summed per job group."""
        stages: dict[int, list[dict]] = {}
        for s in self._get("stages"):
            stages.setdefault(s["stageId"], []).append(s)
        out: dict[str, LabelStats] = {}
        counted: set[int] = set()  # a stage reused by a later job counts once
        for job in sorted(self._get("jobs"), key=lambda j: j["jobId"]):
            label = job.get("jobGroup")
            if not label or job.get("status") == "RUNNING":
                continue
            st = out.setdefault(label, LabelStats())
            st.jobs += 1
            st.stages += len(job.get("stageIds", []))
            st.skipped_stages += job.get("numSkippedStages", 0)
            for sid in job.get("stageIds", []):
                if sid in counted:
                    continue
                counted.add(sid)
                for s in stages.get(sid, []):
                    if s.get("status") != "SKIPPED":
                        for k in STAGE_FIELDS:
                            st.totals[k] += int(s.get(k, 0))
        return out

    def sql_executions(self, details: bool = False) -> list[SqlExecution]:
        """Every SQL execution, oldest first; ``label`` is its description,
        which Spark takes from the job group's description."""
        rows = self._get(f"sql?details={str(details).lower()}&offset=0&length=1000000")
        return [
            SqlExecution(
                id=int(r["id"]),
                label=r.get("description", ""),
                duration_ms=int(r.get("duration", 0)),
                nodes=r.get("nodes", []) if details else [],
            )
            for r in rows
        ]


def node_rows(node: dict) -> int | None:
    """A plan node's ``number of output rows``, if the API reports it."""
    for m in node.get("metrics", []):
        if m.get("name") == "number of output rows":
            return int(str(m["value"]).replace(",", ""))
    return None
