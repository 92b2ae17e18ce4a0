"""Job-group executor task-time + per-stage profiles via the Spark UI
REST API — the scale tools' shared discriminator (r13).

Wall time on a local[32] box conflates executor compute with stage
scheduling latency, page-cache state, and ambient load; executor
task-time (Σ executorRunTime over exactly the stages of one job
group's jobs) moves only when the PLAN or the COMPUTE changed.
bench.py reads it per gate-battery sample (job-group attribution,
ADVICE r12); the scale tools read it per LEG plus a per-stage profile
so a superlinear decade factor can be attributed to the specific
stage that grew.

Best-effort by design: any REST failure returns None/[] — the wall
is never blocked on metrics.
"""

from __future__ import annotations

import json
import urllib.request


def _get(url: str):
    return json.load(urllib.request.urlopen(url, timeout=10))


class GroupMetrics:
    """Per-job-group task-time and stage profiles for one running app.

    Usage:
        gm = GroupMetrics(spark)
        spark.sparkContext.setJobGroup("leg:x", "x")
        ... run the action ...
        spark.sparkContext.setJobGroup("", "")
        secs = gm.task_time_s("leg:x")
        stages = gm.stage_profile("leg:x")   # heaviest first
    """

    def __init__(self, spark):
        self._spark = spark
        self._sc = spark.sparkContext
        self._ui = self._sc.uiWebUrl
        self._app_id = None

    def _app(self) -> str | None:
        if self._app_id is None:
            try:
                self._app_id = _get(f"{self._ui}/api/v1/applications")[0][
                    "id"
                ]
            except Exception:  # noqa: BLE001
                return None
        return self._app_id

    def _group_stage_ids(self, group_id: str) -> set[int]:
        app = self._app()
        if app is None:
            return set()
        try:
            jobs = _get(f"{self._ui}/api/v1/applications/{app}/jobs")
        except Exception:  # noqa: BLE001
            return set()
        ids: set[int] = set()
        for j in jobs:
            if j.get("jobGroup") == group_id:
                ids.update(j.get("stageIds", []))
        return ids

    def _stages(self) -> list[dict]:
        app = self._app()
        if app is None:
            return []
        try:
            return _get(
                f"{self._ui}/api/v1/applications/{app}/stages"
                "?status=complete"
            )
        except Exception:  # noqa: BLE001
            return []

    def task_time_s(self, group_id: str) -> float | None:
        ids = self._group_stage_ids(group_id)
        if not ids:
            return None
        stages = self._stages()
        if not stages:
            return None
        ms = sum(
            s.get("executorRunTime", 0)
            for s in stages
            if s.get("stageId") in ids
        )
        return round(ms / 1000.0, 3)

    def stage_profile(self, group_id: str, top: int = 12) -> list[dict]:
        """Heaviest stages of the group: executorRunTime, task count,
        shuffle read/write bytes, spill — enough to see WHICH stage a
        decade factor lives in."""
        ids = self._group_stage_ids(group_id)
        rows = []
        for s in self._stages():
            if s.get("stageId") not in ids:
                continue
            rows.append(
                {
                    "stage": s.get("stageId"),
                    "name": (s.get("name") or "")[:60],
                    "run_s": round(s.get("executorRunTime", 0) / 1000, 1),
                    "tasks": s.get("numCompleteTasks"),
                    "shuf_read_mb": round(
                        s.get("shuffleReadBytes", 0) / 1e6, 1
                    ),
                    "shuf_write_mb": round(
                        s.get("shuffleWriteBytes", 0) / 1e6, 1
                    ),
                    "spill_mb": round(
                        s.get("diskBytesSpilled", 0) / 1e6, 1
                    ),
                    "mem_spill_mb": round(
                        s.get("memoryBytesSpilled", 0) / 1e6, 1
                    ),
                }
            )
        rows.sort(key=lambda r: -r["run_s"])
        return rows[:top]

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores hold the group's finished stages and plans."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def skew_join_split(self, group_id: str) -> bool:
        """Whether AQE split a skewed join in a plan the group ran.

        Reads the SQL executions the group started, whose stored plan
        is the final adaptive plan once they ran.  A DataFrame's own
        ``queryExecution`` is the wrong place: a write or another
        action plans and runs its own QueryExecution, so the
        DataFrame's adaptive plan never runs and never splits.  Works
        with the UI off (the SQL status listener always runs)."""
        self.drain()
        store = self._spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        return any(
            execs.apply(i).description() == group_id
            and "skew=true" in execs.apply(i).physicalPlanDescription()
            for i in range(execs.size())
        )
