"""Shuffle bytes and task-time skew per job group, from the Spark driver
UI's REST API (``/api/v1``).

The UI's status store is filled by an asynchronous listener, so ``fetch``
waits until every job of the wanted groups has finished before reading.
``group_stats`` is a pure function over the decoded payloads, so it can be
tested on a canned payload.
"""

from __future__ import annotations

import json
import time
import urllib.parse
import urllib.request
from typing import Callable, Dict, Iterable, List


def _get(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as r:
        return json.load(r)


def local_ui(spark) -> str:
    """REST base URL of this application, over the loopback interface."""
    port = urllib.parse.urlparse(spark.sparkContext.uiWebUrl).port
    app = spark.sparkContext.applicationId
    return f"http://127.0.0.1:{port}/api/v1/applications/{app}"


def fetch(base: str, groups: Iterable[str], timeout_s: float = 20.0):
    """(jobs of ``groups``, complete stages keyed by (id, attempt))."""
    groups = set(groups)
    deadline = time.monotonic() + timeout_s
    while True:
        jobs = [j for j in _get(base, "/jobs") if j.get("jobGroup") in groups]
        if all(j["status"] != "RUNNING" for j in jobs) or \
                time.monotonic() > deadline:
            break
        time.sleep(0.2)
    stages = {(s["stageId"], s["attemptId"]): s
              for s in _get(base, "/stages?status=complete")}
    return jobs, stages


def task_summary_fetcher(base: str) -> Callable[[dict], dict]:
    def get(stage: dict) -> dict:
        return _get(base, f"/stages/{stage['stageId']}/{stage['attemptId']}"
                          "/taskSummary?quantiles=0.5,1.0")
    return get


def group_stats(groups: Iterable[str], jobs: List[dict],
                stages: Dict[tuple, dict],
                task_summary: Callable[[dict], dict]) -> Dict[str, float]:
    """Shuffle write (MB) of the complete stages run by jobs of ``groups``,
    and the task skew of the largest of them by executor run time:
    max over median task run time (1.0 when no stage ran)."""
    groups = set(groups)
    stage_ids = {sid for j in jobs if j.get("jobGroup") in groups
                 for sid in j["stageIds"]}
    latest: Dict[int, dict] = {}
    for (sid, att), s in stages.items():
        if sid in stage_ids and (sid not in latest
                                 or att > latest[sid]["attemptId"]):
            latest[sid] = s
    shuffle = sum(s.get("shuffleWriteBytes", 0) for s in latest.values())
    skew = 1.0
    if latest:
        big = max(latest.values(), key=lambda s: s["executorRunTime"])
        med, top = task_summary(big)["executorRunTime"]
        # run times are whole milliseconds: floor both at 1 ms
        skew = max(top, 1.0) / max(med, 1.0)
    return {"shuffle_mb": shuffle / 1e6, "task_skew": skew,
            "stages": len(latest)}
