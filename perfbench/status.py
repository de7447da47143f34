"""Out-of-process views of a run: Spark's status store, read through the
``/api/v1`` REST endpoint of the live UI, and the resident memory of the
whole process tree, read from ``/proc``.

Both read the program from outside; nothing here reaches into
``docprompt_spark``.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request


class StatusStore:
    """Per-job-group stage metrics from the live application's REST API."""

    def __init__(self, sc) -> None:
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def group_stages(self, group: str, timeout: float = 30.0) -> list:
        """Completed stages of every job in ``group``, waiting for the
        listener bus to deliver the last task-end events."""
        deadline = time.monotonic() + timeout
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            stage_ids = {s for j in jobs for s in j["stageIds"]}
            stages = [s for s in self._get("/stages") if s["stageId"] in stage_ids]
            settled = all(j["status"] != "RUNNING" for j in jobs) and all(
                s["numCompleteTasks"] + s["numFailedTasks"] >= s["numTasks"]
                for s in stages
                if s["status"] == "COMPLETE"
            )
            if settled or time.monotonic() > deadline:
                return [s for s in stages if s["status"] == "COMPLETE"]
            time.sleep(0.2)

    def task_durations(self, stage: dict) -> list:
        """Run time in seconds of each successful task of one stage."""
        tasks = self._get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}/taskList?length=100000"
        )
        return [
            t["taskMetrics"]["executorRunTime"] / 1000.0
            for t in tasks
            if t.get("status") == "SUCCESS" and "taskMetrics" in t
        ]


def stage_totals(stages: list) -> dict:
    mb = 1024.0 * 1024.0
    return {
        "task_run_s": sum(s["executorRunTime"] for s in stages) / 1000.0,
        "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / mb,
        "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages) / mb,
    }


def _children() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list:
    kids, todo, found = _children(), [root], []
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        found.append(pid)
    return found[1:]


class PeakRss:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers) over a window: each process's kernel-kept
    high-water mark (``VmHWM``) is reset when the window opens and summed
    when it closes. A process that ends inside the window is not counted."""

    def _tree(self) -> list:
        return [os.getpid()] + descendants(os.getpid())

    def __enter__(self) -> "PeakRss":
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                continue  # the process ended while we looked
        return self

    def __exit__(self, *exc) -> None:
        kb = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/status") as f:
                    kb += next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
            except (OSError, StopIteration, ValueError):
                continue
        self.peak_mb = kb / 1024.0
