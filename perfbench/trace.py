"""Spans around benchmark calls and per-job-group Spark metrics.

A Tracer is a no-op unless enabled (the untraced end-to-end runs). When
enabled, every benchmark call runs under its own Spark job group and leaves
a span (name, start, end, parent, op id) in memory; stage metrics for each
job group come from the driver's status store through the local UI's REST
API once the run ends, so no request is made while an operation is timed.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time
import urllib.parse
import urllib.request


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Time one call; yields the span dict (its op id is the job group)."""
        op_id = next(self._ids)
        rec = {"name": name, "op_id": op_id,
               "parent": self._stack[-1] if self._stack else None}
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobGroup(f"perfbench-{op_id}", name, False)
            self._stack.append(op_id)
        c0 = tree_cpu_s()
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            rec["cpu_s"] = tree_cpu_s() - c0
            if self.enabled:
                self._stack.pop()
                parent = self._stack[-1] if self._stack else None
                if parent is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    sc.setJobGroup(f"perfbench-{parent}", "", False)
                self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by this process and all its descendants (the
    Spark JVM and its Python workers), reaped children included. Time the
    hypervisor steals from the VM is not counted, so this moves much less
    with other tenants' load than wall time does."""
    root = os.getpid() if root is None else root
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we looked
            continue
        # fields[1] = ppid; [11:15] = utime stime cutime cstime (in ticks)
        procs[int(pid)] = (int(fields[1]), sum(map(int, fields[11:15])))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return total / _TICK


class StatusStore:
    """Per-job-group stage metrics from the live application's REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def snapshot(self, settle_s: float = 10.0) -> dict[str, dict]:
        """job group -> totals over its jobs and their stages. Waits until the
        listener has recorded every job as finished."""
        deadline = time.time() + settle_s
        while True:
            jobs = self._get("/jobs")
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                break
            time.sleep(0.2)
        stages = {}
        for s in self._get("/stages"):
            stages.setdefault(s["stageId"], []).append(s)
        out: dict[str, dict] = {}
        for j in jobs:
            g = j.get("jobGroup")
            if not g:
                continue
            acc = out.setdefault(g, {"jobs": 0, "stages": 0, "tasks": 0,
                                     "executor_run_s": 0.0,
                                     "executor_cpu_s": 0.0,
                                     "shuffle_write_bytes": 0,
                                     "result_bytes": 0, "intervals": []})
            acc["jobs"] += 1
            for sid in j["stageIds"]:
                for s in stages.get(sid, []):
                    if s["status"] == "SKIPPED":
                        continue
                    acc["stages"] += 1
                    acc["tasks"] += s["numTasks"]
                    acc["executor_run_s"] += s["executorRunTime"] / 1e3
                    acc["executor_cpu_s"] += s["executorCpuTime"] / 1e9
                    acc["shuffle_write_bytes"] += s["shuffleWriteBytes"]
                    acc["result_bytes"] += s.get("resultSize", 0)
                    if s.get("submissionTime") and s.get("completionTime"):
                        acc["intervals"].append(
                            (_epoch(s["submissionTime"]),
                             _epoch(s["completionTime"])))
        return out


def _epoch(ts: str) -> float:
    """Spark REST timestamps ('2026-01-01T00:00:00.000GMT') -> epoch s."""
    import datetime as dt

    t = dt.datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of the intervals."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total
