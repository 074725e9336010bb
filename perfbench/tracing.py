"""Spans and Spark counters for the traced run.

Spans are kept in memory and written once, at the end of the run.
Counters come from the Spark UI's REST API (``/api/v1``), which the
traced run alone turns on; each measured call runs under its own job
group so its jobs, stages and SQL executions can be told apart.
"""

from __future__ import annotations

import itertools
import json
import re
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    """Spans with name, start, end, parent and trace id, in seconds from
    the tracer's creation."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()
        self._ids = itertools.count(1)
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "span_id": next(self._ids),
            "name": name,
            "parent": parent["span_id"] if parent else None,
            "trace_id": trace_id or (parent["trace_id"] if parent else name),
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(sorted(self.spans, key=lambda s: s["span_id"]), fh, indent=1)


def check_spans(spans: list[dict]) -> list[str]:
    """Problems with a span list: unknown parents, children outside their
    parent's interval or trace. Empty when the spans nest."""
    by_id = {s["span_id"]: s for s in spans}
    problems = []
    for s in spans:
        if s["end"] < s["start"]:
            problems.append(f"{s['name']}: ends before it starts")
        if s["parent"] is None:
            continue
        p = by_id.get(s["parent"])
        if p is None:
            problems.append(f"{s['name']}: unknown parent {s['parent']}")
        elif not (p["start"] <= s["start"] and s["end"] <= p["end"]):
            problems.append(f"{s['name']}: outside parent {p['name']}")
        elif p["trace_id"] != s["trace_id"]:
            problems.append(f"{s['name']}: trace id differs from parent's")
    return problems


_NUM = re.compile(r"([0-9][0-9,]*\.?[0-9]*)\s*(B|KiB|MiB|GiB|TiB)?")
_UNIT = {None: 1, "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def metric_value(text: str) -> float:
    """First total in a SQL-metric string: ``"1,234"`` or, for size
    metrics, ``"total (min, med, max ...)\\n3.9 MiB (...)"``."""
    body = text.split("\n", 1)[1] if text.startswith("total") and "\n" in text else text
    m = _NUM.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)]


class SparkRest:
    """Reads jobs, stages and SQL executions of the running application."""

    def __init__(self, sc) -> None:
        port = int(sc.uiWebUrl.rsplit(":", 1)[1])
        self._base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self._tracker = sc.statusTracker()

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._base}/{path}", timeout=30) as r:
            return json.load(r)

    def settle(self, groups: list[str], timeout: float = 20.0) -> None:
        """Wait until the UI has recorded every job of ``groups`` as ended
        (its listener runs behind the job that just returned)."""
        want = {j for g in groups for j in self._tracker.getJobIdsForGroup(g)}
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            done = {
                j["jobId"] for j in self._get("jobs")
                if j["status"] in ("SUCCEEDED", "FAILED")
            }
            if want <= done:
                return
            time.sleep(0.2)

    def snapshot(self) -> dict:
        return {
            "jobs": self._get("jobs"),
            "stages": {s["stageId"]: s for s in self._get("stages")
                       if s["status"] != "SKIPPED"},
            "sql": self._get("sql?details=true&planDescription=false&length=100000"),
        }


def group_counts(snap: dict, group: str) -> dict:
    """Job, stage, task, CPU, shuffle and failure counts of one job group."""
    jobs = [j for j in snap["jobs"] if j.get("jobGroup") == group]
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    stages = [snap["stages"][s] for s in stage_ids if s in snap["stages"]]
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["numCompleteTasks"] for s in stages),
        "cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "shuffle_b": sum(s["shuffleReadBytes"] + s["shuffleWriteBytes"] for s in stages),
        "failed_tasks": sum(s["numFailedTasks"] for s in stages),
        "job_ids": {j["jobId"] for j in jobs},
    }


def group_sql_nodes(snap: dict, job_ids: set[int]) -> list[dict]:
    """Plan nodes of the SQL executions that ran any of ``job_ids``."""
    nodes = []
    for ex in snap["sql"]:
        ran = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
        if ran & job_ids:
            nodes.extend(ex.get("nodes", []))
    return nodes


def node_metric(nodes: list[dict], node_prefix: str, metric: str) -> float:
    return sum(
        metric_value(m["value"])
        for n in nodes if n["nodeName"].startswith(node_prefix)
        for m in n.get("metrics", []) if m["name"] == metric
    )
