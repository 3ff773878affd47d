"""Tracing for the traced run.

Spans are recorded around the benchmark's own calls into the engine and
kept in memory until the run ends. Per-layer numbers come from Spark's
own accounting, read from outside the engine: the status tracker gives
the jobs of each per-query job group, and the loopback UI REST API gives
job, stage, SQL-plan and storage figures for those jobs.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.request
from datetime import datetime
from urllib.parse import urlparse

# Physical plan nodes that run Python workers (pandas/Arrow UDF lanes).
PY_NODE = re.compile(r"Pandas|Python|InArrow")
STAGE_REF = re.compile(r"stage (\d+)\.\d+")
_UNITS = {
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_DONE_JOB = {"SUCCEEDED", "FAILED"}


class Spans:
    """An in-memory span tree: name, start, end and the parent span."""

    def __init__(self) -> None:
        self.items: list[dict] = []

    def open(self, name: str, parent: int | None, start: float | None = None, **attrs) -> int:
        self.items.append({
            "id": len(self.items), "parent": parent, "name": name,
            "start": time.time() if start is None else start, "end": None, **attrs,
        })
        return len(self.items) - 1

    def close(self, span: int, end: float | None = None, **attrs) -> None:
        self.items[span]["end"] = time.time() if end is None else end
        self.items[span].update(attrs)

    def add(self, name: str, parent: int, start: float, end: float, **attrs) -> int:
        span = self.open(name, parent, start, **attrs)
        self.close(span, end)
        return span

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.items, f)


def metric_value(text: str) -> float:
    """Parse one SQL UI metric string ("1,234", "12 ms", "3.1 MiB", or the
    "total (min, med, max ...)" form) into a number in base units."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def _epoch(stamp: str | None) -> float | None:
    if not stamp:
        return None
    return datetime.strptime(stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class SparkAccounting:
    """Reads the status tracker and the UI REST API of one application."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.sc = sc
        port = urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        # loopback only: never route through a proxy from the environment
        self.opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))
        self.sql_last = -1  # id of the newest SQL execution already read

    def get(self, path: str):
        with self.opener.open(self.base + path, timeout=30) as r:
            return json.load(r)

    def _poll(self, fetch, done, timeout: float = 20.0):
        deadline = time.time() + timeout
        while True:
            value = fetch()
            if done(value) or time.time() > deadline:
                return value
            time.sleep(0.02)

    def _sql_ids(self) -> list[int]:
        execs = self.get("/sql?details=false&planDescription=false&length=100000")
        return [e["id"] for e in execs]

    def skip_sql(self) -> None:
        """Mark every SQL execution so far as not belonging to a query."""
        self.sql_last = max(self._sql_ids(), default=self.sql_last)

    def _new_sql(self) -> list[dict]:
        """The SQL executions started since the last call, in full. They
        are found by id, not by list position: the UI evicts the oldest
        executions once it holds spark.sql.ui.retainedExecutions."""
        new = sorted(i for i in self._sql_ids() if i > self.sql_last)
        self.sql_last = max(new, default=self.sql_last)
        return [
            self._poll(
                lambda i=i: self.get(f"/sql/{i}?details=true&planDescription=true"),
                lambda e: e["status"] != "RUNNING",
            )
            for i in new
        ]

    def query(self, groups: dict[str, str], start: float, end: float, spans: Spans,
              parents: dict[str, int]) -> dict:
        """Per-layer figures of one query whose jobs ran in ``groups``
        (``{"build": group, "execute": group}``) between ``start`` and
        ``end``. Job and stage intervals are added to ``spans`` under the
        span of their group's phase."""
        # the status store is fed by the async listener bus: let it catch up
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        q = dict.fromkeys(COUNTERS, 0.0)
        intervals: list[tuple[float, float]] = []
        stage_run: dict[int, float] = {}
        stage_ids: set[int] = set()
        job_ids: set[int] = set()
        for phase, group in groups.items():
            ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
            job_ids.update(ids)
            q["jobs"] += len(ids)
            if phase == "build":
                q["build_jobs"] += len(ids)
            for jid in ids:
                job = self._poll(lambda: self.get(f"/jobs/{jid}"), lambda j: j["status"] in _DONE_JOB)
                js = spans.add(f"job {jid}", parents[phase], _epoch(job.get("submissionTime")) or start,
                               _epoch(job.get("completionTime")) or end, kind="job")
                for sid in job["stageIds"]:
                    if sid in stage_ids:
                        continue
                    stage_ids.add(sid)
                    self._stage(sid, q, spans, js, intervals, stage_run)
        py_stages = self._sql(job_ids, q)
        q["py_stage_run_s"] = sum(stage_run.get(sid, 0.0) for sid in py_stages)
        q["gap_s"] = (end - start) - _covered(intervals, start, end)
        storage = self.get("/storage/rdd")
        q["cache_bytes"] = float(sum(r["memoryUsed"] + r["diskUsed"] for r in storage))
        q["cache_blocks"] = float(sum(r["numCachedPartitions"] for r in storage))
        return q

    def _stage(self, sid: int, q: dict, spans: Spans, parent: int,
               intervals: list, stage_run: dict) -> None:
        for st in self.get(f"/stages/{sid}?details=true"):
            if st["status"] in ("SKIPPED", "PENDING"):
                continue
            a, b = _epoch(st.get("submissionTime")), _epoch(st.get("completionTime"))
            if a is not None and b is not None:
                intervals.append((a, b))
                spans.add(f"stage {sid}.{st['attemptId']}", parent, a, b, kind="stage")
            run_s = st["executorRunTime"] / 1e3
            stage_run[sid] = stage_run.get(sid, 0.0) + run_s
            q["stages"] += 1
            q["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
            q["failed_tasks"] += st["numFailedTasks"]
            q["run_s"] += run_s
            q["cpu_s"] += st["executorCpuTime"] / 1e9
            q["gc_s"] += st.get("jvmGcTime", 0) / 1e3
            q["bytes_read"] += st["inputBytes"]
            q["rows_read"] += st["inputRecords"]
            q["bytes_written"] += st["outputBytes"]
            if st["outputBytes"] > 0:
                q["write_s"] += run_s
            q["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            q["shuffle_read_bytes"] += st["shuffleReadBytes"]
            q["fetch_wait_s"] += st.get("shuffleFetchWaitTime", 0) / 1e3
            q["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
            for task in (st.get("tasks") or {}).values():
                m = task.get("taskMetrics") or {}
                rows = m.get("inputMetrics", {}).get("recordsRead", 0) + m.get(
                    "shuffleReadMetrics", {}
                ).get("recordsRead", 0)
                q["empty_tasks"] += rows == 0

    def _sql(self, job_ids: set[int], q: dict) -> set[int]:
        """Add the plan figures of the query's SQL executions to ``q``;
        return the ids of the stages that ran a Python node."""
        py_stages: set[int] = set()
        for e in self._new_sql():
            ids = set(e.get("successJobIds", [])) | set(e.get("failedJobIds", []))
            if job_ids and not ids & job_ids:
                continue
            final = e.get("planDescription", "").split("== Initial Plan ==")[0]
            q["rr_repartitions"] += final.count("RoundRobinPartitioning")
            for node in e.get("nodes", []):
                name = node["nodeName"]
                metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
                python = bool(PY_NODE.search(name))
                q["python_nodes"] += python
                q["cache_scans"] += name == "InMemoryTableScan"
                q["exchanges"] += name == "Exchange"
                q["broadcasts"] += name == "BroadcastExchange"
                for key, field in SQL_METRICS.items():
                    if key in metrics:
                        q[field] += metric_value(metrics[key])
                if python:
                    if "number of output rows" in metrics:
                        q["py_rows_out"] += metric_value(metrics["number of output rows"])
                    for text in metrics.values():
                        py_stages.update(int(s) for s in STAGE_REF.findall(text))
        return py_stages


# SQL UI metric name -> per-query counter.
SQL_METRICS = {
    "scan time": "scan_s",
    "number of files read": "files_read",
    "number of written files": "files_written",
    "time to build": "broadcast_build_s",
    "time to collect": "broadcast_collect_s",
    "data sent to Python workers": "py_bytes_to",
    "data returned from Python workers": "py_bytes_from",
}

COUNTERS = (
    "jobs", "build_jobs", "stages", "tasks", "failed_tasks", "empty_tasks",
    "run_s", "cpu_s", "gc_s", "bytes_read", "rows_read", "bytes_written", "write_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s", "spill_bytes",
    "rr_repartitions", "python_nodes", "cache_scans", "exchanges", "broadcasts",
    "py_rows_out", "py_stage_run_s", "gap_s", "cache_bytes", "cache_blocks",
    *SQL_METRICS.values(),
)


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process in MB, 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def python_workers(jvm_pid: int) -> list[int]:
    """Pids of the Python daemon and workers that descend from the JVM."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out = []
    for pid in parent:
        p, seen = parent.get(pid), 0
        while p and p != jvm_pid and seen < 64:
            p, seen = parent.get(p), seen + 1
        if p == jvm_pid:
            out.append(pid)
    return out
