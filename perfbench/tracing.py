"""Tracing and measurement helpers that sit outside the engine.

- `Tracer` records spans around calls into the engine's layers, keeps them
  in memory and tags each engine call that runs Spark jobs with its own
  Spark job group.
- `spark_group_metrics` reads the per-job and per-stage metrics that
  Spark's status API already exposes on the driver's UI port, and sums
  them per job group.
- `RssSampler` follows the resident memory of the whole process tree
  (driver, JVM and Python workers) through /proc.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from urllib.parse import urlsplit


class Tracer:
    """Spans at layer boundaries: name, start, end, parent span and the
    operation (one refresh or one pass) they belong to. Disabled tracers
    record nothing and leave job groups alone."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.op = None  # id shared by every span of the current operation
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, job_group: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        if job_group:
            rec["group"] = f"{name}#{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if job_group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, name: str, fn, job_group: bool = False):
        """`fn` with every call recorded as a span named `name`."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, job_group):
                return fn(*args, **kwargs)

        return wrapper

    def total(self, name: str, ops=None) -> float:
        """Summed duration of the spans called `name` (of operations `ops`)."""
        return sum(s["end"] - s["start"] for s in self.named(name, ops))

    def named(self, name: str, ops=None) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and (ops is None or s["op"] in ops)
        ]

    def dump(self, path) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def spark_group_metrics(sc) -> dict[str, dict]:
    """Per job group: jobs, completed stages and their summed task metrics
    (tasks, executor run time, GC time, shuffle bytes written), plus the
    stages themselves and the SQL plan-node metrics of the group's
    queries. Reads the driver's own status API on localhost."""
    try:  # let the status store catch up with the last finished jobs
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:  # noqa: BLE001 - internal API; fall back to a pause
        time.sleep(2)
    port = urlsplit(sc.uiWebUrl).port
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    jobs = _get_json(f"{base}/jobs")
    stages = defaultdict(list)
    for st in _get_json(f"{base}/stages"):
        if st["status"] in ("COMPLETE", "FAILED"):
            stages[st["stageId"]].append(st)
    job_group = {}
    out: dict[str, dict] = defaultdict(
        lambda: {
            "jobs": 0, "tasks": 0, "busy_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0,
            "stages": [], "sql_nodes": [],
        }
    )
    for job in jobs:
        group = job.get("jobGroup")
        if not group:
            continue
        job_group[job["jobId"]] = group
        g = out[group]
        g["jobs"] += 1
        for sid in job["stageIds"]:
            for st in stages.pop(sid, ()):  # a stage shared by two jobs counts once
                g["stages"].append(st)
                g["tasks"] += st["numCompleteTasks"]
                g["busy_s"] += st["executorRunTime"] / 1000
                g["gc_s"] += st["jvmGcTime"] / 1000
                g["shuffle_bytes"] += st["shuffleWriteBytes"]
    for execution in _get_json(f"{base}/sql?details=true&planDescription=false&length=100000"):
        groups = {job_group.get(j) for j in execution.get("successJobIds", [])} - {None}
        for group in groups:
            out[group]["sql_nodes"].extend(execution.get("nodes", []))
    return dict(out)


def sql_metric(nodes: list[dict], node_name: str, metric: str) -> int:
    """Sum of one integer plan-node metric (e.g. "number of output rows")
    over the nodes called `node_name`."""
    total = 0
    for node in nodes:
        if node.get("nodeName") != node_name:
            continue
        for m in node.get("metrics", []):
            if m["name"] == metric:
                total += int(m["value"].replace(",", ""))
    return total


def descendants(root_pid: int) -> list[int]:
    """Pids of every process below `root_pid` in the process tree."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        children[int(stat.rsplit(")", 1)[1].split()[1])].append(int(entry))
    out, todo = [], list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Resident memory of `root_pid` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the process tree's resident memory every `interval` seconds
    on a daemon thread and keeps the peak since the window opened."""

    def __init__(self, interval: float = 0.1, enabled: bool = True):
        self.interval, self.enabled = interval, enabled
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = tree_rss_bytes(os.getpid())
        with self._lock:
            self._peak = max(self._peak, rss)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def new_window(self) -> None:
        with self._lock:
            self._peak = 0

    def window_peak(self) -> int:
        """Peak resident bytes since the last `new_window`."""
        self._sample()
        with self._lock:
            return self._peak

    def __enter__(self):
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self.enabled:
            self._thread.join()
