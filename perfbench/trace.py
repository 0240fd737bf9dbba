"""Per-layer tracing from outside the engine.

Three sources, none of which changes engine code:

- Spark's own event log (turned on through ``get_spark(extra_conf=...)``)
  read back per job group: jobs, tasks, task times, input bytes,
  shuffle bytes. The benchmark labels job groups around its calls.
- Plan shape counted from a DataFrame's optimized logical plan and its
  initial physical plan.
- Wall time and call counts of the public ``CheckpointedRun`` methods,
  wrapped for the duration of a traced production run.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import statistics
import time
from collections import defaultdict

# expression names of every regex-evaluating Catalyst node
_REGEX = re.compile(r"\bregexp_\w+\(|\bRLIKE\b")
# "Location: InMemoryFileIndex [file:/a, file:/b]" in a formatted plan
_LOCATION = re.compile(r"^Location: \w+[^\[\n]*\[(.*)\]$", re.M)


def event_log_conf(events_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(events_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(events_dir: str) -> list[dict]:
    files = [f for f in glob.glob(os.path.join(events_dir, "*"))
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {events_dir}, got {files}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f if line.strip()]


def scanned_paths(plan_description: str) -> list[str]:
    """The file locations a SQL query's physical plan scans."""
    paths = []
    for m in _LOCATION.finditer(plan_description):
        paths += [p.removeprefix("file:") for p in m.group(1).split(", ")]
    return paths


def by_job_group(events: list[dict], scan_path: str | None = None) -> dict[str, dict]:
    """Per job group: job count, and per-task run time, GC time, input
    rows read and shuffle bytes written. (Input rows, not bytes: the
    vectorized parquet reader reports only its footer reads as bytes.)
    ``scan_rows`` counts only the input rows of queries whose plan scans
    ``scan_path``, leaving out reads of anything else, such as a job's
    own output."""
    scan_path = scan_path and os.path.abspath(scan_path)
    scans: set = set()  # SQL execution ids whose plan scans scan_path
    stage_job: dict[int, tuple[str, bool]] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "tasks": [], "gc_ms": 0, "rows_read": 0,
                 "scan_rows": 0, "shuffle_write": 0}
    )
    for e in events:
        kind = e.get("Event")
        if kind and kind.endswith(".SparkListenerSQLExecutionStart"):
            if scan_path in scanned_paths(e.get("physicalPlanDescription", "")):
                scans.add(str(e["executionId"]))
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or "-"
            groups[group]["jobs"] += 1
            scan = props.get("spark.sql.execution.id") in scans
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = (group, scan)
        elif kind == "SparkListenerTaskEnd":
            group, scan = stage_job.get(e["Stage ID"], ("-", False))
            g = groups[group]
            m = e.get("Task Metrics") or {}
            rows = (m.get("Input Metrics") or {}).get("Records Read", 0)
            g["tasks"].append(m.get("Executor Run Time", 0))
            g["gc_ms"] += m.get("JVM GC Time", 0)
            g["rows_read"] += rows
            g["scan_rows"] += rows if scan else 0
            g["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
    return dict(groups)


def task_skew(task_ms: list[int]) -> float:
    """Slowest task over the median task."""
    med = statistics.median(task_ms)
    return max(task_ms) / med if med else float(max(task_ms) > 0)


def plan_shape(df) -> dict[str, int]:
    """Exact operator counts of a DataFrame's plan, taken without running it."""
    qe = df._jdf.queryExecution()
    optimized = qe.optimizedPlan().toString()
    physical = qe.executedPlan().toString()
    nodes = [line.lstrip(" :+-") for line in physical.splitlines()]
    return {
        "regex_nodes": len(_REGEX.findall(optimized)),
        "exchanges": sum(n.startswith("Exchange ") for n in nodes),
        "broadcast_joins": sum(n.startswith(("BroadcastHashJoin", "BroadcastNestedLoopJoin"))
                               for n in nodes),
    }


def jvm_gc_seconds(spark) -> float:
    """Total collection time of the JVM's garbage collectors so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


class CallTimes:
    """Wall time and call count of named methods, wrapped on their
    class while the context is open and restored when it closes."""

    def __init__(self, cls, names: list[str]):
        self.cls, self.names = cls, names
        self.seconds = defaultdict(float)
        self.calls = defaultdict(int)

    def __enter__(self) -> "CallTimes":
        self._saved = {n: getattr(self.cls, n) for n in self.names}
        for name, fn in self._saved.items():
            setattr(self.cls, name, self._wrap(name, fn))
        return self

    def _wrap(self, name, fn):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds[name] += time.perf_counter() - t0
                self.calls[name] += 1
        return timed

    def __exit__(self, *exc) -> None:
        for name, fn in self._saved.items():
            setattr(self.cls, name, fn)


@contextlib.contextmanager
def job_group(spark, name: str):
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
