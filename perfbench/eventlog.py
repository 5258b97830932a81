"""Spark event log → the ``pipeline.*`` per-layer metrics.

The traced session writes an uncompressed, unrolled JSON event log into
the benchmark's work directory; this module reads it after the session
stops.  Stage and task metrics give executor run time, JVM GC, shuffle and
output bytes; the SQL plan events name the accumulators of the
``MapInPandas`` nodes (bytes sent to and returned from Python) and of the
scan over the workload's source (bytes of source files read).

Every benchmark job runs under its own Spark job group, so each metric is
first summed per group and then reported as the median over the timed
groups.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

_SQL = "org.apache.spark.sql.execution.ui."
_SENT = "data sent to Python workers"
_RECEIVED = "data returned from Python workers"
_INIT = "time to initialize Python workers"
_RUN = "time to run Python workers"
_FILES_READ = "size of files read"


def load_events(event_dir: str) -> list[dict]:
    events = []
    for name in sorted(os.listdir(event_dir)):
        if name.startswith("."):
            continue  # checksum side files
        with open(os.path.join(event_dir, name)) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _walk(node: dict):
    yield node
    for child in node.get("children", ()):
        yield from _walk(child)


def _skew(times: list[float]) -> float:
    med = statistics.median(times) if times else 0.0
    return max(times) / med if med > 0 else 0.0


class EventLog:
    """Index of one application's events, grouped by Spark job group."""

    def __init__(self, events: list[dict], source_path: str):
        self.stage_group: dict[int, str] = {}
        self.exec_group: dict[int, str] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.extract_accs: set[int] = set()  # the extraction MapInPandas
        self.scan_accs: set[int] = set()     # the scan over the source
        self.files_read_accs: set[int] = set()
        self.driver_updates: list[tuple[int, int, int]] = []
        self.tasks_failed = 0
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                for sid in e["Stage IDs"]:
                    self.stage_group[sid] = group
                if props.get("spark.sql.execution.id") is not None:
                    self.exec_group[int(props["spark.sql.execution.id"])] = group
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                self.stages[info["Stage ID"]] = info
            elif kind == "SparkListenerTaskEnd":
                self.tasks[e["Stage ID"]].append(e)
                if e["Task End Reason"].get("Reason") != "Success":
                    self.tasks_failed += 1
            elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                          _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                self._index_plan(e["sparkPlanInfo"], source_path)
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                for acc_id, value in e["accumUpdates"]:
                    self.driver_updates.append((e["executionId"], acc_id, value))

    def _index_plan(self, plan: dict, source_path: str) -> None:
        for node in _walk(plan):
            metrics = {m["name"]: m["accumulatorId"] for m in node.get("metrics", ())}
            text = node.get("simpleString", "") + str(node.get("metadata", {}))
            if node["nodeName"] == "MapInPandas" and "n_blocks" in text:
                self.extract_accs.update(metrics.values())
            elif node["nodeName"].startswith("Scan") and source_path in text:
                self.scan_accs.update(metrics.values())
                if _FILES_READ in metrics:
                    self.files_read_accs.add(metrics[_FILES_READ])

    def groups(self, prefix: str) -> list[str]:
        return sorted({g for g in self.stage_group.values()
                       if g and g.startswith(prefix)})

    def group_metrics(self, group: str, source_bytes: int) -> dict:
        sids = [s for s, g in self.stage_group.items()
                if g == group and s in self.stages]
        tasks = [t for s in sids for t in self.tasks[s]]

        def task_sum(*path) -> int:
            total = 0
            for t in tasks:
                v = t.get("Task Metrics") or {}
                for key in path:
                    v = v.get(key, 0) if isinstance(v, dict) else 0
                total += v
            return total

        def acc_ids(sid: int) -> set[int]:
            return {a["ID"] for a in self.stages[sid]["Accumulables"]}

        def named_sum(name: str) -> int:
            return sum(int(a["Value"]) for s in sids
                       for a in self.stages[s]["Accumulables"]
                       if a.get("Name") == name)

        def duration_s(sid: int) -> float:
            info = self.stages[sid]
            return (info["Completion Time"] - info["Submission Time"]) / 1000

        map_sids = [s for s in sids if self.extract_accs & acc_ids(s)]
        scan_sids = [s for s in sids if self.scan_accs & acc_ids(s)]
        map_run = [t["Task Metrics"]["Executor Run Time"] / 1000
                   for s in map_sids for t in self.tasks[s] if t.get("Task Metrics")]
        scan_wall = [(t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]) / 1000
                     for s in scan_sids for t in self.tasks[s]]
        execs = {x for x, g in self.exec_group.items() if g == group}
        files_read = sum(v for x, acc, v in self.driver_updates
                         if x in execs and acc in self.files_read_accs)
        return {
            "pipeline.python_bytes_sent": named_sum(_SENT),
            "pipeline.python_bytes_received": named_sum(_RECEIVED),
            "pipeline.python_init_s": named_sum(_INIT) / 1000,
            "pipeline.python_run_s": named_sum(_RUN) / 1000,
            "pipeline.gc_s": task_sum("JVM GC Time") / 1000,
            "pipeline.shuffle_write_bytes":
                task_sum("Shuffle Write Metrics", "Shuffle Bytes Written"),
            "pipeline.shuffle_read_bytes":
                task_sum("Shuffle Read Metrics", "Local Bytes Read")
                + task_sum("Shuffle Read Metrics", "Remote Bytes Read"),
            "pipeline.map_stage_s": sum(duration_s(s) for s in map_sids),
            "pipeline.map_task_skew": _skew(map_run),
            "pipeline.executor_run_s": task_sum("Executor Run Time") / 1000,
            "pipeline.write_bytes": task_sum("Output Metrics", "Bytes Written"),
            "pipeline.scan_amplification":
                files_read / source_bytes if source_bytes else 0.0,
            "pipeline.scan_task_s": statistics.median(scan_wall) if scan_wall else 0.0,
            "pipeline.scan_skew": _skew(scan_wall),
        }

    def median_metrics(self, prefix: str, source_bytes: int) -> dict:
        """Each metric's median over the groups whose name starts with
        ``prefix``, plus the failed-task count over the whole log."""
        per_group = [self.group_metrics(g, source_bytes) for g in self.groups(prefix)]
        if not per_group:
            raise ValueError(f"no job group {prefix!r}* in the event log")
        out = {k: statistics.median(m[k] for m in per_group) for k in per_group[0]}
        out["pipeline.tasks_failed"] = self.tasks_failed
        return out
