"""Reads Spark's own JSON event log and totals it per job group.

The traced run gives every phase it times its own job group
(``SparkContext.setJobGroup``); the event log then attributes jobs,
stages, tasks, shuffle bytes, task times and the Arrow/Python SQL metrics
to those phases without any tracing inside the program."""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from collections import defaultdict

PYTHON_RUN = "time to run Python workers"  # ms (SQL "timing" metric)
ARROW_TO_PYTHON = "data sent to Python workers"  # bytes
ARROW_FROM_PYTHON = "data returned from Python workers"  # bytes


def _walk_plan(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = node.get("nodeName", "")
    for child in node.get("children", ()):
        _walk_plan(child, out)


def _file_order(path: str) -> tuple[int, str]:
    m = re.search(r"events_(\d+)_", os.path.basename(path))
    return (int(m.group(1)) if m else 0, path)


class EventLog:
    def __init__(self, events: list[dict]):
        self.job_groups: dict[int, str] = {}
        self._stage_group: dict[int, str] = {}
        self._node_of_acc: dict[int, str] = {}
        # group -> list of (stage id, run ms, shuffle written, shuffle read, accumulables)
        self._tasks: dict[str, list] = defaultdict(list)
        for e in events:
            kind = e.get("Event", "")
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                self.job_groups[e["Job ID"]] = group
                for sid in e.get("Stage IDs", ()):
                    self._stage_group.setdefault(sid, group)
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                _walk_plan(e.get("sparkPlanInfo", {}), self._node_of_acc)
            elif kind == "SparkListenerTaskEnd":
                group = self._stage_group.get(e.get("Stage ID"))
                if group is None:
                    continue
                tm = e.get("Task Metrics") or {}
                self._tasks[group].append(
                    (
                        e["Stage ID"],
                        tm.get("Executor Run Time", 0),
                        (tm.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        sum(
                            (tm.get("Shuffle Read Metrics") or {}).get(k, 0)
                            for k in ("Local Bytes Read", "Remote Bytes Read")
                        ),
                        (e.get("Task Info") or {}).get("Accumulables", ()),
                    )
                )

    @classmethod
    def load(cls, log_dir: str) -> "EventLog":
        files = [
            p
            for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
            if os.path.isfile(p) and os.path.basename(p).startswith(("events_", "local-"))
        ]
        events = []
        for path in sorted(files, key=_file_order):
            with open(path) as f:
                for line in f:
                    line = line.strip()
                    if line:
                        events.append(json.loads(line))
        return cls(events)

    def jobs(self, *groups: str) -> int:
        return sum(1 for g in self.job_groups.values() if g in groups)

    def _group_tasks(self, groups):
        for g in groups:
            yield from self._tasks.get(g, ())

    def stages(self, *groups: str) -> int:
        return len({t[0] for t in self._group_tasks(groups)})

    def tasks(self, *groups: str) -> int:
        return sum(1 for _ in self._group_tasks(groups))

    def shuffle_bytes(self, *groups: str) -> int:
        return sum(t[2] for t in self._group_tasks(groups))

    def task_skew(self, *groups: str) -> float:
        """Slowest over median task run time in the stages that read a
        shuffle (the worst such stage); 1.0 when no stage read one."""
        by_stage: dict[int, list[int]] = defaultdict(list)
        for sid, run_ms, _, read, _ in self._group_tasks(groups):
            if read > 0:
                by_stage[sid].append(run_ms)
        skew = 1.0
        for times in by_stage.values():
            mid = statistics.median(times)
            if mid > 0:
                skew = max(skew, max(times) / mid)
        return skew

    def sql_metric(self, name: str, node: str, *groups: str) -> float:
        """Sum of a SQL metric's task updates from plan nodes named ``node``."""
        total = 0.0
        for *_, accums in self._group_tasks(groups):
            for a in accums:
                if a.get("Name") == name and self._node_of_acc.get(a.get("ID")) == node:
                    total += float(a.get("Update", 0))
        return total
