"""Spark event-log reader: per-job-group task time, skew, shuffle, spill and
Python hops.

The traced run tags each layer call with ``setJobGroup``; every job the
call starts carries that group in its properties, so the layer's stages and
tasks can be picked out of the log afterwards with no extra Spark action.
"""

from __future__ import annotations

import glob
import json
import os
import re

from stats import median

#: physical operators that move rows across the JVM/Python boundary; each
#: executed instance is one hop (the node names appear as RDD scopes)
PYTHON_SCOPE = re.compile(r"Python|InPandas|InArrow")


def event_files(logdir: str) -> list:
    """Event-log files under ``logdir``: Spark writes each application's
    log as ``eventlog_v2_<app id>/events_<n>_<app id>``."""
    return sorted(glob.glob(os.path.join(logdir, "eventlog_v2_*", "events_*")))


def read_events(paths):
    for path in paths:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


class Stage:
    """One executed stage: its job group, task run times (ms), shuffle and
    spill bytes, operator scopes ``{scope id: name}`` and Python RDD ids."""

    __slots__ = ("group", "task_ms", "shuffle_bytes", "spill_bytes",
                 "scopes", "python_rdds")

    def __init__(self):
        self.group = None
        self.task_ms = []
        self.shuffle_bytes = 0
        self.spill_bytes = 0
        self.scopes = {}
        self.python_rdds = set()

    def skew(self) -> float | None:
        """max/median task time; None below two tasks."""
        if len(self.task_ms) < 2:
            return None
        mid = median(self.task_ms)
        return max(self.task_ms) / mid if mid > 0 else 1.0


def parse_stages(events) -> dict:
    """``{stage id: Stage}`` for every stage that ran tasks. Stages that a
    job lists but never submits (their shuffle output was reused) are left
    out."""
    group_of: dict = {}
    stages: dict = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", ()):
                group_of[sid] = group
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage())
            for rdd in info.get("RDD Info", ()):
                if rdd.get("Name") == "PythonRDD":
                    st.python_rdds.add(rdd["RDD ID"])
                if rdd.get("Scope"):
                    scope = json.loads(rdd["Scope"])
                    st.scopes[scope["id"]] = scope["name"]
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], Stage())
            m = ev.get("Task Metrics") or {}
            st.task_ms.append(m.get("Executor Run Time", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_bytes += (
                sw.get("Shuffle Bytes Written", 0)
                + sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0)
            )
            st.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
    for sid, st in stages.items():
        st.group = group_of.get(sid)
    return {sid: st for sid, st in stages.items() if st.task_ms}


def layer_metrics(stages: dict) -> dict:
    """Aggregate stages by job group: ``{group: {task_s, task_skew,
    shuffle_bytes, spill_bytes, py_hops, stages}}``.

    - ``task_s``: summed executor run time of the group's tasks.
    - ``task_skew``: the largest max/median task-time ratio over the
      group's stages with at least two tasks (1.0 when none has two).
    - ``shuffle_bytes``: shuffle bytes written plus read.
    - ``spill_bytes``: memory plus disk bytes spilled.
    - ``py_hops``: distinct executed Python operators (ArrowEvalPython,
      MapInPandas, ...) plus Python RDDs in the group's stages.
    """
    acc: dict = {}
    for st in stages.values():
        if st.group is None:
            continue
        g = acc.setdefault(st.group, {
            "task_ms": 0, "task_skew": 1.0, "shuffle_bytes": 0,
            "spill_bytes": 0, "stages": 0, "scopes": set(), "rdds": set(),
        })
        g["stages"] += 1
        g["task_ms"] += sum(st.task_ms)
        g["task_skew"] = max(g["task_skew"], st.skew() or 1.0)
        g["shuffle_bytes"] += st.shuffle_bytes
        g["spill_bytes"] += st.spill_bytes
        g["scopes"].update(
            sid for sid, name in st.scopes.items() if PYTHON_SCOPE.search(name)
        )
        g["rdds"].update(st.python_rdds)
    return {
        group: {
            "task_s": g["task_ms"] / 1000.0,
            "task_skew": g["task_skew"],
            "shuffle_bytes": g["shuffle_bytes"],
            "spill_bytes": g["spill_bytes"],
            "py_hops": len(g["scopes"]) + len(g["rdds"]),
            "stages": g["stages"],
        }
        for group, g in acc.items()
    }


def operator_skew(stages: dict, group: str, operator: str) -> float:
    """Largest max/median task-time ratio over the stages of ``group`` that
    run an operator named ``operator`` (e.g. the Window stages of a
    schedule); 1.0 when there is none with two tasks."""
    skews = [
        st.skew() for st in stages.values()
        if st.group == group and operator in st.scopes.values()
    ]
    return max([s for s in skews if s is not None], default=1.0)
