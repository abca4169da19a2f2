"""Spark event-log parser for the traced benchmark run.

Reads one uncompressed, non-rolling event log (``spark.eventLog.*``) and
returns its jobs and completed stages with the task metrics summed per
stage. Stages are attributed to the job group of the job that submitted
them; a stage is a Python stage when one of its RDD scopes is a
Python-worker operator (``ArrowEvalPython``, ``MapInPandas``,
``FlatMapGroupsInPandas`` and their siblings).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

PYTHON_NODES = frozenset({
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "ArrowWindowPython",
})


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    stage_ids: list[int]
    end_ms: int | None = None


@dataclass
class Stage:
    stage_id: int
    attempt: int
    group: str | None = None
    submit_ms: int = 0
    end_ms: int = 0
    python: bool = False
    tasks: int = 0
    gc_ms: int = 0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    input_bytes: int = 0

    @property
    def span_s(self) -> float:
        return max(0, self.end_ms - self.submit_ms) / 1000.0


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: list[Stage]

    def stages_in(self, group: str | None = None, window: tuple | None = None):
        """Completed stages of a job group, or submitted inside a wall-clock
        window ``(t0, t1)`` in epoch seconds."""
        out = []
        for s in self.stages:
            if group is not None and s.group != group:
                continue
            if window is not None and not window[0] <= s.submit_ms / 1000.0 <= window[1]:
                continue
            out.append(s)
        return out

    def jobs_in(self, group: str | None = None, window: tuple | None = None):
        out = []
        for j in self.jobs.values():
            if group is not None and j.group != group:
                continue
            if window is not None and not window[0] <= j.submit_ms / 1000.0 <= window[1]:
                continue
            out.append(j)
        return out


def _scope_names(stage_info: dict) -> set[str]:
    names = set()
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            try:
                names.add(json.loads(scope).get("name", ""))
            except ValueError:
                pass
    return names


def parse(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stage_group: dict[int, str | None] = {}
    stages: dict[tuple[int, int], Stage] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job = Job(ev["Job ID"], group, ev.get("Submission Time", 0),
                          list(ev.get("Stage IDs", [])))
                jobs[job.job_id] = job
                for sid in job.stage_ids:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = ev.get("Completion Time")
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                st = stages.setdefault(key, Stage(*key))
                m = ev.get("Task Metrics") or {}
                st.tasks += 1
                st.gc_ms += m.get("JVM GC Time", 0)
                st.spill_bytes += m.get("Disk Bytes Spilled", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
                st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                st = stages.setdefault(key, Stage(*key))
                st.submit_ms = info.get("Submission Time", 0)
                st.end_ms = info.get("Completion Time", st.submit_ms)
                st.python = bool(_scope_names(info) & PYTHON_NODES)
    done = []
    for st in stages.values():
        if st.end_ms:
            st.group = stage_group.get(st.stage_id)
            done.append(st)
    return EventLog(jobs, sorted(done, key=lambda s: (s.submit_ms, s.stage_id)))


def covered_s(intervals, t0: float, t1: float) -> float:
    """Seconds of ``[t0, t1]`` covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
