"""Spark event log -> counters rolled up by job-group label.

The benchmark labels every Spark job it causes with ``sc.setJobGroup``.
Labels are ``:``-separated paths (``p3``, ``p3:pagerank``,
``p3:pagerank:ss7``), so the total of a call is the roll-up of its label
and every label below it.  Stages are attributed to the job group in the
``Properties`` of their ``SparkListenerStageSubmitted`` event, tasks to
the group of their stage.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field, fields

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    gc_ms: int = 0
    spill_bytes: int = 0  # disk bytes spilled
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    output_bytes: int = 0
    write_stage_ms: int = 0  # wall of stages that wrote output files
    job_intervals: list = field(default_factory=list)  # (start_s, end_s)

    def add(self, other: "Counters") -> None:
        for f in fields(self):
            a, b = getattr(self, f.name), getattr(other, f.name)
            setattr(self, f.name, a + b)


@dataclass
class _Stage:
    group: str | None = None
    output_bytes: int = 0


class Rollup:
    """Counters per exact job-group label; ``total(prefix)`` sums a subtree."""

    def __init__(self) -> None:
        self.by_group: dict[str, Counters] = {}
        self._stages: dict[tuple[int, int], _Stage] = {}
        self._jobs: dict[int, tuple[str | None, int]] = {}

    def _c(self, group: str | None) -> Counters:
        return self.by_group.setdefault(group or "", Counters())

    def feed(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            self._jobs[ev["Job ID"]] = (group, ev["Submission Time"])
            self._c(group).jobs += 1
        elif kind == "SparkListenerJobEnd":
            group, start = self._jobs.get(ev["Job ID"], (None, None))
            if start is not None:
                self._c(group).job_intervals.append((start / 1e3, ev["Completion Time"] / 1e3))
        elif kind == "SparkListenerStageSubmitted":
            si = ev["Stage Info"]
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            self._stages[(si["Stage ID"], si["Stage Attempt ID"])] = _Stage(group)
            self._c(group).stages += 1
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            st = self._stages.get((si["Stage ID"], si["Stage Attempt ID"]))
            if st is not None and st.output_bytes:
                ms = si.get("Completion Time", 0) - si.get("Submission Time", 0)
                self._c(st.group).write_stage_ms += max(ms, 0)
        elif kind == "SparkListenerTaskEnd":
            st = self._stages.setdefault((ev["Stage ID"], ev["Stage Attempt ID"]), _Stage())
            c = self._c(st.group)
            c.tasks += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                c.tasks_failed += 1
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            out = (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            c.gc_ms += m.get("JVM GC Time", 0)
            c.spill_bytes += m.get("Disk Bytes Spilled", 0)
            c.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            c.shuffle_write_records += sw.get("Shuffle Records Written", 0)
            c.output_bytes += out
            st.output_bytes += out

    def total(self, prefix: str) -> Counters:
        out = Counters()
        for group, c in self.by_group.items():
            if group == prefix or group.startswith(prefix + ":"):
                out.add(c)
        return out


def uncovered_s(start: float, end: float, intervals: list) -> float:
    """Seconds of [start, end] that none of the intervals covers."""
    busy = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return max(end - start - busy, 0.0)


def read_lines(lines) -> Rollup:
    r = Rollup()
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:  # a torn last line of a killed run
            continue
        r.feed(ev)
    return r


def read_dir(path: str) -> Rollup:
    """Roll up every event file under ``path`` (Spark 4 writes a
    directory per application; ``appstatus`` files are markers)."""

    def lines():
        for p in sorted(glob.glob(os.path.join(path, "**", "*"), recursive=True)):
            if os.path.isfile(p) and not os.path.basename(p).startswith(("appstatus", ".")):
                with open(p, errors="replace") as fh:
                    yield from fh

    return read_lines(lines())
