"""Aggregate Spark's own event log per job group.

Each benchmark op runs under its own ``sc.setJobGroup`` id, which Spark
stamps into every ``SparkListenerJobStart``. Stages map to the group of
the job that lists them; ``SparkListenerTaskEnd`` and
``SparkListenerStageCompleted`` events then fold into per-group totals.
Skipped stages (listed by a job, never run) complete nothing and so
count nowhere.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Iterable
from dataclasses import dataclass, field

from .tracing import covered


@dataclass
class GroupAgg:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    input_b: int = 0
    #: (launch, finish) epoch seconds of every task
    task_spans: list[tuple[float, float]] = field(default_factory=list)

    def busy_s(self, lo: float, hi: float) -> float:
        """Time within [lo, hi] during which at least one task ran."""
        return covered(self.task_spans, lo, hi)


def aggregate(lines: Iterable[str]) -> dict[str, GroupAgg]:
    groups: dict[str, GroupAgg] = {}
    stage_group: dict[int, str] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            groups.setdefault(group, GroupAgg()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            group = stage_group.get(ev["Stage Info"]["Stage ID"])
            if group is not None:
                groups[group].stages += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            agg = groups[group]
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            agg.tasks += 1
            agg.run_ms += m.get("Executor Run Time", 0)
            agg.cpu_ns += m.get("Executor CPU Time", 0)
            agg.gc_ms += m.get("JVM GC Time", 0)
            agg.spill_b += m.get("Disk Bytes Spilled", 0)
            agg.input_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            agg.shuffle_read_b += (sr.get("Remote Bytes Read", 0)
                                   + sr.get("Local Bytes Read", 0))
            agg.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            if "Launch Time" in info and "Finish Time" in info:
                agg.task_spans.append((info["Launch Time"] / 1000.0,
                                       info["Finish Time"] / 1000.0))
    return groups


def read_dir(log_dir: str) -> dict[str, GroupAgg]:
    """Aggregate every event-log file under ``log_dir`` (a plain file
    per app, or Spark 4's ``eventlog_v2_*`` rolling directory)."""
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith(
            (".", "appstatus")))

    def lines():
        for p in files:
            with open(p) as fh:
                yield from fh

    return aggregate(lines())
