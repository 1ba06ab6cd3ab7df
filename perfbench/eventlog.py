"""Fold Spark event-log task metrics onto the benchmark's layer spans.

The traced run enables Spark's rolling, zstd-compressed event log. Every
job a layer span launches carries the job group ``<layer>@<op>`` (set by
``trace.Tracer``), so each task end can be charged to one (layer, op).

Units, as the event log records them: executor run time in ms, executor
CPU time in ns, shuffle and spill sizes in bytes. The Python-worker SQL
metrics are typed by the plan info of the SQL execution events
(``timing`` = ms, ``nsTiming`` = ns, ``size`` = bytes); they are converted
through that type, never assumed.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field
from statistics import median
from typing import Iterable, Iterator

PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
_UNIT_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0}


@dataclass
class TaskAgg:
    """Task metrics of one (layer, op)."""

    tasks: int = 0
    run_ms: float = 0.0
    cpu_s: float = 0.0
    shuffle_bytes: float = 0.0
    spill_bytes: float = 0.0
    python_s: float = 0.0
    arrow_bytes: float = 0.0
    task_ms: list[float] = field(default_factory=list)

    def skew(self) -> float:
        """Slowest task over the median task (task wall, ms floor 1)."""
        if not self.task_ms:
            return 0.0
        return max(self.task_ms) / max(median(self.task_ms), 1.0)


def _plan_metric_types(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["metricType"]
    for child in plan.get("children", []):
        _plan_metric_types(child, out)


def fold_events(events: Iterable[dict]) -> dict[tuple[str, int], TaskAgg]:
    """(layer, op) → TaskAgg over every task whose job carried a
    ``<layer>@<op>`` job group. Tasks of other jobs are skipped."""
    metric_type: dict[int, str] = {}
    stage_group: dict[int, tuple[str, int]] = {}
    aggs: dict[tuple[str, int], TaskAgg] = defaultdict(TaskAgg)
    for e in events:
        kind = e.get("Event", "")
        if "sparkPlanInfo" in e:
            _plan_metric_types(e["sparkPlanInfo"], metric_type)
        elif kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            m = re.fullmatch(r"(.+)@(-?\d+)", group or "")
            if m:
                for sid in e.get("Stage IDs", []):
                    stage_group[sid] = (m.group(1), int(m.group(2)))
        elif kind == "SparkListenerTaskEnd":
            key = stage_group.get(e.get("Stage ID"))
            tm = e.get("Task Metrics")
            if key is None or not tm:
                continue
            info = e.get("Task Info", {})
            agg = aggs[key]
            agg.tasks += 1
            agg.run_ms += tm.get("Executor Run Time", 0)
            agg.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            agg.shuffle_bytes += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            agg.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            agg.task_ms.append(float(info.get("Finish Time", 0) - info.get("Launch Time", 0)))
            for acc in info.get("Accumulables", []):
                name = acc.get("Name")
                if name not in (PY_RUN, PY_SENT, PY_RETURNED):
                    continue
                scale = _UNIT_SCALE.get(metric_type.get(acc.get("ID"), ""))
                if scale is None:
                    raise ValueError(f"unknown unit for SQL metric {name!r}")
                value = float(acc.get("Update", 0)) * scale
                if name == PY_RUN:
                    agg.python_s += value
                else:
                    agg.arrow_bytes += value
    return dict(aggs)


def event_files(log_dir: str) -> list[str]:
    """The event files of every application under ``log_dir``, each
    application's rolled files in index order."""
    out: list[str] = []
    for app_dir in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        files = glob.glob(os.path.join(app_dir, "events_*"))
        out.extend(sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1])))
    return out


def read_events(log_dir: str, jvm=None) -> Iterator[dict]:
    """Parsed events of ``log_dir``. Compressed files are decoded by
    Spark's own codec through ``jvm`` (the py4j view of the driver JVM),
    so no Python decompressor is needed."""
    for path in event_files(log_dir):
        codec = os.path.splitext(path)[1].lstrip(".")
        if codec:
            if jvm is None:
                raise ValueError(f"{path}: compressed event log needs the driver JVM")
            c = jvm.org.apache.spark.io.CompressionCodec.createCodec(
                jvm.org.apache.spark.SparkConf(), codec)
            stream = c.compressedInputStream(jvm.java.io.FileInputStream(path))
            try:
                text = bytes(stream.readAllBytes()).decode("utf-8")
            finally:
                stream.close()
        else:
            with open(path, encoding="utf-8") as f:
                text = f.read()
        for line in text.splitlines():
            if line.strip():
                yield json.loads(line)
