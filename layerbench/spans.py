"""Spans around the package's public calls, and the Spark event log folded
into per-layer counters.

Every call the benchmark makes into the package runs under
``sc.setJobDescription("<workload>:<layer>:<call>")``; the previous
description is restored afterwards. Spark copies the description into the
properties of each job and stage it launches, which is the only attribution
the event log offers (Python call sites show as NativeMethodAccessorImpl)."""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

DESC = "spark.job.description"


class Tracer:
    """In-memory spans: (layer, call, start, end, phase). ``phase`` is
    "setup", "run" or "check"; jobs outside "run" carry it in their
    description as "<workload>@<phase>:<layer>:<call>". Untraced runs keep
    the spans but set no descriptions."""

    def __init__(self, spark, workload: str, traced: bool) -> None:
        self.sc = spark.sparkContext
        self.workload = workload
        self.traced = traced
        self.phase = "setup"
        self.spans: list[tuple[str, str, float, float, str]] = []

    @contextmanager
    def span(self, layer: str, call: str):
        if self.traced:
            prev = self.sc.getLocalProperty(DESC)
            who = self.workload if self.phase == "run" else f"{self.workload}@{self.phase}"
            self.sc.setJobDescription(f"{who}:{layer}:{call}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((layer, call, t0, time.perf_counter(), self.phase))
            if self.traced:
                self.sc.setLocalProperty(DESC, prev)

    def durations(self, layer: str, call: str | None = None, phase: str = "run") -> list[float]:
        return [
            e - s
            for lay, c, s, e, ph in self.spans
            if ph == phase and lay == layer and call in (None, c)
        ]


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def fold_event_log(log_dir: str, workload: str) -> dict[tuple, dict]:
    """Per (phase, layer, call) of the job descriptions: jobs, tasks,
    shuffle bytes/records, spill, file-scan input, and the task durations
    behind the skew ratio. Read after the session stopped, so the log is
    complete."""
    stage_layer: dict[int, tuple] = {}
    layers: dict[tuple, dict] = defaultdict(
        lambda: defaultdict(float, {"task_ms": []})
    )
    scan_stages: set[int] = set()
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    key = _layer(ev.get("Properties", {}).get(DESC), workload)
                    if key:
                        layers[key]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = _layer(ev.get("Properties", {}).get(DESC), workload)
                    if key:
                        stage_layer[info["Stage ID"]] = key
                    if any(r.get("Name") == "FileScanRDD" for r in info.get("RDD Info", [])):
                        scan_stages.add(info["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    key = stage_layer.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if not key or not m:
                        continue
                    acc = layers[key]
                    acc["tasks"] += 1
                    acc["task_ms"].append(m.get("Executor Run Time", 0))
                    sr = m.get("Shuffle Read Metrics", {})
                    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics", {})
                    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    acc["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    if ev["Stage ID"] in scan_stages:
                        im = m.get("Input Metrics", {})
                        acc["scan_bytes"] += im.get("Bytes Read", 0)
                        acc["scan_records"] += im.get("Records Read", 0)
    return layers


def _layer(desc: str | None, workload: str) -> tuple | None:
    """"<workload>[@<phase>]:<layer>:<call>" -> (phase, layer, call)."""
    if not desc or desc.split(":")[0].split("@")[0] != workload:
        return None
    who, layer, call = desc.split(":", 2)
    return (who.partition("@")[2] or "run", layer, call)


def total(layers: dict[tuple, dict], phase: str, layer: str | None = None,
          call: str | None = None) -> dict:
    """Counters summed over the (phase, layer, call) keys that match."""
    out: dict = defaultdict(float, {"task_ms": []})
    for (ph, lay, c), acc in layers.items():
        if ph == phase and layer in (None, lay) and call in (None, c):
            for k, v in acc.items():
                out[k] = out[k] + v
    return out


def task_skew(task_ms: list[float]) -> float:
    """Slowest task over the median task, in whole milliseconds with a 1 ms
    floor (1.0 = no skew)."""
    if not task_ms:
        return 0.0
    return max(task_ms) / max(statistics.median(task_ms), 1.0)
