"""Summarise a Spark event log by job group.

The traced worker tags every job with its layer (`sc.setJobGroup`,
e.g. `sinks.csv.chartevents`). Each `SparkListenerJobStart` carries that
group in its properties and lists its stages; each `SparkListenerTaskEnd`
carries the task's stage and metrics. Task metrics are summed per layer
group, the group's prefix up to the source name (`sinks.csv`).

A stage is the sink's own work when it runs the grouped pandas writer
(an RDD scope `FlatMapGroupsInPandas`) or the empty-stay pass
(`foreachPartition`); every other stage of a sink job computes the plan
that feeds it. `sink_stage_s` sums the wall time of those stages per
job group. `records_read` sums the input records each job group's tasks
read, which for a scan into `noop` is the table's row count.
"""

from __future__ import annotations

import json
import os


def _layer(group: str, layers: tuple[str, ...]) -> str | None:
    for layer in sorted(layers, key=len, reverse=True):
        if group == layer or group.startswith(layer + "."):
            return layer
    return None


def _is_sink_stage(info: dict) -> bool:
    if info.get("Stage Name", "").startswith("foreachPartition"):
        return True
    for rdd in info.get("RDD Info", []):
        try:
            if json.loads(rdd.get("Scope") or "{}").get("name") == "FlatMapGroupsInPandas":
                return True
        except json.JSONDecodeError:
            continue
    return False


def summarize(log_dir: str, layers: tuple[str, ...]) -> tuple[dict, dict, dict]:
    """({metric: (value, unit)}, {job group: sink stage seconds},
    {job group: input records read}).

    The metrics are executor run/CPU time and shuffle bytes per layer,
    plus GC time, spill bytes and failed tasks overall."""
    stage_group: dict[int, str] = {}
    stage_layer: dict[int, str | None] = {}
    sink_stage_s: dict[str, float] = {}
    records_read: dict[str, int] = {}
    run = {g: 0.0 for g in layers}
    cpu = {g: 0.0 for g in layers}
    shuffle = {g: 0 for g in layers}
    gc_ms = spill = failed = 0
    paths = sorted(os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names
                   if not n.startswith(("appstatus", ".")))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                        stage_layer.setdefault(sid, _layer(group, layers))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"], "")
                    if _is_sink_stage(info) and "Completion Time" in info:
                        wall = (info["Completion Time"] - info["Submission Time"]) / 1e3
                        sink_stage_s[group] = sink_stage_s.get(group, 0.0) + wall
                elif kind == "SparkListenerTaskEnd":
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        failed += 1
                    tm = ev.get("Task Metrics") or {}
                    group = stage_group.get(ev.get("Stage ID"), "")
                    records_read[group] = records_read.get(group, 0) + (
                        tm.get("Input Metrics") or {}).get("Records Read", 0)
                    gc_ms += tm.get("JVM GC Time", 0)
                    spill += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    layer = stage_layer.get(ev.get("Stage ID"))
                    if layer is None:
                        continue
                    run[layer] += tm.get("Executor Run Time", 0) / 1e3
                    cpu[layer] += tm.get("Executor CPU Time", 0) / 1e9
                    shuffle[layer] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
    out: dict = {}
    for g in layers:
        out[f"spark.executor_run_s.{g}"] = (run[g], "s")
        out[f"spark.executor_cpu_s.{g}"] = (cpu[g], "s")
        if g != "sources":  # typed scans never shuffle
            out[f"spark.shuffle_write_bytes.{g}"] = (shuffle[g], "bytes")
    out["spark.gc_s"] = (gc_ms / 1e3, "s")
    out["spark.spill_bytes"] = (spill, "bytes")
    out["spark.failed_tasks"] = (failed, "count")
    return out, sink_stage_s, records_read
