"""Spark event-log parser: jobs, stages, tasks, shuffle, spill and GC.

Reads the JSON-lines event log Spark writes when
``spark.eventLog.enabled`` is on (plain files or the rolling
``eventlog_v2_*`` directories, uncompressed). It needs nothing from the
program: the benchmark switches the log on for a traced run and reads
it afterwards, so a job run as a subprocess is traced unchanged.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics


def _index(path: str) -> tuple[int, str]:
    m = re.match(r"events_(\d+)_", os.path.basename(path))
    return (int(m.group(1)) if m else 0, path)


def applications(log_dir: str) -> dict[str, list[dict]]:
    """App name -> events, for every application logged in ``log_dir``.

    Two applications with one name are kept apart by a numeric suffix
    in start order (``name``, ``name#2``...).
    """
    apps = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        files = (sorted(glob.glob(os.path.join(path, "events_*")),
                        key=_index)
                 if os.path.isdir(path) else [path])
        events = []
        for f in files:
            with open(f, encoding="utf-8") as fh:
                events.extend(json.loads(line) for line in fh
                              if line.strip())
        start = next((e for e in events
                      if e["Event"] == "SparkListenerApplicationStart"),
                     None)
        if start is not None:
            apps.append((start["Timestamp"], start["App Name"], events))
    out: dict[str, list[dict]] = {}
    for _, name, events in sorted(apps, key=lambda a: a[0]):
        key, k = name, 1
        while key in out:
            k += 1
            key = f"{name}#{k}"
        out[key] = events
    return out


def jobs(events: list[dict], group: str | None = None) -> list[dict]:
    """Jobs of the log, or of one job group: id, start, end (epoch s)
    and stage ids."""
    out: dict[int, dict] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if group is None or props.get("spark.jobGroup.id") == group:
                out[e["Job ID"]] = {"id": e["Job ID"],
                                    "start": e["Submission Time"] / 1e3,
                                    "end": None,
                                    "stages": set(e["Stage IDs"])}
        elif e["Event"] == "SparkListenerJobEnd" and e["Job ID"] in out:
            out[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
    return sorted(out.values(), key=lambda j: j["id"])


def in_window(js: list[dict], window: tuple[float, float]) -> list[dict]:
    """Finished jobs inside a wall window (epoch s; the event log has ms
    resolution and its own clock reads, hence the 1 s slack)."""
    lo, hi = window
    return [j for j in js if j["end"] is not None
            and lo - 1 <= j["start"] and j["end"] <= hi + 1]


def summarize(events: list[dict], window: tuple[float, float], cores: int,
              group: str | None = None) -> dict:
    """Scheduling, shuffle, spill and GC figures of the jobs in a wall
    window (epoch seconds), optionally limited to one job group.

    ``spark.slot_busy_frac`` is the summed task time over wall × cores;
    ``jvm.gc_s`` sums each task's reported GC time (task-seconds, so a
    pause seen by four concurrent tasks counts four times).
    """
    lo, hi = window
    js = in_window(jobs(events, group), window)
    stage_ids = set().union(*(j["stages"] for j in js)) if js else set()
    done_stages = {e["Stage Info"]["Stage ID"] for e in events
                   if e["Event"] == "SparkListenerStageCompleted"
                   and e["Stage Info"]["Stage ID"] in stage_ids
                   and e["Stage Info"].get("Submission Time") is not None}
    durs, gc, sw, swt, sr, spill = [], 0, 0, 0, 0, 0
    for e in events:
        if (e["Event"] != "SparkListenerTaskEnd"
                or e["Stage ID"] not in done_stages):
            continue
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        durs.append((info["Finish Time"] - info["Launch Time"]) / 1e3)
        gc += m.get("JVM GC Time", 0)
        w = m.get("Shuffle Write Metrics") or {}
        sw += w.get("Shuffle Bytes Written", 0)
        swt += w.get("Shuffle Write Time", 0)
        r = m.get("Shuffle Read Metrics") or {}
        sr += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
        spill += m.get("Disk Bytes Spilled", 0)
    wall = max(hi - lo, 1e-9)
    return {
        "spark.jobs": len(js),
        "spark.stages": len(done_stages),
        "spark.tasks": len(durs),
        "spark.slot_busy_frac": sum(durs) / (wall * cores),
        "spark.task_s.p50": statistics.median(durs) if durs else 0.0,
        "spark.task_s.max": max(durs, default=0.0),
        "jvm.gc_s": gc / 1e3,
        "shuffle.write_mb": sw / 2**20,
        "shuffle.read_mb": sr / 2**20,
        "shuffle.write_time_s": swt / 1e9,
        "spill.mb": spill / 2**20,
        "spark.single_task_stage_frac": (
            sum(1 for e in events
                if e["Event"] == "SparkListenerStageCompleted"
                and e["Stage Info"]["Stage ID"] in done_stages
                and e["Stage Info"]["Number of Tasks"] == 1)
            / max(len(done_stages), 1)),
    }
