"""Reduce a Spark event log to job, stage and task totals per tag, with the
standard library only.

A job's tag is the ``perfbench.tag`` local property the benchmark sets
before each timed call. ``spark.jobGroup.id`` cannot serve: a streaming
query replaces it with its run id on every micro-batch job, while local
properties are inherited by the stream thread and by foreachBatch calls.
Jobs without the property are reduced under the tag ``None``.

Usage: python3 perfbench/eventlog.py <event-log-dir>   (one JSON object)
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict
from dataclasses import asdict, dataclass, field
from pathlib import Path

TAG = "perfbench.tag"


@dataclass
class Group:
    jobs: int = 0
    stages: int = 0
    stages_skipped: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0  # disk bytes spilled
    input_bytes: int = 0
    input_rows: int = 0
    output_bytes: int = 0
    job_spans_ms: list = field(default_factory=list)  # (submitted, completed) per job


def event_files(log_dir: Path) -> list[Path]:
    """Event files under ``log_dir`` in write order. Spark 4 writes a rolling
    ``eventlog_v2_<app>/events_<N>_<app>`` directory, with an empty
    ``appstatus_<app>`` marker and a hidden ``.crc`` beside each file."""

    def order(p: Path):
        n = p.name.split("_")[1] if p.name.startswith("events_") else "0"
        return (str(p.parent), int(n) if n.isdigit() else 0)

    return sorted(
        (
            p
            for p in log_dir.rglob("*")
            if p.is_file() and not p.name.startswith((".", "appstatus_"))
        ),
        key=order,
    )


def read_events(log_dir: Path):
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def reduce_events(events) -> dict[str | None, Group]:
    groups: dict[str | None, Group] = defaultdict(Group)
    stage_tag: dict[int, str | None] = {}
    active: dict[int, dict] = {}  # job id -> tag, submission time, listed and run stages
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            tag = e.get("Properties", {}).get(TAG)
            groups[tag].jobs += 1
            active[e["Job ID"]] = {
                "tag": tag,
                "submitted": e["Submission Time"],
                "listed": set(e["Stage IDs"]),
                "ran": set(),
            }
        elif kind == "SparkListenerJobEnd":
            job = active.pop(e["Job ID"], None)
            if job is not None:
                g = groups[job["tag"]]
                g.stages_skipped += len(job["listed"] - job["ran"])
                g.job_spans_ms.append((job["submitted"], e["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            stage_tag[sid] = e.get("Properties", {}).get(TAG)
            for job in active.values():
                if sid in job["listed"]:
                    job["ran"].add(sid)
        elif kind == "SparkListenerStageCompleted":
            groups[stage_tag.get(e["Stage Info"]["Stage ID"])].stages += 1
        elif kind == "SparkListenerTaskEnd":
            _add_task(groups[stage_tag.get(e["Stage ID"])], e)
    return dict(groups)


def _add_task(g: Group, e: dict) -> None:
    g.tasks += 1
    if e["Task End Reason"]["Reason"] != "Success":
        g.failed_tasks += 1
    m = e.get("Task Metrics") or {}
    shuffle_read = m.get("Shuffle Read Metrics", {})
    g.executor_run_ms += m.get("Executor Run Time", 0)
    g.executor_cpu_ns += m.get("Executor CPU Time", 0)
    g.gc_ms += m.get("JVM GC Time", 0)
    g.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    g.shuffle_read_bytes += shuffle_read.get("Remote Bytes Read", 0) + shuffle_read.get(
        "Local Bytes Read", 0
    )
    g.spill_bytes += m.get("Disk Bytes Spilled", 0)
    g.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
    g.input_rows += m.get("Input Metrics", {}).get("Records Read", 0)
    g.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)


if __name__ == "__main__":
    reduced = reduce_events(read_events(Path(sys.argv[1])))
    print(json.dumps({str(tag): asdict(g) for tag, g in reduced.items()}, indent=1))
