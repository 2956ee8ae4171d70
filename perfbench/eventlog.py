"""Spark event-log parser that turns recorded spans into per-layer metrics.

Every job carries the job group of the innermost grouped span that was
open when it started (``spans.py``). Parsing the event log gives each
job's tasks and their metrics; :func:`layer_family` then sums them over
the spans of each layer:

``calls wall_s self_s py4j_calls jobs tasks task_run_s task_cpu_s gc_s
shuffle_write_bytes input_bytes output_rows spill_bytes``

``wall_s`` and ``py4j_calls`` are inclusive (a span nested in a span of
the same layer is not counted twice); ``self_s`` excludes child spans;
job metrics count every job started under a span of the layer. Only
spans inside the given root spans count, so callers choose the timed
region (a pass, an update) the numbers describe.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

JOB_METRICS = (
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "input_bytes",
    "output_rows",
    "spill_bytes",
)
FAMILY = ("calls", "wall_s", "self_s", "py4j_calls", "jobs", *JOB_METRICS)
_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class EventLog:
    # job key -> job group (span id) and summed task metrics
    job_group: dict[tuple, str | None] = field(default_factory=dict)
    job_metrics: dict[tuple, dict[str, float]] = field(default_factory=dict)
    # job group -> bytes of files planned by CSV scans under that group
    csv_scan_bytes: dict[str | None, int] = field(default_factory=lambda: defaultdict(int))


def _task_metrics(ev: dict) -> dict[str, float]:
    m = ev.get("Task Metrics") or {}
    return {
        "tasks": 1,
        "task_run_s": m.get("Executor Run Time", 0) / 1e3,
        "task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "output_rows": (m.get("Output Metrics") or {}).get("Records Written", 0),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
    }


def _csv_size_accums(plan: dict, out: set[int]) -> None:
    if plan.get("nodeName", "").startswith("Scan csv"):
        out.update(m["accumulatorId"] for m in plan.get("metrics", []) if m["name"] == "size of files read")
    for child in plan.get("children", []):
        _csv_size_accums(child, out)


def parse_file(path: str, log: EventLog, tag: int = 0) -> EventLog:
    """Add one event-log file (one SparkContext) to ``log``. Job and
    stage ids restart per context, so keys carry ``tag``."""
    stage_job: dict[int, tuple] = {}
    exec_group: dict[int, str | None] = {}
    csv_accums: set[int] = set()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                key = (tag, ev["Job ID"])
                log.job_group[key] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                log.job_metrics[key] = dict.fromkeys(JOB_METRICS, 0.0)
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = key
            elif kind == "SparkListenerTaskEnd":
                key = stage_job.get(ev["Stage ID"])
                if key is not None:
                    acc = log.job_metrics[key]
                    for k, v in _task_metrics(ev).items():
                        acc[k] += v
            elif kind == _SQL + "SparkListenerSQLExecutionStart":
                exec_group[ev["executionId"]] = ev.get("jobGroupId")
                _csv_size_accums(ev.get("sparkPlanInfo", {}), csv_accums)
            elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                _csv_size_accums(ev.get("sparkPlanInfo", {}), csv_accums)
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                group = exec_group.get(ev["executionId"])
                for acc_id, value in ev.get("accumUpdates", []):
                    if acc_id in csv_accums:
                        log.csv_scan_bytes[group] += int(value)
    return log


def parse_dir(directory: str) -> EventLog:
    """Parse every event-log file in ``directory`` (one per context)."""
    log = EventLog()
    for tag, path in enumerate(sorted(glob.glob(os.path.join(directory, "*")))):
        if os.path.isfile(path):
            parse_file(path, log, tag)
    return log


def subtree(spans: list[dict], roots: set[str]) -> dict[str, dict]:
    """Spans that are roots or descend from one, by id (spans are
    recorded in open order, so a parent precedes its children)."""
    keep: dict[str, dict] = {}
    for s in spans:
        if s["sid"] in roots or s["parent"] in keep:
            keep[s["sid"]] = s
    return keep


def layer_family(spans: list[dict], log: EventLog, roots: set[str]) -> dict[str, dict[str, float]]:
    """Per-layer totals over the subtrees of ``roots``."""
    by_id = subtree(spans, roots)
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FAMILY, 0.0))
    child_time: dict[str, float] = defaultdict(float)
    for s in by_id.values():
        if s["parent"] in by_id:
            child_time[s["parent"]] += s["t1"] - s["t0"]

    def ancestors(sid: str):
        while sid in by_id:
            yield by_id[sid]
            sid = by_id[sid]["parent"]

    for s in by_id.values():
        fam = out[s["layer"]]
        fam["calls"] += 1
        fam["self_s"] += (s["t1"] - s["t0"]) - child_time[s["sid"]]
        if not any(a["layer"] == s["layer"] for a in ancestors(s["parent"])):
            fam["wall_s"] += s["t1"] - s["t0"]
            fam["py4j_calls"] += s["py4j1"] - s["py4j0"]
    for key, group in log.job_group.items():
        if group not in by_id:
            continue
        for layer in {a["layer"] for a in ancestors(group)}:
            fam = out[layer]
            fam["jobs"] += 1
            for k, v in log.job_metrics[key].items():
                fam[k] += v
    return dict(out)


def csv_bytes_under(spans: list[dict], log: EventLog, roots: set[str]) -> int:
    """Bytes CSV scans planned to read under the subtrees of ``roots``."""
    by_id = subtree(spans, roots)
    return sum(v for g, v in log.csv_scan_bytes.items() if g in by_id)
