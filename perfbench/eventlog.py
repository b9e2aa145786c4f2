"""Parser for Spark's JSON-lines event log.

Jobs are attributed to the job group in their start event's properties;
stages and tasks inherit their job's group. ``by_group`` returns the
scheduler counts and task metrics per group, with ``""`` for jobs that
ran outside any group.
"""

from __future__ import annotations

import json
from pathlib import Path

MB = 1024 * 1024


def _empty() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "cpu_s": 0.0,
        "gc_s": 0.0,
        "run_s": 0.0,
        "shuffle_write_mb": 0.0,
        "spill_mb": 0.0,
        "output_mb": 0.0,
        "task_skew": 0.0,
    }


def read_events(path: str | Path):
    """Yield the events of one log file; a truncated last line (a log
    still being written) is skipped."""
    with open(path) as f:
        for line in f:
            try:
                yield json.loads(line)
            except ValueError:
                continue


def by_group(events) -> dict[str, dict]:
    """Scheduler counts and task metrics per job group.

    ``task_skew`` is max ÷ mean executor run time over the tasks of the
    group's heaviest stage (largest summed run time) that has at least
    two tasks; 1.0 means perfectly even tasks."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    stage_runs: dict[tuple[str, int], list[float]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out.setdefault(group, _empty())["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            out.setdefault(stage_group.get(sid, ""), _empty())["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            group = stage_group.get(sid, "")
            g = out.setdefault(group, _empty())
            m = ev.get("Task Metrics") or {}
            g["tasks"] += 1
            g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            run = m.get("Executor Run Time", 0) / 1e3
            g["run_s"] += run
            g["shuffle_write_mb"] += (
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
            )
            g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            g["output_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
            stage_runs.setdefault((group, sid), []).append(run)
    heaviest: dict[str, list[float]] = {}
    for (group, _), runs in stage_runs.items():
        if len(runs) >= 2 and sum(runs) > sum(heaviest.get(group, [])):
            heaviest[group] = runs
    for group, runs in heaviest.items():
        mean = sum(runs) / len(runs)
        out[group]["task_skew"] = max(runs) / mean if mean > 0 else 1.0
    return out


def merge(groups: list[dict]) -> dict:
    """Sum several groups' figures; ``task_skew`` takes the maximum."""
    tot = _empty()
    for g in groups:
        for k, v in g.items():
            tot[k] = max(tot[k], v) if k == "task_skew" else tot[k] + v
    return tot


def parse_dir(path: str | Path) -> dict[str, dict]:
    """``by_group`` over every event log file under ``path``."""
    events = []
    for f in sorted(Path(path).rglob("*")):
        if f.is_file() and not f.name.startswith("."):
            events.extend(read_events(f))
    return by_group(events)
