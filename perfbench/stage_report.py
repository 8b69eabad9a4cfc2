"""Per-job-group Spark metrics from an event log.

Every job the traced run launches carries a job group
``<workload>/<op>/<phase>``. This module folds the log's job and task
events into per-group totals: jobs, job wall time, tasks, task run
time, GC time, shuffle read and write bytes and spilled bytes. Jobs
without a group are reported under ``UNGROUPED``.

Usage: python3 perfbench/stage_report.py <event-log-file>
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict

UNGROUPED = "UNGROUPED"
FIELDS = (
    "jobs", "job_s", "tasks", "task_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def report(path: str) -> dict[str, dict[str, float]]:
    groups: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    stage_group: dict[int, str] = {}
    job_start: dict[int, tuple[str, int]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or UNGROUPED
                job_start[ev["Job ID"]] = (g, ev["Submission Time"])
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
                groups[g]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                g, t0 = job_start.get(ev["Job ID"], (UNGROUPED, ev["Completion Time"]))
                groups[g]["job_s"] += (ev["Completion Time"] - t0) / 1000.0
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"], UNGROUPED)
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                acc = groups[g]
                acc["tasks"] += 1
                acc["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                acc["shuffle_read_bytes"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                )
                acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                acc["spill_bytes"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                )
    return dict(groups)


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    rows = report(sys.argv[1])
    print(f"{'group':<60} " + " ".join(f"{k:>12}" for k in FIELDS))
    for g in sorted(rows, key=lambda g: -rows[g]["job_s"]):
        vals = " ".join(f"{rows[g][k]:>12.6g}" for k in FIELDS)
        print(f"{g:<60} {vals}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
