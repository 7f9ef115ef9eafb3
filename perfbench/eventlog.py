"""Per-job-group totals from a local Spark event log.

The benchmark tags every layer it calls with its own Spark job group
(``SparkContext.setJobGroup``) and turns on the event log through session
config (``spark.eventLog.enabled``, uncompressed). This module reads that
JSON-lines log back and sums the task metrics of every job in each group:
task time, shuffle write and read bytes, spill, records written, failed tasks
and the number of jobs.

Run it on its own to print the table for any uncompressed event log:

    python3 perfbench/eventlog.py <event-log-file>
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict

UNGROUPED = "(none)"

FIELDS = (
    "jobs",
    "tasks",
    "failed_tasks",
    "task_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "records_written",
)


def _empty() -> dict:
    return {f: 0 for f in FIELDS}


def read_groups(path: str) -> dict[str, dict]:
    """Event log file → ``{job_group: {field: total}}`` for every field in FIELDS.

    Tasks are attributed to the job group of the job that submitted their
    stage; a stage shared by two jobs counts for the first one only. Jobs run
    without a group land under ``UNGROUPED``.
    """
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(_empty)
    with open(path) as f:
        for line in f:
            event = json.loads(line)
            kind = event["Event"]
            if kind == "SparkListenerJobStart":
                props = event.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or UNGROUPED
                groups[group]["jobs"] += 1
                for sid in event.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(event["Stage ID"], UNGROUPED)]
                g["tasks"] += 1
                if event["Task End Reason"]["Reason"] != "Success":
                    g["failed_tasks"] += 1
                m = event.get("Task Metrics")
                if not m:
                    continue
                g["task_s"] += m["Executor Run Time"] / 1000.0
                g["spill_bytes"] += m["Disk Bytes Spilled"]
                g["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                read = m["Shuffle Read Metrics"]
                g["shuffle_read_bytes"] += read["Remote Bytes Read"] + read["Local Bytes Read"]
                g["records_written"] += m["Output Metrics"]["Records Written"]
    return dict(groups)


def format_table(groups: dict[str, dict]) -> str:
    head = ["group"] + list(FIELDS)
    rows = [head]
    for name in sorted(groups):
        g = groups[name]
        rows.append([name] + [f"{g[f]:.3f}" if f == "task_s" else str(g[f]) for f in FIELDS])
    widths = [max(len(r[i]) for r in rows) for i in range(len(head))]
    return "\n".join("  ".join(c.rjust(w) for c, w in zip(r, widths)) for r in rows)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: python3 perfbench/eventlog.py <event-log-file>")
    print(format_table(read_groups(sys.argv[1])))
