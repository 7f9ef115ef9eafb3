"""Per-job timeline of a local Spark event log.

Prints one line per Spark job, in submission order: its start (seconds since
the first printed job started), the driver gap before it (time since the
previous job ended, 0 when jobs overlap), its duration, the task-seconds of
its stages and the name of its last stage; then a total line with the number
of jobs and the summed gaps, durations and task-seconds. Many short jobs with
long gaps between them mean the run pays fixed per-job cost, not work.

    python tools/job_timeline.py <uncompressed event log> [job group]

Enable the log with ``spark.eventLog.enabled=true``,
``spark.eventLog.compress=false`` and ``spark.eventLog.dir=file://<dir>``
(for example through ``SPARK_GRAFT_EXTRA_CONF``, see session.py). With a job
group, only jobs submitted under that ``setJobGroup`` id are printed and gaps
are measured between those jobs. ``perfbench/eventlog.py`` gives per-group
totals of the same log.
"""

from __future__ import annotations

import json
import sys


def read_jobs(path: str, group: str | None = None) -> list[dict]:
    """Event log → jobs in submission order: id, group, start/end (ms epoch),
    task_s and the name of the job's last stage. Tasks count for the first job
    that lists their stage."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            event = json.loads(line)
            kind = event["Event"]
            if kind == "SparkListenerJobStart":
                props = event.get("Properties") or {}
                stages = event.get("Stage Infos") or []
                jid = event["Job ID"]
                jobs[jid] = {
                    "id": jid,
                    "group": props.get("spark.jobGroup.id"),
                    "start": event["Submission Time"],
                    "end": None,
                    "task_s": 0.0,
                    "stage": stages[-1]["Stage Name"] if stages else "",
                }
                for sid in event.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if event["Job ID"] in jobs:
                    jobs[event["Job ID"]]["end"] = event["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                m = event.get("Task Metrics")
                jid = stage_job.get(event["Stage ID"])
                if m and jid is not None:
                    jobs[jid]["task_s"] += m["Executor Run Time"] / 1000.0
    out = sorted(jobs.values(), key=lambda j: (j["start"], j["id"]))
    if group is not None:
        out = [j for j in out if j["group"] == group]
    return out


def format_timeline(jobs: list[dict]) -> str:
    lines = [f"{'job':>5} {'start_s':>8} {'gap_s':>7} {'dur_s':>7} {'task_s':>8}  stage"]
    if not jobs:
        return "\n".join(lines + ["total: 0 jobs"])
    t0 = jobs[0]["start"]
    prev_end = t0
    gaps = durs = task = 0.0
    for j in jobs:
        end = j["end"] if j["end"] is not None else j["start"]
        gap = max(0.0, (j["start"] - prev_end) / 1000.0)
        dur = (end - j["start"]) / 1000.0
        gaps, durs, task = gaps + gap, durs + dur, task + j["task_s"]
        prev_end = max(prev_end, end)
        lines.append(
            f"{j['id']:>5} {(j['start'] - t0) / 1000.0:>8.3f} {gap:>7.3f} "
            f"{dur:>7.3f} {j['task_s']:>8.3f}  {j['stage']}"
        )
    span = (prev_end - t0) / 1000.0
    lines.append(
        f"total: {len(jobs)} jobs, span {span:.3f} s, gaps {gaps:.3f} s, "
        f"job time {durs:.3f} s, task {task:.3f} s"
    )
    return "\n".join(lines)


if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        sys.exit("usage: python tools/job_timeline.py <event-log-file> [job-group]")
    print(format_timeline(read_jobs(sys.argv[1], sys.argv[2] if len(sys.argv) == 3 else None)))
